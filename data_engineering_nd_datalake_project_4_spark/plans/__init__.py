"""Plan inspection helpers: make the physical plan a testable artifact.

The 100-TB design rules (SURVEY.md §2.2, BASELINE.json) are assertions
about PLANS, not results: filters must reach the parquet scan, dimension
joins must broadcast, top-k must compile to TakeOrderedAndProject, hot
expressions must stay inside WholeStageCodegen. These helpers let tests
and bench pin those properties so a regression in plan shape fails CI
even while results stay correct.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section(s) of the formatted plan."""
    plan = explain_str(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "PushedFilters" in line)


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    """True if some predicate on ``column`` reached the data source scan."""
    return column in pushed_filters(df)


def read_schema(df: DataFrame) -> str:
    plan = explain_str(df)
    return "\n".join(line.strip() for line in plan.splitlines() if "ReadSchema" in line)


def scan_is_pruned(df: DataFrame, table_cols: int) -> bool:
    """True if every scan reads fewer columns than the full table width.

    Counts top-level fields inside the ``struct<...>`` body (commas at
    nesting depth 0 + 1) — counting colons would include the ``ReadSchema:``
    label itself and every nested-struct field.
    """
    lines = read_schema(df).splitlines()
    if not lines:
        return False
    for line in lines:
        start = line.find("struct<")
        if start == -1:
            return False
        body = line[start + len("struct<"):]
        depth, fields = 0, 1
        for ch in body:
            if ch == "<":
                depth += 1
            elif ch == ">":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                fields += 1
        # formatted explain truncates long ReadSchema lines with "..." —
        # a truncated list is necessarily >= the visible field count, which
        # is the conservative direction for this check
        if fields >= table_cols:
            return False
    return True


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df, "simple")


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in explain_str(df, "simple")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — zero means everything fell
    back to interpreted mode. Uses the ``codegen`` explain mode because an
    un-executed AQE plan doesn't annotate codegen stages in ``simple``.

    ORDER-SENSITIVE: must be the FIRST planning performed on ``df``. A
    DataFrame caches its queryExecution at first explain/plan access; if
    that happened with AQE on, the cached plan is an un-executed
    AdaptiveSparkPlan whose codegen explain reports 0 subtrees, and the
    AQE flip below can no longer help. Call this on a freshly-built
    frame (tools/plan_lint.py rebuilds one for exactly this reason)."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        # AQE hides codegen stages behind AdaptiveSparkPlan until execution;
        # plan once without it for inspection only
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        out = explain_str(df, "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    for line in out.splitlines():
        if "WholeStageCodegen subtrees" in line:  # "Found N WholeStageCodegen subtrees."
            for tok in line.split():
                if tok.isdigit():
                    return int(tok)
    return 0


def shuffle_count(df: DataFrame) -> int:
    """Exchange nodes in the plan = shuffle boundaries. The scale budget
    for every operator is 'as few as the semantics require'."""
    plan = explain_str(df, "simple")
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def _cardinality_bounded(node) -> bool:
    """True if ``node``'s output row count is bounded by a CONSTANT
    (independent of input data size) — the property that makes a
    single-task global window safe.

    - Limit nodes bound their subtree by the limit constant.
    - A global (no-key) Aggregate emits exactly one row.
    - Unary nodes preserve their child's bound (a Filter/Project over
      <= k rows is <= k rows).
    - A Join of two constant-bounded sides is bounded by the product of
      the constants — still a constant. A Limit on only ONE branch does
      NOT bound the join (the other side scales with the data), which is
      the false negative this recursion exists to close: a Limit on an
      unrelated branch must not sanction the window.
    - A Union is bounded iff EVERY child is bounded.
    - Fan-out nodes (Generate/explode, Expand for rollup/cube) multiply
      rows by a DATA-DEPENDENT factor (array length, grouping-set count
      times values) — a limit(k) below them does NOT bound their output
      by a constant, so they are unbounded regardless of their child.
    - Leaves (scans) scale with the data: unbounded.
    """
    name = node.nodeName()
    if name in ("GlobalLimit", "LocalLimit", "Limit"):
        return True
    if name == "Aggregate" and node.groupingExpressions().isEmpty():
        return True
    if name in ("Generate", "Expand"):
        return False
    n = node.children().size()
    if n == 0:
        # LocalRelation of literals is a compile-time constant
        return name == "LocalRelation"
    return all(_cardinality_bounded(node.children().apply(i)) for i in range(n))


def global_window_sites(df: DataFrame) -> list[str]:
    """Unpartitioned Window nodes over an UNBOUNDED input — the q160 class
    of scale bug: ``Window.orderBy(...)`` without ``partitionBy`` funnels
    every input row through ONE task, which is invisible at test SF and
    fatal at 100 TB.

    Walks the optimized logical plan (py4j); a Window with an empty
    partitionSpec is flagged unless its INPUT cardinality is bounded by a
    constant — the sanctioned limit-then-rank idiom (top-k via
    TakeOrderedAndProject FIRST, then the rank window over <= k rows; see
    bm25_topk and q160). Boundedness is computed structurally
    (``_cardinality_bounded``): a Limit on an unrelated join/union branch
    does NOT sanction the window.

    Returns one short description per offending node (empty = clean).
    """
    sites: list[str] = []
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            if not _cardinality_bounded(node.children().apply(0)):
                sites.append(node.simpleString(120))
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return sites


import re as _re

#: column names that denote RAW WIDE PAYLOADS — document text and its
#: direct derivatives. A shuffle whose rows carry one of these moves the
#: corpus itself across the network; at 100 TB that is the difference
#: between "shuffles keys" (GBs) and "shuffles the dataset" (the full
#: 100 TB, per shuffle). Hash/key/id columns never match.
_WIDE_STRING_RE = _re.compile(
    r"(^|_)(text|paragraph|content|body|chunk|sentence|page|html|doc)s?\d*($|_)",
    _re.IGNORECASE,
)

#: the wide-name vocabulary for text-derived columns (token/gram lists
#: are as wide as the text they came from — the q141 lesson is to hash
#: them INSIDE the fan-out projection, before any exchange). Since round
#: 11 this is a NAMING-HYGIENE convention only for arrays:
#: ``array<string>`` payloads are flagged by TYPE (every one is wide
#: unless the caller proves otherwise — see :func:`wide_shuffle_sites`'s
#: ``narrow_string_arrays``), exactly like float vectors. Only plain
#: STRING columns remain name-detected: a string's width is not visible
#: in its type (an id string vs a document), so ``_WIDE_STRING_RE`` names
#: the document-shaped stems.
_WIDE_TOKEN_RE = _re.compile(
    r"(^|_)(token|tok|word|gram|shingle|term|para|sent)s?\d*($|_)",
    _re.IGNORECASE,
)


def _wide_attr(attr, narrow_string_arrays: frozenset = frozenset()) -> str | None:
    """Describe ``attr`` if it is a wide payload column, else None.

    ``array<float|double>`` and ``array<string>`` are wide BY TYPE — the
    round-10 advice hole was that string arrays were name-detected, so
    an ``alias("items")`` token array slipped past the audit in code the
    registry vocabulary test never sees. An array<string> the caller has
    PROVEN narrow (bounded element count/length at the site) is exempted
    by listing its name in ``narrow_string_arrays`` — an explicit,
    reviewable act, not a naming accident."""
    dt = attr.dataType()
    tn = dt.typeName()
    name = attr.name()
    if tn == "string" and _WIDE_STRING_RE.search(name):
        return f"{name}:string"
    if tn == "array":
        et = dt.elementType().typeName()
        if et in ("float", "double"):
            # embedding vectors: ~KBs per row; must ride at most the
            # bounded per-id rescore join, never the candidate fan-out
            return f"{name}:array<{et}>"
        if et == "string" and name not in narrow_string_arrays:
            return f"{name}:array<string>"
    return None


def wide_shuffle_sites(
    df: DataFrame, narrow_string_arrays: frozenset = frozenset()
) -> list[str]:
    """KEYED shuffle Exchange nodes whose PAYLOAD carries a wide column —
    raw document text (a text-named string), ANY ``array<string>`` (wide
    by type since round 11 — pass ``narrow_string_arrays={name, ...}`` to
    exempt a column PROVEN narrow at the call site, with the proof in a
    comment there), or a float vector.
    The single most important 100 TB property of a plan
    is what its shuffles carry: keys and hashes are GBs; text and vectors
    are the dataset. Every text/vector operator in this repo is designed
    to shuffle 64-bit hashes or (id, band_key) rows instead
    (dedup/minhash/simhash/span-scrub/semantic-dedup), so a keyed
    Exchange carrying one of these columns is either a bug or a
    deliberately whitelisted bounded join (see WIDE_SHUFFLE_BY_DESIGN in
    tests/test_plans.py — EMPTY by policy).

    Flags ``hashpartitioning`` / ``rangepartitioning`` /
    ``SinglePartition`` exchanges: those implement join/agg/sort
    semantics, so a wide payload rides the data-movement hot path (and a
    SinglePartition one serializes the corpus through ONE task).
    ``RoundRobinPartitioning`` exchanges are exempt: in this repo they
    come only from ``operators.ensure_map_parallelism`` — a deliberate,
    volume-bounded (each row moves exactly once, no fan-out)
    compute-spreading repartition that self-disables once the scan
    already yields enough splits, i.e. always at 100 TB.

    Inspects the PRE-AQE initial physical plan (``executedPlan`` →
    ``AdaptiveSparkPlan.initialPlan`` — ``sparkPlan`` predates
    EnsureRequirements, so join/agg exchanges don't exist there yet) so
    broadcast decisions reflect Catalyst's static choice at the test SF;
    a join that broadcasts at test scale but would shuffle at 100 TB is
    out of this audit's reach (same accepted limitation as the window
    audits) — the per-site structural guards cover those shapes.

    The FINAL presentation sort is exempt: a root-spine
    ``Sort → Exchange rangepartitioning`` is the result contract's own
    ORDER BY — "return the transformed corpus ordered by id" moves each
    output row exactly once through a TeraSort-shaped range shuffle,
    which is the correct distributed plan for that ask. Only the
    OUTERMOST such sort (reached from the root through unary
    Project/Filter/Limit nodes) qualifies; a range sort feeding further
    joins/aggregates/windows still flags.

    Returns one description per (exchange, wide column) pair.
    """
    sites: list[str] = []
    top = df._jdf.queryExecution().executedPlan()
    if top.nodeName() == "AdaptiveSparkPlan":
        top = top.initialPlan()

    # locate the presentation-sort exchange on the root unary spine
    presentation_exchange = None
    node, seen_sort = top, False
    _spine = {"Project", "Filter", "GlobalLimit", "LocalLimit", "CollectLimit"}
    while True:
        name = node.nodeName()
        if name == "Sort":
            seen_sort = True
        elif name == "Exchange":
            if seen_sort and "rangepartitioning" in node.simpleString(150):
                presentation_exchange = node.id()  # unique per plan node
            break
        elif name not in _spine:
            break
        if node.children().size() != 1:
            break
        node = node.children().apply(0)

    stack = [top]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange" and node.id() != presentation_exchange:
            sig = node.simpleString(150)
            if "RoundRobinPartitioning" not in sig:
                out = node.output()
                for i in range(out.size()):
                    desc = _wide_attr(out.apply(i), narrow_string_arrays)
                    if desc:
                        sites.append(f"{desc} rides {sig}")
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return sites


def observed_shuffle_bytes(df: DataFrame) -> dict:
    """MEASURED shuffle volume for one execution of ``df``'s plan — the
    quantity the shape audits can only bound, not observe. Plan audits
    pin WHAT a shuffle carries; this pins HOW MUCH it moved, so a lane
    can assert "shuffle bytes grow no faster than rows" as a number
    (VERDICT r9 task 3) instead of an argument.

    Reads the SQLMetrics off the post-execution adaptive plan (the same
    py4j walk as the audits, descending through AQE QueryStage
    wrappers): per non-broadcast Exchange, ``shuffleBytesWritten`` and
    the read side ``localBytesRead + remoteBytesRead`` (in local mode
    everything is local; on a cluster the split shifts, the sum is the
    volume). ReusedExchange nodes and repeat visits of the same stage
    object are skipped — a reused shuffle moves its bytes once.

    The plan is materialized first via an RDD-level count over
    ``executedPlan().execute()`` — every partition computes, nothing
    ships to Python (``collect`` would pay row transfer; ``df.count()``
    builds a DIFFERENT pruned plan and its metrics would describe the
    wrong query — the CLAUDE.md trap).

    RoundRobinPartitioning exchanges are totaled SEPARATELY
    (``roundrobin_written``): in this repo they come only from
    ``ensure_map_parallelism`` — a volume-bounded compute spread that
    self-disables once a real scan yields enough splits, i.e. always at
    100 TB — so including them in the keyed totals would let test-SF
    plumbing drown the signal the gate watches (the same structural
    exemption as :func:`wide_shuffle_sites`).

    Returns ``{"written", "read", "records", "exchanges",
    "roundrobin_written", "per_exchange"}`` where per_exchange lists
    each KEYED exchange's ``{"written", "records"}`` in a deterministic
    plan-walk order — the same query at two scale points yields
    position-aligned lists, so a lane can compare per-exchange payload
    width across a decade without mix-shift confounds.
    """
    jdf_plan = df._jdf.queryExecution().executedPlan()
    jdf_plan.execute().count()

    totals: dict = {
        "written": 0,
        "read": 0,
        "records": 0,
        "exchanges": 0,
        "roundrobin_written": 0,
        "per_exchange": [],
    }
    seen: set[int] = set()
    stack = [jdf_plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if node.id() in seen or name == "ReusedExchange":
            continue
        seen.add(node.id())
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if name == "Exchange":  # shuffle (BroadcastExchange prints as such)
            vals = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            written = max(vals.get("shuffleBytesWritten", 0), 0)
            if "RoundRobinPartitioning" in node.simpleString(120):
                totals["roundrobin_written"] += written
            else:
                totals["written"] += written
                totals["read"] += max(vals.get("localBytesRead", 0), 0) + max(
                    vals.get("remoteBytesRead", 0), 0
                )
                records = max(vals.get("shuffleRecordsWritten", 0), 0)
                totals["records"] += records
                totals["exchanges"] += 1
                totals["per_exchange"].append(
                    {"written": written, "records": records}
                )
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    # the walk order is a deterministic function of the plan tree; sort
    # by (records, written) anyway so two scale points align even if AQE
    # stages materialize in a different traversal order
    totals["per_exchange"].sort(key=lambda e: (e["records"], e["written"]))
    return totals


def unvocabularied_string_array_shuffle_payloads(df: DataFrame) -> list[str]:
    """The other half of the wide-payload audit's naming convention:
    every ``array<string>`` column riding a keyed exchange that does NOT
    match the wide-name vocabulary (``_WIDE_TOKEN_RE``/``_WIDE_STRING_RE``).

    ``wide_shuffle_sites`` detects string payloads by NAME, so a token
    array aliased ``items``/``vals``/``__tmp`` would escape both audit
    tiers. This helper makes such an escape VISIBLE: the repo-wide test
    (tests/test_plans.py::test_wide_name_vocabulary_convention) asserts
    that the registry has zero unvocabularied array<string> shuffle
    payloads beyond an explicitly-reviewed narrow whitelist — so adding
    one is a deliberate, reviewed act, not a silent audit bypass.

    Same keyed-exchange walk and exemptions (RoundRobin, presentation
    sort is irrelevant here — a range presentation sort carrying an
    array<string> still reports, since the caller decides narrowness).
    Returns one ``name rides <exchange sig>`` entry per (exchange,
    column) pair.
    """
    sites: list[str] = []
    top = df._jdf.queryExecution().executedPlan()
    if top.nodeName() == "AdaptiveSparkPlan":
        top = top.initialPlan()
    stack = [top]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange":
            sig = node.simpleString(150)
            if "RoundRobinPartitioning" not in sig:
                out = node.output()
                for i in range(out.size()):
                    attr = out.apply(i)
                    dt = attr.dataType()
                    if (
                        dt.typeName() == "array"
                        and dt.elementType().typeName() == "string"
                        and not _WIDE_TOKEN_RE.search(attr.name())
                        and not _WIDE_STRING_RE.search(attr.name())
                    ):
                        sites.append(f"{attr.name()} rides {sig}")
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return sites


def rowwise_python_sites(df: DataFrame) -> list[str]:
    """Row-at-a-time Python evaluation nodes (``BatchEvalPython`` /
    ``BatchEvalPythonUDTF``) — the pickle-per-row slow path, 10-100×
    behind Arrow-batched evaluation on the same logic. The repo's Python
    surfaces are vectorized by construction (``ArrowEvalPython`` pandas
    UDFs, ``FlatMapGroupsInPandas``/``MapInPandas`` appliers); a
    BatchEvalPython node in a registry plan is either a bug (``F.udf``
    where a built-in or ``@pandas_udf`` fits) or a deliberately
    whitelisted API-surface demo (see ROWWISE_PYTHON_BY_DESIGN in
    tests/test_plans.py). Same pre-AQE initial-plan walk as
    :func:`wide_shuffle_sites`.
    """
    sites: list[str] = []
    top = df._jdf.queryExecution().executedPlan()
    if top.nodeName() == "AdaptiveSparkPlan":
        top = top.initialPlan()
    stack = [top]
    while stack:
        node = stack.pop()
        if "BatchEvalPython" in node.nodeName():
            sites.append(node.simpleString(150))
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    return sites


#: aggregate window functions for which a peer-inclusive RANGE running
#: frame is almost always the DEFAULT-frame trap, not a choice
_RUNNING_AGG_FNS = {
    "sum", "count", "avg", "min", "max", "first", "last",
    "collect_list", "collect_set", "stddev", "stddev_samp", "variance",
}

#: Spark's default frame for an ordered window, as printed in the plan
_DEFAULT_RANGE_SIG = (
    "specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$())"
)


def default_range_running_aggs(df: DataFrame) -> list[str]:
    """Aggregate window functions running on Spark's DEFAULT ordered-window
    frame — ``RANGE UNBOUNDED PRECEDING .. CURRENT ROW`` — the duprows
    trap: RANGE aggregates ALL order-key peers at once, so under duplicate
    keys (at-least-once feeds) a "running" sum jumps by every copy
    together where ROWS admits them one at a time, silently diverging
    from a ROWS-pinned oracle. Every running aggregate must pin
    ``.rowsBetween(Window.unboundedPreceding, Window.currentRow)`` (or a
    deliberate rangeBetween, which prints explicit bounds, not this
    signature).

    Ranking/distribution functions (``cume_dist``, ``percent_rank``) are
    NOT flagged: peer-inclusion is their SQL definition, identical in
    both engines. Returns the offending function names (empty = clean).
    """
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    out: list[str] = []
    # each window expression prints as "fn(args...) windowspecdefinition(...)";
    # both paren groups are depth-counted, so arbitrarily nested argument
    # expressions (e.g. sum(cast(abs(x) as bigint))) are handled — a
    # one-level regex would silently skip them (false negative)
    marker = " windowspecdefinition("
    pos = plan.find(marker)
    while pos != -1:
        # backward scan: match the function call's closing paren just
        # before the space, depth-count back to its opening paren, then
        # read the identifier immediately before it
        fn = None
        if pos > 0 and plan[pos - 1] == ")":
            depth, j = 0, pos - 1
            while j >= 0:
                ch = plan[j]
                if ch == ")":
                    depth += 1
                elif ch == "(":
                    depth -= 1
                    if depth == 0:
                        break
                j -= 1
            if j > 0:
                k = j
                while k > 0 and (plan[k - 1].isalnum() or plan[k - 1] == "_"):
                    k -= 1
                fn = plan[k:j]
        # forward scan: the frame spec is inside THIS windowspecdefinition's
        # parens — depth-count to its closing paren
        start = pos + len(marker) - 1
        depth, i = 0, start
        for i in range(start, len(plan)):
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
        spec = plan[start : i + 1]
        if fn and _DEFAULT_RANGE_SIG in spec and fn.lower() in _RUNNING_AGG_FNS:
            out.append(fn)
        pos = plan.find(marker, pos + 1)
    return out
