"""Knob audit: every defaulted parameter of a public package function is
passed by some call site, or carries a reason on record.

A parameter nothing passes is a constant written as an option: it doubles
what the tests and the benchmark would have to cover, and none of them
does. The audit reuses ``test_caller_audit``'s AST resolver. A parameter
counts as passed when a call passes it by keyword or by position, or when
the call forwards ``*args``/``**kwargs``. A function used as a value (handed
to another function, stored in a table) counts as passing all of its
parameters, since what calls it cannot be seen. Functions registered in the
query registry by ``@q`` are the ``__spark_entry__.py`` surface and are
not audited."""

from __future__ import annotations

import ast
from pathlib import Path

from tests.test_caller_audit import PKG, PKG_NAME, REPO, _module_key, _public_defs, _resolve, _sources

#: ``module.function(param)`` → why the parameter stays without a caller.
#: Column-name parameters (``*_col``) are exempt by rule: they name the
#: caller's schema, not a behaviour.
_QUERY_NAME = "stream query name; a deployment setting that names the query in the Spark UI"
WHITELIST = {
    "operators.similarity.assign_ivf_buckets(centroid_id)": "column name of the centroid table",
    "operators.similarity.assign_ivf_buckets(centroid_vec)": "column name of the centroid table",
    "streaming.run_incremental_exact_dedup_stream(query_name)": _QUERY_NAME,
    "streaming.run_incremental_semantic_dedup_stream(query_name)": _QUERY_NAME,
    "operators.skew.salted_join(salt_source)": "the choice between the two salts is open (ROADMAP direction E)",
    "streaming.tumbling_agg(watermark)": "append mode needs a watermark; its sibling stream operators take it from callers",
}


def _callers() -> list[Path]:
    return _sources(PKG, REPO / "tools", REPO / "perfbench", REPO / "bench.py",
                    REPO / "__spark_entry__.py", REPO / "tests")


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """``(position, name)`` of each defaulted parameter; keyword-only ones
    have no position."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    out = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
    out += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _passed(node: ast.AST, call: ast.Call | None, params: list[tuple[int | None, str]]) -> set[str]:
    """Names of ``params`` that one use of the function passes."""
    if call is None:  # used as a value
        return {name for _, name in params}
    if any(k.arg is None for k in call.keywords) or any(isinstance(a, ast.Starred) for a in call.args):
        return {name for _, name in params}
    by_kw = {k.arg for k in call.keywords}
    return {name for pos, name in params if name in by_kw or (pos is not None and pos < len(call.args))}


def _unpassed(def_files: list[Path], ref_files: list[Path], base: Path) -> set[str]:
    """``module.function(param)`` of every defaulted parameter no call site
    passes, column names excepted."""
    defs = {k: _defaulted(fn) for k, fn in _public_defs(def_files, base).items()}
    modules = {_module_key(p, base) for p in _sources(base)}
    passed: dict[str, set[str]] = {k: set() for k in defs}
    for path in ref_files:
        tree = ast.parse(path.read_text())
        call_of = {id(n.func): n for n in ast.walk(tree) if isinstance(n, ast.Call)}
        for node, key in _resolve(tree, path, base, modules):
            if key in defs:
                passed[key] |= _passed(node, call_of.get(id(node)), defs[key])
    return {
        f"{key}({name})"
        for key, params in defs.items()
        for _, name in params
        if name not in passed[key] and not name.endswith("_col")
    }


def test_every_defaulted_parameter_is_passed_or_has_a_reason():
    unpassed = _unpassed(_sources(PKG), _callers(), PKG)
    assert sorted(unpassed - set(WHITELIST)) == []


def test_whitelist_is_not_stale():
    """A whitelisted parameter that gained a caller, or no longer exists,
    must leave the whitelist."""
    unpassed = _unpassed(_sources(PKG), _callers(), PKG)
    assert sorted(n for n in WHITELIST if n not in unpassed) == []
    assert all(reason.strip() for reason in WHITELIST.values())


def test_whitelist_holds_only_names_and_open_choices():
    """A new knob gets a caller or becomes a constant, not a whitelist
    entry: the whitelist holds column names, stream query names, and the
    two choices a caller must still be able to make."""
    allowed = {"centroid_id", "centroid_vec", "query_name", "salt_source", "watermark"}
    assert {n[n.index("(") + 1:-1] for n in WHITELIST} <= allowed


def test_planted_unpassed_parameter_is_flagged(tmp_path):
    """Red case: a defaulted parameter no call passes is flagged; one passed
    by keyword, one by position, one forwarded through ``**kw`` and the
    parameters of a function handed on as a value are not. A column name
    is exempt."""
    base = tmp_path / PKG_NAME
    (base / "operators").mkdir(parents=True)
    planted = base / "operators" / "planted.py"
    planted.write_text(
        "def op(df, by_kw=1, by_pos=2, never=3, key_col='k', *, kw_never=4):\n"
        "    return df\n"
        "\n"
        "def fwd(df, opt=1):\n"
        "    return df\n"
        "\n"
        "def handed(df, knob=1):\n"
        "    return df\n"
        "\n"
        "def apply(fn, df):\n"
        "    return fn(df)\n"
    )
    caller = base / "caller.py"
    caller.write_text(
        f"from {PKG_NAME}.operators import planted as P\n"
        f"from {PKG_NAME}.operators.planted import apply, fwd, handed, op\n"
        "\n"
        "def run(df, **kw):\n"
        "    op(df, by_kw=5)\n"
        "    P.op(df, 1, 6)\n"
        "    fwd(df, **kw)\n"
        "    return apply(handed, df)\n"
    )
    got = _unpassed([planted], [planted, caller], base)
    assert got == {"operators.planted.op(never)", "operators.planted.op(kw_never)"}
    # the real audit sees the same plant: a never-passed knob added to an
    # operator module is flagged
    real = PKG / "operators" / "dedup.py"
    copy = base / "operators" / "dedup.py"
    copy.write_text(real.read_text() + "\n\ndef planted_knob(df, knob=1):\n    return df\n")
    uses = base / "uses.py"
    uses.write_text(f"from {PKG_NAME}.operators.dedup import planted_knob\n\nplanted_knob(None)\n")
    assert "operators.dedup.planted_knob(knob)" in _unpassed([copy], [copy, uses], base)


def test_stale_whitelist_entry_is_caught(tmp_path):
    """Red case for the stale check: a whitelisted parameter that gains a
    caller, or whose function is gone, leaves the unpassed set, so
    ``test_whitelist_is_not_stale`` fails on it."""
    base = tmp_path / PKG_NAME
    base.mkdir()
    mod = base / "mod.py"
    mod.write_text("def f(df, query_name='q'):\n    return df\n")
    caller = base / "caller.py"
    caller.write_text(f"from {PKG_NAME}.mod import f\n\nf(None)\n")
    assert _unpassed([mod], [mod, caller], base) == {"mod.f(query_name)"}
    caller.write_text(f"from {PKG_NAME}.mod import f\n\nf(None, query_name='x')\n")
    assert _unpassed([mod], [mod, caller], base) == set()
    mod.write_text("def g(df):\n    return df\n")
    assert _unpassed([mod], [mod, caller], base) == set()
