"""Regen-robustness soak: rerun the strict driver-sim against adversarial
re-materializations of the sf0.01 testdata.

The driver regenerates testdata every round, and every historical driver-gate
failure was regen-induced: decimal rendering, ROUND half-boundaries, and the
events.ts TIMESTAMP(NANOS)/(MICROS) physical-type flip. This soak builds the
variants a hostile regen could produce and requires the FULL oracle contract
to stay green on each:

- ``ts_micros`` / ``ts_nanos``: events.ts written with each parquet
  timestamp physical type (the shipped testdata only ever has one of them,
  so the other branch of ``catalog.load_table`` is otherwise untested
  against the full contract).
- ``half2`` : every money/value double forced onto a x.xx5 half-boundary
  (3 decimals ending in 5) — the worst case for any double→DECIMAL(18,2)
  cast or ROUND(x, 2): Spark rounds the shortest decimal string repr
  (HALF_UP), DuckDB rounds the binary double, and x.xx5 is where they can
  disagree.
- ``half4`` : the same at x.xxxx5 for the DECIMAL(18,4)/scale-4 class.
- ``rowshuffle`` : every table's rows deterministically permuted — a regen
  is free to emit any physical row order, so a query whose ORDER BY lacks
  a total tie-break (or whose window frames depend on input order) would
  hash-differently between regens; this variant catches it now.
- ``advtext`` : documents.text re-materialized adversarially — empty
  strings, single-token docs, multi-space runs with leading/trailing
  blanks, tab/newline whitespace inside tokens, and non-ASCII UTF-8
  multibyte (accented Latin, CJK, an astral-plane emoji). Every text-derived
  query (tokenize, quality, shingles, minhash/simhash, fingerprints,
  contamination) and its DuckDB oracle must agree on the degenerate and
  multibyte cases, not just the generator's space-separated ASCII.
  ``n_chars`` is recomputed as the codepoint length so the metadata stays
  generator-faithful.
- ``date32`` : the semantically-date columns (``l_shipdate`` /
  ``o_orderdate`` — shipped as midnight TIMESTAMP(MICROS)) re-written as
  parquet DATE32. A generator that starts emitting true dates changes
  Spark's read type to DateType and the oracle's to DATE: every date
  filter, range join, date_trunc/extract and interval comparison must
  agree under both physical types.
- ``int32`` : every int64 key/id column that fits is re-written as
  parquet INT32 (generators change integer widths freely). Spark then
  reads IntegerType where it saw LongType; the oracle reads INTEGER
  (whose SUM is HUGEINT). Joins, aggregates, modular arithmetic and
  rendering must all agree across the width flip.
- ``nulls`` : nullable non-key columns made ACTUALLY NULL on a
  deterministic id-modulo slice (documents.text/lang, events.value/props,
  customer.c_mktsegment/c_acctbal, embeddings.embedding — r11, the
  whole-vector class of the valid_vector contract; documents.n_chars
  nulled with its text). The shipped generator never emits NULLs, so
  NULL-vs-empty-string
  tokenization, SUM/AVG null-skip, NULL group keys, and Spark-NULLS-FIRST
  vs DuckDB-NULLS-LAST ordering defaults were all untested by regen —
  the last classic cross-engine traps.
- ``advembed`` : embeddings.embedding re-materialized adversarially —
  all-zero vectors (zero norms: cosine 0/0 paths), exact duplicates of the
  previous row (top-k tie-breaking), negated twins (cosine −1), constant
  vectors, values at 1e-20 (whose SQUARES underflow float32 to 0 —
  any engine computing the dot in float32 while the other promotes to
  double diverges here), EMPTY vectors (Spark sequence(1,0) descending
  trap → NULL folds), and NULL-ELEMENT vectors (Spark HOF folds
  NULL-propagate where DuckDB SUM-over-unnest null-skips into partial
  sums). Every similarity/ANN/k-means query and its oracle must agree
  on the degenerate geometry, not just the generator's well-conditioned
  gaussians.

- ``empty`` : every table sliced to ZERO rows (schema preserved). Not a
  regen shape — an operations shape: at 100 TB a day's partition, a
  filtered slice, or a cold-start feed is routinely empty, and the
  pipeline must return empty results (with the contract schema), not
  crash. This is where ANSI divide-by-zero on global aggregates,
  driver-side model fitting over zero vectors (k-means/IVF/PQ sampling),
  ``first()``-of-nothing stats, and empty-fan-out guards all live. Both
  engines must agree on the empty-input answer of every contract query.
  Opt-in by name in the default sweep (it IS in the default list).

- ``onerow`` : every table sliced to its FIRST row. The other degenerate
  ops shape: single-element groups/windows (percentile interpolation on
  one value, stddev of one sample -> NULL, lag/lead all-NULL), model fits
  over one vector (k < n_rows), and — because each table keeps only its
  own first row — broken referential integrity (joins that match nothing
  must agree as empties/NULL-completions, not diverge).

- ``advjson`` : events.props re-materialized adversarially — the shipped
  generator only ever emits ``{"k": <int>}``, so every JSON path
  (get_json_object casts, from_json map parses, VARIANT extraction,
  json_keys signatures) was untested against schema drift. Classes (by
  event_id % 12): empty object, explicit null value, different key,
  string-typed number, extra key, whitespace-padded, int32 overflow,
  bare ``null`` literal, array value, case-different key, float value,
  original. Cross-engine traps this space holds: Spark's ANSI
  string→int cast THROWS on '3.7' where a naive oracle TRY_CAST ROUNDS
  to 4; Spark's from_json(map<string,int>) nulls the WHOLE map when any
  value fails the type (DuckDB json_keys still lists keys); VARIANT
  long extraction truncates floats toward zero.

- ``skewkeys`` : hot-key DISTRIBUTION attack — every prior variant attacks
  values, types, or row multiplicity; this one attacks the key histogram,
  the shape that actually breaks 100 TB runs. One user_id owns ~50% of
  events (plus one event_type rewritten onto every even event_id — ~50%
  of rows plus the hot type's prior share), one customer owns ~50% of
  orders (o_custkey), one part owns ~50% of lineitem rows (l_partkey),
  one token ('the', interleaved after every token of 2/3 of documents)
  dominates the corpus, and one embedding label owns ~50% of vectors
  (skewed k-means/IVF cells). Primary ids stay unique, so every total
  ORDER BY tie-break still holds — any divergence is an operator whose
  SEMANTICS (not just speed) depend on key distribution: per-key windows,
  greatest-n-per-group, heavy hitters, BM25 idf of a stop-word-like term,
  span dedup over massive repeated-gram runs, single-cell ANN models.

- ``colshuffle`` : every table's physical column order permuted — a regen
  is free to emit any column order, so every reader (Spark schema'd scan,
  DuckDB view, operator projections) must bind by NAME, never position.

- ``addcols`` : additive schema evolution — two NEW columns appended to
  every table (``_extra_v2`` int, ``_extra_note`` string). The contract's
  output schemas must stay CLOSED: a SELECT-*-shaped passthrough on either
  engine side would leak the new columns into the compared frame and
  schema-mismatch (the realistic upstream-added-a-field regen).

- ``duprows`` : exact duplicate rows injected — every 7th row appended
  again verbatim plus a 5-copy hot clump of the first row (the
  at-least-once delivery / feed-replay ops shape). Duplicated ids make
  previously-total tie-breaks (ORDER BY ..., id) tie again; the contract
  is that ties between IDENTICAL rows are harmless (any rank/pick
  assignment yields the same output multiset), dedup operators treat the
  copies as one class, and per-row aggregates count instances — on BOTH
  engines identically.

- ``unicode`` : full-Unicode attack on the string surface — the classes
  where the JVM (Spark: Java full case mapping, codepoint strings) and
  utf8proc/RE2 (DuckDB: simple case mapping, grapheme-aware reverse,
  byte-based levenshtein) GENUINELY diverge, measured empirically:
  documents.text gains Turkish İ (U+0130: Spark lower → i+U+0307 TWO
  codepoints, DuckDB simple-maps → i), Greek final-sigma words (Spark
  lower applies the contextual Σ→ς rule, utf8proc doesn't), ß / ﬁ /
  titlecase-digraph ǅ, NFD combining sequences, RTL runs, ZWJ emoji
  families, fullwidth + astral-plane letters (n_chars recomputed as
  codepoint length); customer.c_name gains a per-class multibyte infix
  between 'Customer#' and the digits (tail digits and prefix preserved —
  the q22/q86 conventions hold). Cross-engine traps this space holds,
  and the oracle patterns that close them: UPPER over ß/ﬁ needs the
  full-casing pre-expansion (replace ß→ss, ﬁ→fi before DuckDB upper);
  reverse() must be emulated at codepoint granularity
  (list_reverse(regexp_extract_all(s, '.')) — DuckDB's native reverse
  keeps NFD/ZWJ grapheme clusters intact where Spark reverses raw
  codepoints); LOWER over İ needs replace('İ', 'i'||chr(775)) so the
  combining dot survives into downstream tokenization. Verified equal
  under the attack WITHOUT emulation: substring (incl. negative start),
  translate, position/locate, length (both codepoint counts), lpad/rpad,
  trim family, regexp classes, md5/hash families, binary collation
  ORDER BY. levenshtein is byte-based in DuckDB vs codepoint-based in
  Spark — equal-infix pairs (the only ones within any small threshold)
  agree, so q70's contract holds; a query comparing DIFFERENT multibyte
  strings at threshold >= 2 would need a UDF-side twin instead.

- ``longdoc`` : document-length attack — the shipped generator emits
  uniformly short docs, so every per-doc fan-out and every ratio-of-
  lengths metric was untested at outlier lengths. Five docs per sf0.01
  (doc_id % 1000 == 7) rotate four classes: a ~30k-char single token
  with ONE alpha char (its quality score lands at 9.9e-06 — in the
  sub-quantum window where DuckDB's scientific-notation→DECIMAL parse
  mis-rounds mantissas >= 5 up a full quantum, the round-6 trap made
  reachable; fixed by scale-then-quantize in text.quality_score and the
  q38/q58/q140 oracles), a 30k-token doc over a 7-word vocabulary
  (massive repeated-gram runs: span dedup, winnowing, LSH bucket
  stress), a 20k-token doc of all-unique tokens (vocabulary explosion:
  shingle arrays, signature builds, distinct counts), and a 50k-char
  whitespace-free blob (degenerate single-token tokenization).
  ``n_chars`` recomputed as codepoint length.

- ``raggeddim`` : mixed vector DIMENSIONS in embeddings (r11) — the
  mid-corpus embedding-model-switch feed drift (768→1024 upgrades are
  routine; partial backfills leave mixed-dim tables). vec_id % 9 == 7
  rows truncate to 32 dims; % 9 == 8 rows extend to 80 dims (original
  64 + 16 hash-deterministic extras). Cross-engine stakes: Spark
  ``zip_with`` PADS the shorter array with NULLs (pair kernels fold to
  NULL sim) while DuckDB ``list_dot_product``/``list_cosine_similarity``
  ERROR outright on length mismatch, and numpy kernels crash on ragged
  ``np.stack``. The contract this variant gates: pairwise vector
  semantics exist only for EQUAL dimensions (same-dim pairs compare;
  cross-dim pairs are non-candidates), model-based operators fix their
  dimension at train time and treat off-dim vectors as degenerate, and
  per-vector operators (sign-LSH banding, rp buckets) are well-defined
  at any dimension on both engines.

Usage: ``python tools/soak_regen.py [variant ...]`` (default: all).
Exit code = number of failing (variant, query) pairs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF_SRC = Path("/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: money/value double columns per table, forced onto half-boundaries
MONEY_COLS = {
    "lineitem": ["l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "events": ["value"],
}


def _force_half_boundary(col: pa.ChunkedArray, scale: int) -> pa.ChunkedArray:
    """floor to ``scale`` decimals, then add half an ulp at that scale:
    x -> floor(x·10^s)/10^s + 0.5/10^s. floor (not trunc) keeps negative
    balances (c_acctbal/s_acctbal) on the same .5-offset grid — every
    output sits on a half-boundary regardless of sign."""
    mul = 10.0**scale
    return pc.add(pc.divide(pc.floor(pc.multiply(col, mul)), mul), 0.5 / mul)


#: deterministic adversarial rewrites for documents.text, keyed by
#: doc_id % 11 (classes 6..10 keep the original text so the bulk of the
#: corpus — and every dedup/jaccard candidate pair — still exists).
def _advtext_rewrite(doc_id: int, text: str) -> str:
    cls = doc_id % 11
    if cls == 0:
        return ""  # empty document
    if cls == 1:
        return "solo"  # single token, no whitespace at all
    if cls == 2:
        # multi-space runs + leading/trailing blanks: split-on-' ' yields
        # empty tokens on both engines; counts must still agree
        return "  " + text.replace(" ", "   ", 5) + " "
    if cls == 3:
        # non-ASCII multibyte: accented Latin + CJK + astral-plane emoji
        return "héllo wörld 東京 データ naïve café résumé ありがとう 🙂"
    if cls == 4:
        # mixed: original corpus text with multibyte tokens appended
        return text + " émigré Übung señor"
    if cls == 5:
        # tab/newline whitespace inside "tokens" (split is on ' ' only)
        return "tab\tseparated new\nline " + text
    return text


#: unicode variant: documents.text rewrites keyed by doc_id % 13 (classes
#: 6..12 keep the original text so the bulk of the corpus and every dedup
#: candidate pair still exists). Each class plants one measured
#: JVM-vs-utf8proc divergence risk (see module docstring).
def _unicode_text_rewrite(doc_id: int, text: str) -> str:
    cls = doc_id % 13
    if cls == 0:
        # Turkish dotted capital + Greek final-sigma words (case mapping)
        return text + " İstanbul ΛΌΓΟΣ λόγος"
    if cls == 1:
        # sharp s, fi ligature, titlecase digraph (full vs simple casing)
        return text + " straße ﬁle ǅungla"
    if cls == 2:
        # NFD combining sequences (é as e + U+0301, explicit escapes so a
        # source-file normalization can never silently compose them)
        return "cafe\u0301 e\u0301migre\u0301 " + text
    if cls == 3:
        # RTL Hebrew + Arabic runs
        return "שלום עולם مرحبا بالعالم " + text
    if cls == 4:
        # ZWJ emoji families (multi-codepoint grapheme clusters)
        return "👩‍💻 👨‍👩‍👧‍👦 " + text
    if cls == 5:
        # fullwidth + astral-plane (surrogate-pair) letters
        return "ＡＢＣ 𝔘𝔫𝔦 𠀀𠀁 " + text
    return text  # classes 6..12: unchanged


#: customer.c_name infix classes (c_custkey % 10; 6..9 keep the original).
#: The 'Customer#' prefix and the trailing digit run are preserved — q22's
#: regex-tail convention and q86's last-digit grouping stay meaningful.
_UNICODE_NAME_INFIX = ["ß", "ﬁ", "İ", "é", "👩‍💻", "Ａ𝔘"]


def _unicode_name_rewrite(custkey: int, name: str) -> str:
    cls = custkey % 10
    if cls < len(_UNICODE_NAME_INFIX) and name.startswith("Customer#"):
        return "Customer#" + _UNICODE_NAME_INFIX[cls] + name[len("Customer#"):]
    return name


#: longdoc variant: rewrite docs where doc_id % 1000 == 7 (5 docs at
#: sf0.01 — enough to hit every per-doc code path without making the
#: 169-query strict sim quadratic in the fan-outs), rotating 4 classes.
def _longdoc_rewrite(doc_id: int, text: str) -> str:
    if doc_id % 1000 != 7:
        return text
    cls = (doc_id // 1000) % 4
    if cls == 0:
        # ~30k-char single token, exactly one alpha char: quality =
        # 0.3/30303 = 9.9e-06 — the sub-quantum sci-notation window
        return "a" + "." * 30302
    if cls == 1:
        # repeated-run corpus: 30k tokens over a 7-word vocabulary
        vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
        return " ".join(vocab[i % 7] for i in range(30000))
    if cls == 2:
        # vocabulary explosion: 20k unique tokens
        return " ".join(f"u{doc_id}x{i}" for i in range(20000))
    # whitespace-free 50k-char blob (one giant token)
    return "x0123456789" * 4546


#: nulls variant: (column, id_column, modulus) — NULL where id % mod == 0.
#: Distinct co-prime moduli keep most rows intact and the slices disjoint
#: enough that multi-column rows (both NULL) still occur (13·17 overlap).
NULL_RULES = {
    "documents": [("text", "doc_id", 13), ("lang", "doc_id", 17)],
    "events": [("value", "event_id", 13), ("props", "event_id", 17)],
    "customer": [("c_mktsegment", "c_custkey", 13), ("c_acctbal", "c_custkey", 17)],
    # whole-vector NULLs (r11): the valid_vector contract's third class —
    # every similarity/ANN/dedup query and its oracle must pass NULL
    # vectors through / exclude them identically (advembed covers the
    # empty and NULL-element classes)
    "embeddings": [("embedding", "vec_id", 11)],
}


def _null_slice(tbl: pa.Table, col: str, id_col: str, mod: int) -> pa.Table:
    ids = tbl.column(id_col).to_pylist()
    vals = tbl.column(col).to_pylist()
    i = tbl.schema.get_field_index(col)
    new = [None if k % mod == 0 else v for k, v in zip(ids, vals)]
    return tbl.set_column(i, col, pa.array(new, tbl.schema.field(i).type))


def build_variant(name: str, out_dir: Path, src_dir: Path | None = None) -> None:
    """Materialize variant ``name`` from ``src_dir`` (default: the sf0.01
    soak source). ``src_dir`` lets other lanes reuse a variant at a
    different scale — tools/bench_skew.py builds ``skewkeys`` at sf0.1 to
    measure hot-key wall-time, not just semantics."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for t in TABLES:
        src = (src_dir or SF_SRC) / f"{t}.parquet"
        dst = out_dir / f"{t}.parquet"
        if name == "colshuffle":
            # physical column order permuted (a regen is free to emit any
            # column order): every reader must bind by NAME, never position
            tbl = pq.read_table(src)
            names = list(tbl.schema.names)
            # deterministic permutation key: Python's hash() is salted per
            # process (PYTHONHASHSEED), which would make the variant
            # irreproducible across sweeps
            def _pkey(n: str) -> int:
                return int(hashlib.md5(n.encode()).hexdigest()[:8], 16) % 7

            perm = sorted(names, key=lambda n: (_pkey(n), n), reverse=True)
            pq.write_table(tbl.select(perm), dst)
        elif name == "addcols":
            # additive schema evolution: a regen appends NEW columns the
            # contract has never seen — explicit projections must keep the
            # output schemas closed (no SELECT-*-shaped leakage on either
            # engine side)
            tbl = pq.read_table(src)
            n = tbl.num_rows
            tbl = tbl.append_column(
                "_extra_v2", pa.array([i % 3 for i in range(n)], pa.int64())
            )
            tbl = tbl.append_column(
                "_extra_note", pa.array(["x"] * n, pa.string())
            )
            pq.write_table(tbl, dst)
        elif name == "advjson" and t == "events":
            tbl = pq.read_table(src)
            ids = tbl.column("event_id").to_pylist()
            props = tbl.column("props").to_pylist()
            CLASSES = [
                "{}",                      # 0: no key
                '{"k": null}',             # 1: explicit JSON null value
                '{"other": 5}',            # 2: different key
                '{"k": "12"}',             # 3: string-typed number
                '{"k": 1, "j": 2}',        # 4: extra key
                ' {"k": 7} ',              # 5: whitespace-padded
                '{"k": 2147483648}',       # 6: int32 overflow (fits int64)
                "null",                    # 7: bare JSON null literal
                '{"k": [1, 2]}',           # 8: array value
                '{"K": 5}',                # 9: case-different key
                '{"k": 3.7}',              # 10: float value
            ]
            new = [
                CLASSES[i % 12] if (i % 12) < 11 else orig
                for i, orig in zip(ids, props)
            ]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("props"), "props",
                pa.array(new, pa.string()),
            )
            pq.write_table(tbl, dst)
        elif name == "skewkeys":
            tbl = pq.read_table(src)

            def _hot_rewrite(key_col: str, id_col: str, mod: int = 2) -> None:
                nonlocal tbl
                keys = tbl.column(key_col).to_pylist()
                ids = tbl.column(id_col).to_pylist()
                hot = min((k for k in keys if k is not None), default=None)
                if hot is None:
                    return
                new = [hot if i % mod == 0 else k for i, k in zip(ids, keys)]
                i = tbl.schema.get_field_index(key_col)
                tbl = tbl.set_column(
                    i, key_col, pa.array(new, tbl.schema.field(i).type)
                )

            if t == "events":
                _hot_rewrite("user_id", "event_id", 2)
                # one event_type majority-dominant (group/pivot key skew)
                _hot_rewrite("event_type", "event_id", 2)
            elif t == "orders":
                _hot_rewrite("o_custkey", "o_orderkey", 2)
            elif t == "lineitem":
                _hot_rewrite("l_partkey", "l_orderkey", 2)
            elif t == "embeddings":
                _hot_rewrite("label", "vec_id", 2)
            elif t == "documents":
                ids = tbl.column("doc_id").to_pylist()
                texts = tbl.column("text").to_pylist()

                def _dominate(doc_id: int, s):
                    if s is None or doc_id % 3 == 2 or not s:
                        return s
                    return " ".join(
                        tok for w in s.split(" ") for tok in (w, "the")
                    )

                new_texts = [_dominate(i, s) for i, s in zip(ids, texts)]
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("text"), "text",
                    pa.array(new_texts, pa.string()),
                )
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("n_chars"), "n_chars",
                    pa.array(
                        [len(s) if s is not None else None for s in new_texts],
                        pa.int64(),
                    ),
                )
            pq.write_table(tbl, dst)
        elif name == "duprows":
            # exact duplicate rows injected (at-least-once delivery / feed
            # replay reality): every 7th row appended again verbatim, plus
            # the first row as a 5-copy hot clump. Both engines see the
            # same multiset, so any divergence is an operator depending on
            # ROW IDENTITY or input order rather than content — duplicated
            # keys make previously-total tie-breaks (ORDER BY ..., id) tie
            # again, and the contract is that ties between IDENTICAL rows
            # are harmless (any assignment yields the same output multiset)
            tbl = pq.read_table(src)
            n = tbl.num_rows
            if n:
                idx = [i for i in range(n) if i % 7 == 3]
                parts = [tbl]
                if idx:
                    parts.append(tbl.take(pa.array(idx)))
                parts.extend([tbl.slice(0, 1)] * 4)
                tbl = pa.concat_tables(parts)
            pq.write_table(tbl, dst)
        elif name in ("empty", "onerow"):
            # schema-preserving degenerate slices: the ops-reality variants
            n = 0 if name == "empty" else 1
            pq.write_table(pq.read_table(src).slice(0, n), dst)
        elif name in ("ts_micros", "ts_nanos") and t == "events":
            tbl = pq.read_table(src)
            unit = "us" if name == "ts_micros" else "ns"
            i = tbl.schema.get_field_index("ts")
            tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp(unit)))
            # version 2.6 writes TIMESTAMP(NANOS) natively for ns columns
            pq.write_table(tbl, dst, version="2.6")
        elif name == "rowshuffle":
            tbl = pq.read_table(src)
            n = tbl.num_rows
            # deterministic permutation: sort by xxhash-free stand-in
            # (i*2654435761 mod 2^32, a Knuth multiplicative shuffle)
            idx = pa.array(
                sorted(range(n), key=lambda i: (i * 2654435761) & 0xFFFFFFFF)
            )
            pq.write_table(tbl.take(idx), dst)
        elif name == "advtext" and t == "documents":
            tbl = pq.read_table(src)
            ids = tbl.column("doc_id").to_pylist()
            texts = tbl.column("text").to_pylist()
            new_texts = [_advtext_rewrite(i, s) for i, s in zip(ids, texts)]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("text"), "text",
                pa.array(new_texts, pa.string()),
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("n_chars"), "n_chars",
                pa.array([len(s) for s in new_texts], pa.int64()),
            )
            pq.write_table(tbl, dst)
        elif name == "longdoc" and t == "documents":
            tbl = pq.read_table(src)
            ids = tbl.column("doc_id").to_pylist()
            texts = tbl.column("text").to_pylist()
            new_texts = [_longdoc_rewrite(i, s) for i, s in zip(ids, texts)]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("text"), "text",
                pa.array(new_texts, pa.string()),
            )
            tbl = tbl.set_column(
                tbl.schema.get_field_index("n_chars"), "n_chars",
                pa.array([len(s) for s in new_texts], pa.int64()),
            )
            pq.write_table(tbl, dst)
        elif name == "unicode" and t == "documents":
            tbl = pq.read_table(src)
            ids = tbl.column("doc_id").to_pylist()
            texts = tbl.column("text").to_pylist()
            new_texts = [_unicode_text_rewrite(i, s) for i, s in zip(ids, texts)]
            tbl = tbl.set_column(
                tbl.schema.get_field_index("text"), "text",
                pa.array(new_texts, pa.string()),
            )
            # codepoint length — what BOTH engines' length() counts
            tbl = tbl.set_column(
                tbl.schema.get_field_index("n_chars"), "n_chars",
                pa.array([len(s) for s in new_texts], pa.int64()),
            )
            pq.write_table(tbl, dst)
        elif name == "unicode" and t == "customer":
            tbl = pq.read_table(src)
            keys = tbl.column("c_custkey").to_pylist()
            names = tbl.column("c_name").to_pylist()
            tbl = tbl.set_column(
                tbl.schema.get_field_index("c_name"), "c_name",
                pa.array(
                    [_unicode_name_rewrite(k, n) for k, n in zip(keys, names)],
                    pa.string(),
                ),
            )
            pq.write_table(tbl, dst)
        elif name == "date32" and t in ("lineitem", "orders"):
            tbl = pq.read_table(src)
            col = "l_shipdate" if t == "lineitem" else "o_orderdate"
            i = tbl.schema.get_field_index(col)
            tbl = tbl.set_column(
                i, col, tbl.column(col).cast(pa.date32())
            )
            pq.write_table(tbl, dst)
        elif name == "int32":
            tbl = pq.read_table(src)
            for field in list(tbl.schema):
                if field.type == pa.int64():
                    col = tbl.column(field.name)
                    mn = pc.min(col).as_py()
                    mx = pc.max(col).as_py()
                    if mn is not None and mn >= -(2**31) and mx < 2**31:
                        i = tbl.schema.get_field_index(field.name)
                        tbl = tbl.set_column(
                            i, field.name, col.cast(pa.int32())
                        )
            pq.write_table(tbl, dst)
        elif name == "advembed" and t == "embeddings":
            tbl = pq.read_table(src)
            ids = tbl.column("vec_id").to_pylist()
            embs = tbl.column("embedding").to_pylist()
            new = []
            for i, (vid, e) in enumerate(zip(ids, embs)):
                cls = vid % 10
                if cls == 0:
                    new.append([0.0] * len(e))          # zero norm
                elif cls == 1 and i >= 2:
                    # exact duplicate of a row that SURVIVES rewriting:
                    # vec_ids are sequential, so i-1 is cls 0 (zeroed) but
                    # i-2 is cls 9 (kept verbatim) — copying embs[i-1]
                    # would duplicate a vector that no longer exists
                    new.append(list(embs[i - 2]))
                elif cls == 2:
                    new.append([-x for x in e])          # negated twin
                elif cls == 3:
                    new.append([1e-20] * len(e))         # float32 sq underflow
                elif cls == 4:
                    new.append([0.5] * len(e))           # constant vector
                elif cls == 5:
                    new.append([])                       # EMPTY vector
                elif cls == 6:
                    # NULL element (ragged/partial ingest): Spark HOF folds
                    # NULL-propagate, DuckDB SUM-over-unnest skips — both
                    # classes must be filtered/pass-through symmetrically
                    new.append([None] + list(e[1:]))
                else:
                    new.append(e)
            tbl = tbl.set_column(
                tbl.schema.get_field_index("embedding"), "embedding",
                pa.array(new, pa.list_(pa.float32())),
            )
            pq.write_table(tbl, dst)
        elif name == "raggeddim" and t == "embeddings":
            tbl = pq.read_table(src)
            ids = tbl.column("vec_id").to_pylist()
            embs = tbl.column("embedding").to_pylist()
            new = []
            for vid, e in zip(ids, embs):
                if e is None:
                    new.append(None)
                elif vid % 9 == 7:
                    new.append(list(e[:32]))                # model downgrade
                elif vid % 9 == 8:
                    # model upgrade: 16 extra hash-deterministic dims
                    extra = [
                        (
                            int(hashlib.md5(f"{vid}:{k}".encode()).hexdigest()[:8], 16)
                            % 2001
                            - 1000
                        )
                        / 1000.0
                        for k in range(16)
                    ]
                    new.append(list(e) + extra)
                else:
                    new.append(list(e))
            tbl = tbl.set_column(
                tbl.schema.get_field_index("embedding"), "embedding",
                pa.array(new, pa.list_(pa.float32())),
            )
            pq.write_table(tbl, dst)
        elif name == "nulls" and t in NULL_RULES:
            tbl = pq.read_table(src)
            for col, id_col, mod in NULL_RULES[t]:
                tbl = _null_slice(tbl, col, id_col, mod)
            if t == "documents":
                # n_chars must stay consistent with its (now NULL) text
                tbl = _null_slice(tbl, "n_chars", "doc_id", 13)
            pq.write_table(tbl, dst)
        elif name in ("half2", "half4") and t in MONEY_COLS:
            scale = 2 if name == "half2" else 4
            tbl = pq.read_table(src)
            for c in MONEY_COLS[t]:
                i = tbl.schema.get_field_index(c)
                tbl = tbl.set_column(
                    i, c, _force_half_boundary(tbl.column(c), scale)
                )
            pq.write_table(tbl, dst)
        else:
            shutil.copyfile(src, dst)


#: the checkout this file belongs to: the soak grades the tree it is run
#: from, so a copy of the repository grades that copy
CHECKOUT = Path(__file__).resolve().parents[1]


def use_checkout() -> None:
    """Import the package from :data:`CHECKOUT`, in this process and in
    Spark's Python workers: a ``mapInPandas`` worker imports the package
    by module path, and it inherits ``PYTHONPATH``, not ``sys.path``. Call
    before the Spark session starts."""
    sys.path.insert(0, str(CHECKOUT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(CHECKOUT), os.environ.get("PYTHONPATH")) if p
    )


def run_strict_sim(sf_dir: str, spark, con_factory, compare) -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "entry_mod", CHECKOUT / "__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    con = con_factory(sf_dir)
    qs, osql = m.queries(), m.oracle_sql()
    failures = []
    for name in sorted(qs):
        try:
            sdf = qs[name](spark, sf_dir)
            if name in osql:
                compare(sdf, con, osql[name])
            else:
                sdf.count()
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    return failures


def main(argv: list[str]) -> int:
    use_checkout()
    from data_engineering_nd_datalake_project_4_spark.session import get_spark
    from tests.oracle_util import compare, duck_con

    variants = argv or [
        "ts_micros", "ts_nanos", "half2", "half4", "rowshuffle", "advtext",
        "advembed", "date32", "int32", "nulls", "empty", "onerow", "duprows",
        "advjson", "colshuffle", "addcols", "skewkeys", "unicode", "longdoc",
        "raggeddim",
    ]
    spark = get_spark(app_name="soak-regen", shuffle_partitions=16)
    total_fail = 0
    with tempfile.TemporaryDirectory(prefix="soak_regen_") as tmp:
        for v in variants:
            vdir = Path(tmp) / v
            build_variant(v, vdir)
            fails = run_strict_sim(str(vdir), spark, duck_con, compare)
            total_fail += len(fails)
            status = "OK" if not fails else f"{len(fails)} FAIL"
            print(f"[soak] {v:10s} {status}", flush=True)
            for f in fails:
                print(f"    {f}", flush=True)
    spark.stop()
    return total_fail


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
