"""Pin the driver-graded registry window (VERDICT r4 task 1).

The driver grades the FIRST 50 entries of ``queries()`` in registry order
(CLAUDE.md: keep new queries after q50). Nothing else asserts that order,
so an innocent refactor of queries.py that reordered the ``@q``
decorators would silently swap graded entries while every local test
stayed green. This test makes any reorder of the graded window red, and
checks that every name the driver actually graded last round still
resolves in the registry (both ``queries()`` and ``oracle_sql()`` sides).
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: the exact graded window, in driver grading order. Update ONLY if the
#: driver's window curation changes, never as a side effect of a
#: queries.py refactor. ROUND-13 CURATION (deliberate, VERDICT r12 task
#: 2): q171_versioned_lsh_dedup_replay (exactly-once incremental dedup
#: under at-least-once replay, oracle-proven) rotates IN; q20 rotates
#: OUT (set-op surface, re-covered pass-local + pytest + soak).
GRADED_WINDOW = [
    "q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09", "q10",
    "q11", "q12", "q13", "q14", "q15", "q16", "q17", "q18", "q19",
    "q23", "q24", "q25", "q26", "q27", "q28", "q29", "q30",
    "q31", "q32",
    "q33_exact_dedup", "q34_unigram_jaccard", "q35_minhash_lsh",
    "q36_simhash", "q37_lang_id", "q38_quality", "q39_token_counts",
    "q40_fingerprints", "q41_embedding_near_dup", "q42_ivf_topk",
    "q43_rp_buckets", "q44_pandas_udf", "q45_approx_distinct",
    "q46_having", "q47_date_math", "q48_math_funcs",
    "q142_semantic_dedup", "q167_grouped_heavy_hitters",
    "q169_incremental_lsh_dedup", "q170_incremental_semantic_dedup",
    "q171_versioned_lsh_dedup_replay",
]

#: the PREVIOUS round's window, verbatim — the ONLY other name-set the
#: latest driver CORRECTNESS file may carry (exactly one round of driver
#: lag). This replaces the old symmetric-diff WINDOW_ROTATION tolerance,
#: which never closed: it would have silently accepted a future
#: accidental re-swap of exactly the rotated names forever (ADVICE r11).
#: When a CORRECTNESS file matching GRADED_WINDOW lands, set this to
#: GRADED_WINDOW (the lag window is then closed) — or to the old window
#: again at the next deliberate rotation. Currently: the r12 window
#: (CORRECTNESS_r12 matched it, closing the r12 hatch; this IS the r13
#: rotation's one-round lag allowance).
PREVIOUS_WINDOW = [
    n for n in GRADED_WINDOW if n != "q171_versioned_lsh_dedup_replay"
]
PREVIOUS_WINDOW[19:19] = ["q20"]

#: graded entries deliberately without an oracle — the driver records
#: rows-only for these. Round 6 emptied the set: q35/q36/q40 gained
#: exactly hashed oracles (today through the pure-SQL XXH64 twin of
#: Spark's xxhash64), q42 moved to decimal-quantized centroids + the q30
#: cosine idiom, and q45 to an EXPLICIT HyperLogLog
#: (sketches.hll_registers/hll_estimate) whose registers and estimate are
#: exact integer arithmetic — all 50 graded rows now carry full DuckDB
#: oracles. (Outside the window, q60/q91/q115 stay rows-only: they
#: deliberately showcase engine-native approx_percentile / iterative
#: k-means / DataSketches HLL.)
NO_ORACLE: set[str] = set()


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "entry_mod_window", REPO / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_first_50_registry_names_are_the_graded_window():
    names = list(_entry_module().queries())
    assert names[:50] == GRADED_WINDOW, (
        "registry slots 1-50 ARE the driver-graded window — a reorder "
        "here silently swaps what the driver grades; new queries must be "
        "registered after q50 (CLAUDE.md)"
    )
    assert len(names) == len(set(names)), "duplicate registry names"


def test_graded_window_oracle_coverage():
    mod = _entry_module()
    osql = mod.oracle_sql()
    for name in GRADED_WINDOW:
        if name in NO_ORACLE:
            assert name not in osql, (
                f"{name} is declared rows-only; adding an oracle changes "
                "the driver's gate class — update NO_ORACLE deliberately"
            )
        else:
            assert name in osql, f"graded query {name} lost its oracle"


def test_last_driver_correctness_names_still_resolve():
    """Every name the driver graded last round must still exist — a rename
    would drop its CORRECTNESS row even with the window order intact."""
    latest = max(REPO.glob("CORRECTNESS_r*.json"))
    graded = json.loads(latest.read_text())
    mod = _entry_module()
    qs = mod.queries()
    missing = [n for n in graded if n not in qs]
    assert not missing, f"driver-graded names missing from registry: {missing}"
    # the latest driver file is either the CURRENT window or EXACTLY the
    # previous one (one round of driver lag) — nothing in between: a
    # partial or accidental re-swap of rotated names is red (ADVICE r11:
    # the old subset-of-diff tolerance never closed).
    got = set(graded)
    assert got == set(GRADED_WINDOW) or got == set(PREVIOUS_WINDOW), (
        "driver-graded names match neither the current window nor the "
        f"exact previous one; unexpected: {got ^ set(GRADED_WINDOW)}"
    )
