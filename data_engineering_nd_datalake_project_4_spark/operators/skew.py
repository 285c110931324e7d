"""Skew mitigation (SURVEY.md §2.2 design rule; BASELINE.json 100-TB goal).

AQE's skew-join splitting handles moderate skew automatically (on by
default in session.py). These operators are for the pathological cases AQE
can't fix — a single join key holding a double-digit percentage of the
fact table:

- :func:`salted_join`: split each hot key into ``n_salts`` sub-keys by
  salting the big side and replicating the small side once per salt. The
  shuffle then spreads each hot key over ``n_salts`` reducers. Cost: small
  side × n_salts.
- :func:`skewed_keys`: find the keys worth salting (frequency above a
  threshold) so the replication cost is paid only for the hot keys.
- :func:`hot_cold_join`: the head/tail split — broadcast-join the few
  hot keys' build rows, shuffle-join the cold tail, union. Unlike
  salting it never replicates the build side and the hot keys bypass
  the shuffle entirely.
- :func:`sampled_hot_keys`: approximate hot-key detection from a seeded
  sample — misses only cost performance, never correctness, so one
  cheap sampled pass replaces a full-table frequency count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def skewed_keys(df: DataFrame, key: str, min_share: float = 0.01) -> DataFrame:
    """Keys holding at least ``min_share`` of the rows — candidates for
    salting. ONE pass over the input: the total comes from a scalar
    aggregate of the (key-cardinality-sized) counts, broadcast back with a
    1-row cross join — NOT an unpartitioned window, which would shuffle
    every distinct key's count row to a single reducer (a single-task
    bottleneck at hundreds of millions of distinct keys), and not a second
    full-table ``count()``."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.col("__total") * min_share)
        .select(key, "n")
    )


def sampled_hot_keys(
    df: DataFrame,
    key: str,
    min_share: float = 0.001,
    sample_fraction: float = 0.01,
) -> list:
    """Approximate hot-key detection from a Bernoulli sample (seed 42, so
    the same input yields the same keys).

    Hot-key detection is a PERFORMANCE decision, not a correctness one —
    a missed hot key just shuffles (what it would have done anyway), a
    false positive costs a few extra broadcast rows. So pay a
    ``sample_fraction`` scan instead of a full-table frequency count: at
    100 TB a 1% sample still holds millions of occurrences of any key
    with ``min_share`` of the rows, and the driver-side result is bounded
    by ``min(1/min_share, 10_000)`` values (metadata, never data).
    NULL keys are excluded — an equi-join never matches them.

    ``sample_fraction=1.0`` skips the sample node — for callers that
    already hold a cheaper sample (e.g. sampling documents BEFORE an
    explode, which Catalyst cannot push through on its own).
    """
    s = df if sample_fraction >= 1.0 else df.sample(fraction=sample_fraction, seed=42)
    counts = s.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    rows = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.col("__total") * min_share)
        .filter(F.col(key).isNotNull())
        .orderBy(F.desc("n"))
        .limit(10_000)
        .collect()
    )
    return [r[0] for r in rows]


def hot_cold_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    hot_keys: Sequence | None = None,
    min_share: float = 0.001,
) -> DataFrame:
    """Head/tail split equi-join for a skewed ``big`` side: rows whose key
    is in the hot head join against a **broadcast** of the matching build
    rows (no shuffle at all for the straggler keys); the cold tail takes
    the normal shuffle join; the branches union.

    Equivalent to ``big.join(small, key, how)`` for EVERY join type: the
    hot set partitions BOTH sides consistently by key value, so matched
    and unmatched rows each appear in exactly one branch — NULL keys
    (which never equi-match) are routed to the cold branch explicitly,
    where outer joins null-extend them as usual. (Broadcast of the hot
    build rows is a hint; for right/full outer Spark must stream the
    build side's unmatched rows and falls back to a shuffle there —
    correct, just without the hot-branch speedup, so prefer
    inner/left/semi/anti with this operator.)

    vs :func:`salted_join`: no build-side replication, and hot keys skip
    the shuffle entirely instead of spreading over ``n_salts`` reducers —
    the right tool when the hot head's build rows fit in a broadcast
    (e.g. a Zipf token→weight table: the head IS small by construction).
    Cost: ``big`` is scanned twice (hot + cold filter) — map-side,
    pruned, and cheap next to the skewed-shuffle straggler it removes.

    ``hot_keys``: literal key values; default = :func:`sampled_hot_keys`
    over ``big``. An empty hot set degrades to the plain join.
    """
    if hot_keys is None:
        hot_keys = sampled_hot_keys(big, key, min_share=min_share)
    hot_keys = [k for k in hot_keys if k is not None]
    if not hot_keys:
        return big.join(small, key, how)
    is_hot = F.col(key).isin(list(hot_keys))
    is_cold = F.col(key).isNull() | ~is_hot
    out_hot = big.filter(is_hot).join(
        F.broadcast(small.filter(is_hot)), key, how
    )
    out_cold = big.filter(is_cold).join(small.filter(is_cold), key, how)
    return out_hot.unionByName(out_cold)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_source: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``big``'s key distribution is heavily skewed.

    The big side gets a per-row salt; the small side is replicated once
    per salt via an explode. The join key becomes ``(key, salt)`` → each
    hot key spreads over ``n_salts`` partitions.

    The default salt is ``pmod(monotonically_increasing_id(), n_salts)``:
    genuinely per-ROW, so a hot key made of exact-duplicate rows (the
    post-explode fact-table case) still spreads — a content hash would
    give every duplicate the same salt and leave the straggler in place.
    The salt VALUE never affects the result (the small side carries every
    salt, so any row matches under any salt); determinism of the output is
    unaffected by the nondeterministic id. Pass ``salt_source`` to use a
    content-derived salt instead (e.g. when speculative-task stability of
    the intermediate salt column itself matters).

    ONLY inner/left_semi/left joins are equivalent to the unsalted join:
    any join that null-extends or keeps unmatched SMALL-side rows
    (right/full/left_anti from the small side's view) would emit each
    unmatched small row once per salt. Those are rejected loudly.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join(how={how!r}): only {sorted(allowed)} are "
            "equivalent to the unsalted join — right/full joins would "
            "duplicate every unmatched small-side row n_salts times"
        )
    if salt_source is None:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    else:
        salt = F.pmod(F.xxhash64(salt_source), F.lit(n_salts))
    b = big.withColumn("__salt", salt.cast("int"))
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = b.join(s, [key, "__salt"], how)
    return out.drop("__salt")
