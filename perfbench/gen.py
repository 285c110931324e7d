"""Seeded input generators for the benchmark's workloads.

Every generator takes a ``numpy`` seed and writes plain files (JSON or
parquet) with no Spark involved, so the program under test receives only
the generated inputs.  The same seed always yields byte-identical files.

- :func:`sparkify_inputs` — the reference's raw feeds in the FIXTURES.md
  section A shape: JSON-lines event logs (one file per day) and a song
  catalog of one JSON object per file in ``A/<L1>/<L2>/`` directories.
- :func:`corpus_inputs` — a document corpus plus incremental batches with
  planted defects whose counts are returned, so the curation outputs can
  be checked exactly.
- :func:`query_tables` — the ten catalog tables (``catalog.TABLES``) with
  the schemas and value distributions of the fixed sf0.1 testdata, at a
  chosen scale factor.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Sparkify raw feeds
# ---------------------------------------------------------------------------

_PAGES_OTHER = (
    "Login", "Logout", "Downgrade", "Settings", "Help", "About", "Upgrade",
    "Save Settings", "Error", "Submit Upgrade", "Submit Downgrade",
)
_NOV_2018_MS = 1_541_030_400_000  # 2018-11-01T00:00:00Z
_DAY_MS = 86_400_000


@dataclass(frozen=True)
class SparkifyInputs:
    log_dir: str
    song_dir: str
    n_events: int
    n_songs: int


def sparkify_inputs(root: str, seed: int, n_events: int, n_songs: int,
                    n_users: int = 100, days: int = 30) -> SparkifyInputs:
    """Write ``n_events`` log events over ``days`` daily files and
    ``n_songs`` song files under ``root``.

    Shape (FIXTURES.md A1/A2): pages ~85% NextSong / ~10% Home; ~3.5% of
    events logged out with ``userId = ''`` and NULL names; users change
    level over time; ~0.4% of ``(userId, ts)`` pairs duplicated; about
    0.1% of plays name a catalog title; artists own two songs each; 60%
    of songs have ``year = 0`` and ~55% NULL coordinates.
    """
    rng = np.random.default_rng(seed)
    log_dir = os.path.join(root, "log_data")
    song_dir = os.path.join(root, "song_data")

    # --- song catalog: every artist owns two songs, 60% of songs have
    # year 0 — a fixed number of (year, artist_id) partitions per seed ---
    n_artists = max(1, (n_songs + 1) // 2)
    artist_of = np.arange(n_songs) // 2
    year_of = np.where(np.arange(n_songs) % 5 < 3, 0, rng.integers(1960, 2019, n_songs))
    no_geo = rng.random(n_artists) < 0.55
    lat = np.round(rng.uniform(-40, 60, n_artists), 5)
    lon = np.round(rng.uniform(-120, 140, n_artists), 5)
    loc_empty = rng.random(n_artists) < 0.2
    durations = np.round(rng.uniform(60, 600, n_songs), 5)
    titles = [f"Title {seed}-{i}" for i in range(n_songs)]
    for i in range(n_songs):
        a = int(artist_of[i])
        song = {
            "num_songs": 1,
            "artist_id": f"AR{a:08d}",
            "artist_latitude": None if no_geo[a] else float(lat[a]),
            "artist_longitude": None if no_geo[a] else float(lon[a]),
            "artist_location": "" if loc_empty[a] else f"City {a % 97}",
            "artist_name": f"Artist {a}",
            "song_id": f"SO{i:08d}",
            "title": titles[i],
            "duration": float(durations[i]),
            "year": int(year_of[i]),
        }
        d = os.path.join(song_dir, "A", "ABCDEFGHIJ"[i % 10], "KLMNOPQRST"[(i // 10) % 10])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{song['song_id']}.json"), "w") as f:
            json.dump(song, f)

    # --- event log ---
    page_draw = rng.random(n_events)
    pages = np.where(page_draw < 0.85, "NextSong",
                     np.where(page_draw < 0.95, "Home",
                              np.array(_PAGES_OTHER)[rng.integers(0, len(_PAGES_OTHER), n_events)]))
    logged_out = rng.random(n_events) < 0.035
    users = rng.integers(1, n_users + 1, n_events)
    ts = np.sort(_NOV_2018_MS + rng.integers(0, days * _DAY_MS, n_events))
    sessions = rng.integers(1, 2000, n_events)
    items = rng.integers(0, 200, n_events)
    dup = np.flatnonzero(rng.random(n_events) < 0.004)
    dup = dup[dup > 0]
    # same-ms pairs per user (the users-table tie case); itemInSession
    # still breaks the tie, so the latest row per user is unambiguous
    ts[dup] = ts[dup - 1]
    users[dup] = users[dup - 1]
    logged_out[dup] = logged_out[dup - 1]
    items[dup] = items[dup - 1] + 1
    # a user's level flips once, at a user-specific point of the month
    flip_at = (_NOV_2018_MS + rng.integers(0, days * _DAY_MS, n_users + 1))[users]
    paid = (rng.random(n_users + 1) < 0.5)[users] != (ts >= flip_at)
    gender = np.where(rng.random(n_users + 1) < 0.5, "F", "M")[users]
    matched = rng.random(n_events) < 0.001
    song_pick = rng.integers(0, n_songs, n_events)
    lengths = np.round(rng.uniform(30, 900, n_events), 5)

    pages = np.where(logged_out & (pages == "NextSong"), "Home", pages)
    play = pages == "NextSong"
    user_str = users.astype(str)
    events = pd.DataFrame({
        "artist": np.where(play, np.char.add("Artist ", (song_pick // 2).astype(str)), None),
        "auth": np.where(logged_out, "Logged Out", "Logged In"),
        "firstName": np.where(logged_out, None, np.char.add("First", user_str)),
        "gender": np.where(logged_out, None, gender),
        "itemInSession": items,
        "lastName": np.where(logged_out, None, np.char.add("Last", user_str)),
        "length": np.where(play, lengths, np.nan),
        "level": np.where(paid, "paid", "free"),
        "location": np.char.add(np.char.add("Town ", (users % 37).astype(str)), ", ST"),
        "method": np.where(play, "PUT", "GET"),
        "page": pages,
        "registration": np.where(logged_out, np.nan, 1_540_000_000_000.0 + users * 1_000.0),
        "sessionId": sessions,
        "song": np.where(play, np.where(matched, np.array(titles, dtype=object)[song_pick],
                                        np.char.add("Unlisted ", np.arange(n_events).astype(str))),
                         None),
        "status": 200,
        "ts": ts,
        "userAgent": np.char.add("Agent/", (users % 5).astype(str)),
        "userId": np.where(logged_out, "", user_str),
    })
    os.makedirs(log_dir, exist_ok=True)
    day_of = (ts - _NOV_2018_MS) // _DAY_MS
    for d, part in events.groupby(day_of):
        part.to_json(os.path.join(log_dir, f"2018-11-{int(d) + 1:02d}-events.json"),
                     orient="records", lines=True, double_precision=15)
    return SparkifyInputs(log_dir, song_dir, n_events, n_songs)


# ---------------------------------------------------------------------------
# Curation corpus
# ---------------------------------------------------------------------------

_CORPUS_LANG = {"en": "the and of to in", "fr": "le la les et des",
                "es": "el los las y que", "de": "der die das und nicht"}


@dataclass
class Corpus:
    """Where the corpus and batches were written, and what was planted."""

    corpus_path: str
    batch_paths: list[str]
    n_docs: int
    planted: dict[str, int]  # reject_reason -> count curation must report
    cluster_size: int
    cluster_bases: list[int]  # min doc_id of every planted near-dup cluster
    batch_fresh: list[list[int]] = field(default_factory=list)  # must survive
    batch_dropped: list[list[int]] = field(default_factory=list)  # must drop
    batch_rows: list[int] = field(default_factory=list)


def _doc(rng, vocab, lo=40, hi=90) -> list[str]:
    n = int(rng.integers(lo, hi))
    lang = list(_CORPUS_LANG)[int(rng.integers(0, len(_CORPUS_LANG)))]
    words = list(vocab[rng.integers(0, len(vocab), n)])
    # two marker words: quality passes on length alone, lang_id has votes
    markers = _CORPUS_LANG[lang].split()
    words[int(rng.integers(0, n))] = markers[0]
    words[int(rng.integers(0, n))] = markers[1]
    return words


def _near_copy(rng, words: list[str], tag: str, edit_every: int = 50) -> list[str]:
    """One token in every ``edit_every`` (at least one) replaced by
    ``tag``, a token no other document holds: the copy's token set differs
    from every other document's (so curation keeps it), while its word
    3-shingle Jaccard to the source stays near 0.9 — every copy is an LSH
    candidate of its source, so the components have the same diameter,
    and near-dedup the same number of rounds, on every seed."""
    out = list(words)
    for j in range(int(rng.integers(0, min(edit_every, len(out)))), len(out), edit_every):
        out[j] = tag
    return out


def corpus_inputs(root: str, seed: int, n_docs: int, cluster_size: int,
                  near_cluster_frac: float, exact_dup_frac: float,
                  perm_dup_frac: float, low_quality_frac: float,
                  n_batches: int, batch_docs: int) -> Corpus:
    """Write a corpus of ``n_docs`` documents and ``n_batches`` increments.

    Stated input properties (all fractions of ``n_docs``):

    - ``near_cluster_frac`` of the corpus sits in near-duplicate clusters
      of exactly ``cluster_size`` documents (a base plus edited copies) —
      the LSH workload; cluster size drives its superlinear cost;
    - ``exact_dup_frac`` are byte-identical copies of a base document
      (curation reason ``exact_dup``);
    - ``perm_dup_frac`` are token permutations of a base (same token set,
      different text: reason ``near_dup``);
    - ``low_quality_frac`` are short numeric junk (reason ``quality``).

    Each batch holds fresh documents (must survive), exact copies of
    corpus documents (must be dropped) and exact in-batch repeats of its
    own fresh documents under a larger id (must be dropped).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    vocab = np.array([f"w{seed % 97}x{i}" for i in range(6000)])
    n_near = int(n_docs * near_cluster_frac) // cluster_size * cluster_size
    n_exact = int(n_docs * exact_dup_frac)
    n_perm = int(n_docs * perm_dup_frac)
    n_lowq = int(n_docs * low_quality_frac)
    n_base = n_docs - n_near - n_exact - n_perm - n_lowq
    if n_base <= n_exact + n_perm:
        raise ValueError("corpus too small for the planted defect rates")

    texts: list[str] = []
    bases = [_doc(rng, vocab) for _ in range(n_base)]
    texts += [" ".join(w) for w in bases]
    cluster_bases = []
    for _ in range(n_near // cluster_size):
        words = _doc(rng, vocab)
        cluster_bases.append(len(texts))
        texts.append(" ".join(words))
        texts += [" ".join(_near_copy(rng, words, f"edit{len(texts) + k}"))
                  for k in range(cluster_size - 1)]
    # exact and permuted copies point at distinct plain bases, so no copy
    # can collide with another planted copy
    src = rng.permutation(n_base)
    texts += [texts[int(i)] for i in src[:n_exact]]
    for i in src[n_exact:n_exact + n_perm]:
        w = bases[int(i)]
        perm = list(w)
        while perm == w:
            perm = [w[int(k)] for k in rng.permutation(len(w))]
        texts.append(" ".join(perm))
    texts += [" ".join(str(int(x)) for x in rng.integers(100, 10_000, 3)) for _ in range(n_lowq)]

    # id = position: every planted copy is younger than its source, so the
    # lowest-id-survives rules always keep the source
    corpus_path = os.path.join(root, "corpus.parquet")
    _write_docs(corpus_path, np.arange(len(texts), dtype=np.int64), texts, rng)

    corpus = Corpus(
        corpus_path=corpus_path, batch_paths=[], n_docs=len(texts),
        planted={"exact_dup": n_exact, "near_dup": n_perm, "quality": n_lowq},
        cluster_size=cluster_size, cluster_bases=cluster_bases,
    )
    next_id = len(texts)
    for b in range(n_batches):
        n_fresh = batch_docs * 3 // 4
        n_corpus_copy = batch_docs // 8
        n_repeat = batch_docs - n_fresh - n_corpus_copy
        fresh = [" ".join(_doc(rng, vocab)) for _ in range(n_fresh)]
        copies = [texts[int(i)] for i in rng.integers(0, n_base, n_corpus_copy)]
        repeats = [fresh[int(i)] for i in rng.permutation(n_fresh)[:n_repeat]]
        btexts = fresh + copies + repeats
        bids = np.arange(next_id, next_id + len(btexts), dtype=np.int64)
        next_id += len(btexts)
        path = os.path.join(root, f"batch_{b + 1}.parquet")
        _write_docs(path, bids, btexts, rng)
        corpus.batch_paths.append(path)
        corpus.batch_fresh.append([int(x) for x in bids[:n_fresh]])
        corpus.batch_dropped.append([int(x) for x in bids[n_fresh:]])
        corpus.batch_rows.append(len(btexts))
    return corpus


def _write_docs(path: str, ids, texts: list[str], rng) -> None:
    langs = np.array(list(_CORPUS_LANG))[rng.integers(0, len(_CORPUS_LANG), len(texts))]
    sources = np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, len(texts))]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
    }), path)


# ---------------------------------------------------------------------------
# Catalog tables for the query mix
# ---------------------------------------------------------------------------

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    span = (end - start).days + 1
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def query_tables(out: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out>/<table>.parquet`` for every catalog table at scale
    factor ``sf`` (row counts as the testdata: lineitem ~6M·sf).
    Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

    def name_col(prefix, n):
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": name_col("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": name_col("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(
                np.array(["large", "hot", "blue", "red", "small"])[rng.integers(0, 5, n_part)],
                np.array(["ring", "bolt", "nut", "gear", "pipe"])[rng.integers(0, 5, n_part)])],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])[
                rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_ev // 67), n_ev), pa.int64()),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng, n: int) -> pa.Table:
    """Random texts over the testdata's 31-word vocabulary; 5% are
    near-duplicates (a prefix of an earlier document plus ``dup``)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            k = int(rng.integers(min(10, len(src)), len(src) + 1))
            texts.append(" ".join(src[:k] + ["dup"]))
        else:
            texts.append(" ".join(np.array(_DOC_VOCAB)[rng.integers(0, len(_DOC_VOCAB), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "es", "fr", "de", "zh"])[
        rng.choice(5, n, p=[0.42, 0.145, 0.145, 0.145, 0.145])]
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
