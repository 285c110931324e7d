"""Quarantine side-output of the training-data curation pipeline
(VERDICT r4 task 6): kept ∪ quarantined = input, the kept set is the
lowest-id survivor of each dedup class, and reason codes fire on planted
rejects."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_nd_datalake_project_4_spark.catalog import load_table
from data_engineering_nd_datalake_project_4_spark.pipelines import training_data as td


@pytest.fixture(scope="module")
def planted(spark):
    good = "the cat and the dog of the house went to sleep in peace"
    rows = [
        (1, good),                                  # kept
        (2, good),                                  # exact dup of 1
        (3, "sleep in peace went the cat and the dog of the house to"),  # permutation -> near dup
        (4, "123 456 789"),                         # short + non-alpha -> quality
        (5, None),                                  # NULL text -> quality
        (6, "the mouse and the owl of the barn flew to it in night"),    # kept
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_partition_property_and_first_gate_reasons(spark, planted):
    kept, quarantined = td.curate_with_quarantine(planted, min_quality=0.3)
    kept_ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    quar = {r["doc_id"]: r["reject_reason"] for r in quarantined.collect()}
    # exhaustive and disjoint
    assert sorted(kept_ids + list(quar)) == [1, 2, 3, 4, 5, 6]
    assert kept_ids == [1, 6]
    # reasons are the FIRST failing gate
    assert quar == {2: "exact_dup", 3: "near_dup", 4: "quality", 5: "quality"}


def test_partition_property_on_real_corpus(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    ann = td.curate_annotated(d, min_quality=0.3)
    n = d.count()
    counts = {
        r["reject_reason"]: r["n"]
        for r in ann.groupBy("reject_reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sum(counts.values()) == n
    assert counts.get(None, 0) > 0


def test_annotated_keeps_scores(spark, planted):
    ann = td.curate_annotated(planted)
    assert {"lang_pred", "quality", "n_tokens", "reject_reason"} <= set(ann.columns)
    # no internal helper columns leak
    assert not [c for c in ann.columns if c.startswith("__")]
