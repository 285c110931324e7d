"""Set operations (SURVEY.md §2.2 G). By-name union guards against the
classic positional-union column-swap bug."""

from __future__ import annotations

from pyspark.sql import DataFrame


def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b)


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)
