"""CLI entry point: run the Sparkify ETL pipeline end-to-end.

The reference is run as ``python etl.py`` with an INI config
(/root/reference/etl.py:50-59,309-320); this is the drop-in equivalent:

    python -m data_engineering_nd_datalake_project_4_spark \
        --log-data  /path/to/log_data \
        --song-data /path/to/song_data \
        --output    /path/to/lake

Paths accept any Hadoop-supported URI (file://, s3a://, hdfs://).
``session.py`` sets only ``fs.s3a.impl`` (the S3A filesystem class).
Credentials, endpoint and output committer are not configured here: S3A
takes them from its default credential chain (environment variables,
instance profile) or from ``spark.hadoop.fs.s3a.*`` settings in
``spark-defaults.conf``, and the hadoop-aws jar must be on the classpath.

Each table logs one line, ``written`` or ``unchanged`` with the first 12
hex digits of its fingerprint: a table whose source feeds and builder did
not change since the last run is not rewritten (delete its
``_FINGERPRINT`` file, or the table, to force a rewrite).
"""

from __future__ import annotations

import argparse
import logging
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m data_engineering_nd_datalake_project_4_spark",
        description="Sparkify ETL: JSON logs/songs -> 5 analytics tables as partitioned parquet",
    )
    p.add_argument("--log-data", required=True, help="log events JSON root (recursive)")
    p.add_argument("--song-data", required=True, help="song metadata JSON root (recursive)")
    p.add_argument("--output", required=True, help="output lake root for the 5 tables")
    p.add_argument(
        "--declared-schemas",
        action="store_true",
        help="use the reference's declared FLOAT schemas instead of sampled DOUBLEs",
    )
    p.add_argument("--master", default=None, help="Spark master override (default: env/local)")
    args = p.parse_args(argv)

    from data_engineering_nd_datalake_project_4_spark.pipelines import sparkify
    from data_engineering_nd_datalake_project_4_spark.session import get_spark

    logging.basicConfig(level=logging.INFO, format="%(levelname)s %(message)s")
    log = logging.getLogger("data_engineering_nd_datalake_project_4_spark")

    kwargs = {"app_name": "data_engineering_nd_datalake_project_4_spark-etl"}
    if args.master:
        kwargs["master"] = args.master
    from pyspark.sql import SparkSession

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(**kwargs)
    cfg = sparkify.SparkifyConfig(
        log_data_path=args.log_data,
        song_data_path=args.song_data,
        output_root=args.output,
        declared_schemas=args.declared_schemas,
    )
    t0 = time.perf_counter()
    tables = sparkify.run_pipeline(spark, cfg)  # logs one line per table
    log.info("pipeline complete in %.1fs (%d tables)", time.perf_counter() - t0, len(tables))
    if not preexisting:  # embedded callers (tests) keep their session
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
