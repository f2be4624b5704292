#!/usr/bin/env python
"""spark-submit entrypoint for the quality-filter pipeline.

    spark-submit --master <cluster> \
        --py-files openccnet_spark.zip \
        jobs/run_quality_filter.py \
        --input  /path/to/transcripts_parquet_or_iceberg_table \
        --output /path/to/out_dir \
        --config t2s [--punct] [--no-ppl] \
        [--custom-dict st_phrases:append:/path/extra.txt ...] \
        [--buckets 64] [--salt-partitions 0=auto] [--run-id r1]

Build the artifact with ``python tools/package_pyfiles.py`` (zips the
package incl. the dictionary bundle). The job is resumable: re-running with
the same --output skips buckets already marked done in the metrics table
(see openccnet_spark/operators/metrics.py).
"""

from __future__ import annotations

import os

import argparse
import sys


def _exists(spark, p: str) -> bool:
    """``path_exists`` on the cluster filesystem, falling back to the
    driver's local disk on any JVM-gateway hiccup: here a wrong answer only
    misroutes the input, which then fails loudly."""
    from openccnet_spark.operators.metrics import path_exists

    try:
        return path_exists(spark, p)
    except Exception:
        return os.path.exists(p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or Iceberg table name")
    ap.add_argument(
        "--input-kind",
        choices=("auto", "table", "path"),
        default="auto",
        help="force catalog-table vs filesystem-path reading; auto keeps "
        "the dotted-name heuristic (existence probed on the CLUSTER "
        "filesystem, not the driver's local disk)",
    )
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", default="t2s")
    ap.add_argument("--punct", action="store_true")
    ap.add_argument("--no-ppl", action="store_true")
    ap.add_argument("--preserve-ids", action="store_true")
    ap.add_argument("--detofu-level", type=int, default=None)
    ap.add_argument("--custom-dict", action="append", default=[],
                    help="slot:append|override:path (repeatable)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt-partitions", type=int, default=0,
                    help="0 = 3x defaultParallelism")
    ap.add_argument("--run-id", default="run")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from openccnet_spark.dictionary import load_custom_specs
    from openccnet_spark.operators.metrics import checkpointed_quality_filter

    spark = (
        SparkSession.builder.appName(f"openccnet-quality-filter-{args.config}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    # table-vs-path routing: a dotted name is a catalog table ONLY if it
    # is not a file that exists and has no data-file extension — otherwise
    # `--input transcripts.parquet` (a relative path, the docstring's own
    # first usage form) would misroute to spark.read.table. Existence is
    # probed through the session's Hadoop FileSystem so a bare relative
    # name that lives on the cluster's default FS (invisible to the
    # driver's local disk) routes correctly; --input-kind overrides the
    # heuristic outright.
    _inp = args.input
    if args.input_kind == "auto":
        _is_table = (
            "." in _inp
            and "/" not in _inp
            and not _inp.lower().endswith((".parquet", ".orc", ".json", ".csv"))
            and not _exists(spark, _inp)
        )
    else:
        _is_table = args.input_kind == "table"
    src = spark.read.table(_inp) if _is_table else spark.read.parquet(_inp)
    salt = args.salt_partitions or spark.sparkContext.defaultParallelism * 3
    result = checkpointed_quality_filter(
        spark,
        src,
        args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        config=args.config,
        punct=args.punct,
        with_ppl=not args.no_ppl,
        preserve_ids=args.preserve_ids,
        detofu_level=args.detofu_level,
        custom=load_custom_specs(args.custom_dict) or None,
        salt_partitions=salt,
    )
    print(
        f"processed={len(result['processed'])} buckets, "
        f"skipped={len(result['skipped'])} (resume)"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
