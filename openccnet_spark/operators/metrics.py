"""Per-partition lineage + metrics and checkpoint-resume.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". Mechanism:

* Work is bucketed by ``partition_id = pmod(xxhash64(conv_id), n_buckets)``
  — deterministic, conversation-aligned (a conversation never splits
  across buckets, so a resume can't half-process one).
* The output is written **partitioned by partition_id** with dynamic
  partition overwrite, so reprocessing a bucket is idempotent
  (exactly-once per bucket). On Iceberg this maps to
  ``df.writeTo(tbl).overwritePartitions()``; this sandbox has no Iceberg
  runtime jars, so the same semantics run on parquet via the data
  write's ``partitionOverwriteMode=dynamic`` option (set on that one
  write, not on the session: the caller's later overwrites keep their
  own mode).
* Resume = anti-join of all buckets against completed metrics rows
  (``status = 'done'``), the SURVEY §2.2 "Resume" stage. The metrics
  table is probed with Hadoop ``FileSystem.exists`` (``path_exists``):
  absent means a first run; a table that exists but cannot be read raises.

The commit path of ``checkpointed_quality_filter``, in order:

1. The pipeline output is clustered by bucket (``repartition`` on
   ``partition_id``, after the fused UDF so that stage keeps its
   parallelism) and persisted. Each bucket lands in one task, so a batch
   writes one data file per bucket present — without the clustering the
   dynamic-partition writer opens one file per task x bucket.
2. **Data commit.** One write action runs the pipeline, fills the cache
   and commits the data with the dynamic partition overwrite.
3. **Metrics commit.** One row per bucket written —
   ``(partition_id, turns_seen, kept, converted, scrubbed,
   dropped_<rule>..., run_id, status)`` — is aggregated from the cached
   frame (already hash-partitioned: no exchange) and appended to the
   metrics table; an ``Observation`` on that same append yields the
   buckets processed (``observed``, a bounded wait: ``Observation.get``
   would block forever if no action ever ran the observed plan). Nothing
   is read back from the data files. Metrics land AFTER data: a crash
   between the two commits leaves those buckets unmarked, and they are
   reprocessed (idempotently) on resume.
4. The cached frame is released in a ``finally``, whether or not a
   commit failed.

The metrics counters are the analog of the reference's per-chunk
accounting in its parallel convert path (``Opencc.cs:1246-1267``).
"""

from __future__ import annotations

import os
import time
from functools import lru_cache

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import context_key
from .quality import DROP_RULES

N_BUCKETS = 64
# How long ``observed`` waits for metrics whose action already returned.
OBSERVATION_TIMEOUT_S = 60.0


@lru_cache(maxsize=32)
def _bucket_column(ctx: tuple, n_buckets: int):
    """``partition_id`` of a row, built once per ``(context_key, n_buckets)``."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def with_partition_id(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    ctx = context_key(df.sparkSession.sparkContext)
    return df.withColumn("partition_id", _bucket_column(ctx, n_buckets))


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence of ``path`` on the Hadoop filesystem it resolves to (the
    default FS for relative or bare names) — what the executors will read,
    not the driver's local disk. FS errors propagate: there is no fallback
    to ``os.path``, because a false "absent" for the metrics table would
    reprocess every bucket and append duplicate lineage rows."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def completed_buckets(spark: SparkSession, metrics_path: str) -> set:
    """Buckets already marked done in the metrics table (empty if none).

    Only an absent table (first run) means "nothing done"; any failure to
    read a table that exists — corrupt footer, permissions, a transient FS
    error — raises, or a resume would silently reprocess every bucket."""
    if not path_exists(spark, metrics_path):
        return set()
    rows = (
        spark.read.parquet(metrics_path)
        .filter(F.col("status") == "done")
        .select("partition_id")
        .distinct()
        .collect()
    )
    return {r.partition_id for r in rows}


def observed(obs: Observation, run_id: str) -> dict:
    """``obs.get`` with a deadline. ``Observation.get`` blocks forever when
    no action ran the observed plan; this polls the JVM observation (each
    ``getRowOrEmpty`` waits up to 100 ms for the metrics, returning as soon
    as they land) for ``OBSERVATION_TIMEOUT_S``, then raises
    ``TimeoutError`` naming ``run_id``."""
    deadline = time.monotonic() + OBSERVATION_TIMEOUT_S
    while not obs._jo.getRowOrEmpty().isDefined():
        if time.monotonic() >= deadline:
            raise TimeoutError(
                f"run {run_id!r}: observed metrics did not arrive within "
                f"{OBSERVATION_TIMEOUT_S:g} s (no action ran the observed plan)"
            )
    return obs.get


@lru_cache(maxsize=32)
def _bucket_aggregates(ctx: tuple) -> tuple:
    """``bucket_metrics``' aggregate expressions, built once per
    ``context_key`` (each Column function is a py4j round trip)."""
    aggs = [
        F.count(F.lit(1)).alias("turns_seen"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        # count, not sum: a pre-gated turn's text_converted is NULL, and a
        # sum over a bucket of only such turns would be NULL, not 0
        F.count(F.when(F.col("text_converted") != F.col("text"), 1)).alias("converted"),
        F.count(F.when(F.col("text_scrubbed") != F.col("text_converted"), 1)).alias(
            "scrubbed"
        ),
    ]
    reason = F.col("drop_reason")
    for rule in DROP_RULES:
        aggs.append(F.sum((reason == rule).cast("long")).alias(f"dropped_{rule}"))
    return tuple(aggs)


def bucket_metrics(out: DataFrame) -> DataFrame:
    """Per-bucket counters from the pipeline output (one aggregation)."""
    aggs = _bucket_aggregates(context_key(out.sparkSession.sparkContext))
    return out.groupBy("partition_id").agg(*aggs)


def checkpointed_quality_filter(
    spark: SparkSession,
    src: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = N_BUCKETS,
    **pipeline_kwargs,
) -> dict:
    """Run the quality filter with bucket-level checkpoint-resume.

    Returns {"processed": [...buckets run now], "skipped": [...already done]}.
    Each bucket is written by one task, so the data write runs at most
    ``n_buckets`` tasks in parallel (see the module docstring).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from .pipeline import quality_filter

    data_path = os.path.join(out_dir, "turns")
    metrics_path = os.path.join(out_dir, "metrics")

    src = with_partition_id(src, n_buckets)
    done = completed_buckets(spark, metrics_path)
    # candidate buckets = the bucket-id complement — pure driver-side
    # arithmetic. (A distinct-collect over the source to enumerate which
    # of <= n_buckets small integers hold data would cost a FULL extra
    # scan of the corpus; instead, which candidates actually had rows is
    # observed on the <= n_buckets-row metrics append after the run.) A
    # candidate with no source rows THIS run writes no metrics row and
    # stays pending — data for it arriving later is still processed.
    pending = sorted(set(range(n_buckets)) - done)
    if not pending:
        return {"processed": [], "skipped": sorted(done)}
    pending_df = src.filter(F.col("partition_id").isin(pending)) if done else src

    # One bucket per task: each bucket is written as one file, and the
    # cached frame stays hash-partitioned on partition_id, so the metrics
    # aggregate below needs no exchange.
    out = (
        quality_filter(pending_df, **pipeline_kwargs)
        .repartition("partition_id")
        .persist()
    )
    try:
        # Data first (idempotent dynamic partition overwrite); this one
        # action runs the pipeline and fills the cache...
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(data_path)
        )
        # ...then the lineage/metrics commit marks the buckets done, from
        # the cache (no read-back); the observation yields which buckets had
        # rows from the same append job.
        m = bucket_metrics(out).withColumns(
            {"run_id": F.lit(run_id), "status": F.lit("done")}
        )
        obs = Observation()
        (
            m.observe(obs, F.collect_list("partition_id").alias("processed"))
            .coalesce(1)
            .write.mode("append")
            .parquet(metrics_path)
        )
        processed = sorted(observed(obs, run_id)["processed"])
    finally:
        out.unpersist()
    return {"processed": processed, "skipped": sorted(done)}
