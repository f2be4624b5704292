"""The one-pass commit of ``checkpointed_quality_filter``: metrics rows
computed from the cached output equal the read-back aggregate, each bucket
is written as one file, the cached frame never outlives the call, an empty
batch returns, a bucket count below one raises, and the metrics-table probe
fails loudly on a table it cannot read."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from openccnet_spark.operators.metrics import (
    bucket_metrics,
    checkpointed_quality_filter,
    completed_buckets,
    with_partition_id,
)
from openccnet_spark.sources.transcripts import spark_transcripts

N_CONV = 40
N_BUCKETS = 8


def _bucket_ids(df) -> set:
    return {r.partition_id for r in df.select("partition_id").distinct().collect()}


def _data_files(out_dir: str) -> dict:
    """partition_id -> number of data files in its ``turns`` directory."""
    turns = os.path.join(out_dir, "turns")
    return {
        int(d.split("=", 1)[1]): sum(
            1 for f in os.listdir(os.path.join(turns, d)) if not f.startswith((".", "_"))
        )
        for d in os.listdir(turns)
        if d.startswith("partition_id=")
    }


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_metrics_rows_match_read_back_aggregate(spark, tmp_path):
    """Two-run resume; every metrics row equals the old read-back
    aggregate of the written data on every counter, ``processed`` is
    exactly the set of pending buckets that had rows, and each bucket
    directory holds one data file after each call."""
    out_dir = str(tmp_path / "sink")
    src = spark_transcripts(spark, N_CONV)
    buckets = with_partition_id(src, N_BUCKETS)
    partial = buckets.filter(F.col("partition_id") < 4).drop("partition_id")

    r1 = checkpointed_quality_filter(
        spark, partial, out_dir, run_id="r1", n_buckets=N_BUCKETS, with_ppl=True
    )
    assert set(r1["processed"]) == _bucket_ids(with_partition_id(partial, N_BUCKETS))
    assert set(_data_files(out_dir)) == set(r1["processed"])
    assert set(_data_files(out_dir).values()) == {1}

    r2 = checkpointed_quality_filter(
        spark, src, out_dir, run_id="r2", n_buckets=N_BUCKETS, with_ppl=True
    )
    assert set(r2["processed"]) == _bucket_ids(buckets) - set(r1["processed"])
    assert set(_data_files(out_dir).values()) == {1}

    turns = spark.read.parquet(f"{out_dir}/turns")
    assert set(r1["processed"]) | set(r2["processed"]) == _bucket_ids(turns)
    read_back = bucket_metrics(turns)
    expected = {r.partition_id: r.asDict() for r in read_back.collect()}
    counters = [c for c in read_back.columns if c != "partition_id"]
    metrics = spark.read.parquet(f"{out_dir}/metrics").filter(F.col("status") == "done")
    got = {}
    for r in metrics.collect():
        assert r.partition_id not in got, "two done rows for one bucket"
        got[r.partition_id] = r.asDict()
        assert r.run_id == ("r1" if r.partition_id in r1["processed"] else "r2")
    assert set(got) == set(expected)
    for b, row in got.items():
        assert {c: row[c] for c in counters} == {c: expected[b][c] for c in counters}, b


def test_cache_released_on_success_and_on_crash(spark, tmp_path, monkeypatch):
    """The persisted output is released both after a clean call and when a
    task raises mid data-write (the crash-A injection of
    test_checkpoint_resume)."""
    import openccnet_spark.operators.pipeline as pipeline_mod

    # start from an empty cache so the check below sees only this call
    spark.catalog.clearCache()
    src = spark_transcripts(spark, N_CONV)
    checkpointed_quality_filter(
        spark, src, str(tmp_path / "ok"), run_id="ok", n_buckets=N_BUCKETS, with_ppl=False
    )
    assert _cache_empty(spark)

    poison = src.select("conv_id").first().conv_id
    real_qf = pipeline_mod.quality_filter

    def poisoned_qf(df, **kw):
        out = real_qf(df, **kw)
        boom = F.when(
            F.col("conv_id") == poison,
            F.raise_error(F.lit("injected crash A")).cast("boolean"),
        ).otherwise(F.col("keep"))
        return out.withColumn("keep", boom)

    monkeypatch.setattr(pipeline_mod, "quality_filter", poisoned_qf)
    with pytest.raises(Exception, match="injected crash A"):
        checkpointed_quality_filter(
            spark, src, str(tmp_path / "crash"), run_id="c", n_buckets=N_BUCKETS,
            with_ppl=False,
        )
    assert _cache_empty(spark)


def test_empty_batch_returns(spark, tmp_path):
    """A zero-row source returns ``processed == []`` and marks no bucket
    done. The call runs in a daemon thread with a deadline, so an
    observation that never fires fails here instead of hanging."""
    out_dir = str(tmp_path / "empty")
    src = spark_transcripts(spark, N_CONV).limit(0)
    result: dict = {}

    def run():
        try:
            result["r"] = checkpointed_quality_filter(
                spark, src, out_dir, run_id="e", n_buckets=N_BUCKETS, with_ppl=False
            )
        except Exception as exc:  # re-raised on the test thread below
            result["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "checkpointed_quality_filter did not return on an empty batch"
    if "error" in result:
        raise result["error"]
    assert result["r"] == {"processed": [], "skipped": []}
    assert completed_buckets(spark, f"{out_dir}/metrics") == set()


@pytest.mark.parametrize("n_buckets", [0, -3])
def test_no_buckets_raises_before_reading(spark, tmp_path, n_buckets):
    """``n_buckets < 1`` leaves no bucket to run: the call raises instead
    of returning ``processed == []``, and writes nothing."""
    out_dir = tmp_path / "none"
    src = spark_transcripts(spark, N_CONV)
    with pytest.raises(ValueError, match="n_buckets"):
        checkpointed_quality_filter(
            spark, src, str(out_dir), run_id="n", n_buckets=n_buckets, with_ppl=False
        )
    assert not out_dir.exists()


def test_completed_buckets_raises_on_unreadable_table(spark, tmp_path):
    """An absent metrics table means nothing is done; one that exists but
    holds a non-parquet file raises instead of reading as empty (which
    would reprocess every bucket and append duplicate lineage rows)."""
    metrics = tmp_path / "metrics"
    assert completed_buckets(spark, str(metrics)) == set()
    metrics.mkdir()
    (metrics / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        completed_buckets(spark, str(metrics))


def test_all_pre_gated_bucket_counts_zero(spark, tmp_path):
    """A bucket whose every turn is dropped before conversion (too short:
    its ``text_converted`` is NULL) writes 0, not NULL, for the
    ``converted`` and ``scrubbed`` counters."""
    out_dir = str(tmp_path / "short")
    src = spark_transcripts(spark, N_CONV)
    conv = src.select("conv_id").first().conv_id
    short = src.filter(F.col("conv_id") == conv).withColumn("text", F.lit("ab"))
    r = checkpointed_quality_filter(
        spark, short, out_dir, run_id="s", n_buckets=N_BUCKETS, with_ppl=False
    )
    assert len(r["processed"]) == 1
    (row,) = spark.read.parquet(f"{out_dir}/metrics").collect()
    assert row.turns_seen >= 2
    assert row.dropped_too_short == row.turns_seen
    assert row.kept == 0
    assert (row.converted, row.scrubbed) == (0, 0)
