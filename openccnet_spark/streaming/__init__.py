"""Structured Streaming variant of the quality-filter pipeline.

The batch pipeline is purely columnar (stateless per turn), so it lifts to
a streaming DataFrame unchanged: ``readStream`` on the transcripts source
-> the same fused-UDF + built-in gate -> ``writeStream``. Late turns are
handled by an event-time watermark on ``ts``; the windowed metrics stream
mirrors the batch metrics table (SURVEY §2.2 metrics stage).

At production scale the source is a Kafka topic or an Iceberg
streaming-read; the sandbox tests use the file source over the same
parquet schema. The reference's semantics are strictly per-turn, so the
core gate is stateless; ``streaming_conversation_state`` adds the custom
STATEFUL operator a transcript pipeline needs on top (per-conversation
accumulation across micro-batches with an idle timeout), via
``applyInPandasWithState``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.pipeline import quality_filter

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcripts_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def streaming_quality_filter(stream: DataFrame, **pipeline_kwargs) -> DataFrame:
    """The batch pipeline applied to a streaming DataFrame (no repartition —
    streaming micro-batches already parallelize by source file splits)."""
    pipeline_kwargs.setdefault("salt_partitions", None)
    return quality_filter(stream, **pipeline_kwargs)


def streaming_dedup_turns(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on (conv_id, turn_idx): replays/retries from
    an at-least-once upstream (Kafka redelivery, retried batch loads) are
    dropped while their event time is within the watermark. State is
    bounded by the watermark — Spark evicts seen-keys older than it —
    which is the property that lets this run forever at ingest scale;
    a duplicate arriving LATER than the watermark is by contract the
    upstream's exactly-once violation, not silently absorbed state
    growth. The batch analog is ``dedup.exact_duplicates``."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def replay_dedup_run(
    spark: SparkSession,
    src_glob: str,
    sink_dir: str,
    checkpoint_dir: str,
    watermark: str = "30 days",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Run ``streaming_dedup_turns`` over an at-least-once replay source to
    a parquet sink table with an ``availableNow`` trigger, then return the
    FINAL sink table — the batch-queryable artifact a real ingest job
    leaves behind. ``maxFilesPerTrigger`` keeps the run multi-micro-batch,
    so the dedup state store genuinely carries seen-keys ACROSS batches
    (the property that makes replay dedup work on an unbounded stream);
    the checkpoint dir is the stream's exactly-once ledger — re-running
    with the same checkpoint resumes instead of double-writing.

    The watermark must exceed the source's event-time span when the
    replayed copies are whole-history batches (as in the driver fixture);
    otherwise a later batch's old-timestamped rows are dropped as late
    data rather than deduplicated — correct streaming semantics, but not
    the replay contract this runner demonstrates.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_glob)
    )
    deduped = streaming_dedup_turns(stream, watermark=watermark)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_dir)


_SESSION_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("n_kept", LongType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("n_kept", LongType()),
        StructField("first_us", LongType()),
        StructField("last_us", LongType()),
    ]
)


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _from_us(us: int) -> _dt.datetime:
    # exact integer arithmetic — fromtimestamp(us / 1e6) can round the
    # accumulated microseconds through the float division
    return _EPOCH + _dt.timedelta(microseconds=int(us))


def streaming_conversation_state(
    out: DataFrame, watermark: str = "20 minutes", idle_timeout_ms: int = 600_000
) -> DataFrame:
    """Custom stateful operator: per-conversation accumulation across
    micro-batches via ``applyInPandasWithState``.

    Accumulates (turns seen, turns kept, first/last event time) per
    ``conv_id``; when a conversation goes idle past ``idle_timeout_ms`` of
    event time (watermark-driven timeout), its summary row is emitted and
    the state is dropped. This is the canonical stateful shape for
    transcript streams — conversation-complete detection — which the
    per-turn gate itself never needs.

    Scale note: state is keyed on ``conv_id`` (the stream's natural
    partitioning); each key holds 4 counters, so the state store stays
    O(active conversations), not O(turns).
    """
    import pandas as pd

    def _update(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            n_turns, n_kept, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n_turns],
                    "n_kept": [n_kept],
                    "first_ts": [_from_us(first_us)],
                    "last_ts": [_from_us(last_us)],
                }
            )
            return
        n_turns, n_kept, first_us, last_us = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdf_iter:
            n_turns += len(pdf)
            n_kept += int(pdf["keep"].fillna(False).sum())
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
            lo, hi = min(ts_us), max(ts_us)
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        state.update((n_turns, n_kept, first_us, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + idle_timeout_ms)
        return
        yield  # pragma: no cover - generator shape

    return (
        out.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_metrics(
    out: DataFrame, window: str = "10 minutes", watermark: str = "20 minutes"
) -> DataFrame:
    """Windowed drop-reason counts with late-data watermark."""
    return (
        out.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "drop_reason")
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
    )
