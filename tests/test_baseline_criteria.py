"""Direct checks of the BASELINE.json acceptance criteria:
F1 >= 0.99 on keep/drop vs reference labels, byte-exact converted text,
and physical-plan properties (salted repartition, vectorized-UDF-only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openccnet_spark import Converter
from openccnet_spark.operators.pipeline import quality_filter, reference_label
from openccnet_spark.sources.transcripts import py_rows, spark_transcripts

N_CONV = 80


def test_keep_f1_and_byte_exactness(spark):
    cc = Converter()
    out = quality_filter(spark_transcripts(spark, N_CONV), config="t2s")
    got = {
        (r.conv_id, r.turn_idx): r
        for r in out.collect()
    }
    tp = fp = fn = tn = 0
    text_mismatches = 0
    for cid, t, _role, text, _tool, _ts, _p in py_rows(N_CONV):
        ref = reference_label(text, "t2s", converter=cc)
        row = got[(cid, t)]
        if ref["keep"] and row.keep:
            tp += 1
        elif ref["keep"] and not row.keep:
            fn += 1
        elif not ref["keep"] and row.keep:
            fp += 1
        else:
            tn += 1
        if row.text_converted != ref["text_converted"] or row.text_scrubbed != ref["text_scrubbed"]:
            text_mismatches += 1
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, (tp, fp, fn, tn)
    assert f1 == 1.0  # in fact exact
    assert text_mismatches == 0  # byte-exact converted + scrubbed text


def test_salted_repartition_defeats_conversation_skew(spark):
    """north_rule: "conversations are salted-repartitioned on hash(conv_id)
    to defeat long-conversation skew". Feed the pipeline an input clustered
    by conversation (1 input partition per conversation, incl. 50-200-turn
    monsters) and assert the salted exchange rebalances the UDF stage."""
    src = spark_transcripts(spark, 40).repartition(40, "conv_id")
    out = quality_filter(src, salt_partitions=16, with_ppl=False)
    sizes = [
        r["count"]
        for r in out.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    ]
    assert len(sizes) == 16
    assert max(sizes) <= 2.0 * (sum(sizes) / len(sizes))  # no monster partitions


def test_pipeline_stays_vectorized(spark):
    df = quality_filter(spark_transcripts(spark, 5), salt_partitions=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
