"""Spark-path integration tests: UDFs, generator equivalence, full pipeline.

The core assertion (north_rule): the Spark pipeline's per-turn output equals
the pure-Python reference path byte-for-byte under (conv_id, turn_idx)
ordering.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from openccnet_spark import Converter
from openccnet_spark.functions import convert_udf, st_udf, zho_check_udf
from openccnet_spark.operators.pipeline import quality_filter, reference_label
from openccnet_spark.sources.transcripts import (
    POOL,
    py_rows,
    spark_transcripts,
    transcripts_sql,
)

N_CONV = 60  # ~1.1k turns; covers every pool entry many times


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark_transcripts(spark, N_CONV).cache()


def test_generator_spark_matches_python(spark, transcripts):
    got = {
        (r.conv_id, r.turn_idx): (r.role, r.text, r.tool, r.ts.timestamp())
        for r in transcripts.collect()
    }
    expected = {
        (cid, t): (role, text, tool, float(ts))
        for cid, t, role, text, tool, ts, _ in py_rows(N_CONV)
    }
    assert got == expected


def test_generator_duckdb_matches_python():
    rows = duckdb.sql(transcripts_sql(N_CONV)).fetchall()
    got = {(r[0], r[1]): (r[2], r[3], r[4], r[5].timestamp(), r[6]) for r in rows}
    expected = {
        (cid, t): (role, text, tool, float(ts), pidx)
        for cid, t, role, text, tool, ts, pidx in py_rows(N_CONV)
    }
    assert got == expected


def test_convert_udf_matches_reference(spark):
    cc = Converter()
    # one compatibility ideograph and one DeTofu-mapped character, so the
    # normalize_compat and detofu_level flags each change the output
    compat = chr(next(iter(cc.bundle.compat_table)))
    tofu = chr(next(iter(cc.bundle.detofu_table(0))))
    texts = [b * r for b, r in POOL] + ["幾千隻", compat, tofu, None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for config, punct, flags in [
        ("t2s", False, {}),
        ("s2t", True, {}),
        ("s2twp", False, {}),
        ("t2s", False, {"normalize_compat": True, "detofu_level": 0}),
    ]:
        out = df.withColumn("c", convert_udf(config, punct, **flags)("text")).collect()
        for row in out:
            expected = row.text
            if expected is not None:
                if flags.get("normalize_compat"):
                    expected = cc.normalize_compat(expected)
                expected = cc.convert(expected, config, punct)
                if flags.get("detofu_level") is not None:
                    expected = cc.detofu(expected, flags["detofu_level"])
            assert row.c == expected, (config, flags, row.text[:30] if row.text else None)


def test_st_and_zho_check_udfs(spark):
    df = spark.createDataFrame(
        [("发",), ("A发😀台!",), ("這是繁體字。",), ("english only",)], "text string"
    )
    rows = (
        df.withColumn("st", st_udf()("text"))
        .withColumn("zho", zho_check_udf()("text"))
        .collect()
    )
    assert [r.st for r in rows] == ["發", "A發😀臺!", "這是繁體字。", "english only"]
    assert [r.zho for r in rows] == [2, 2, 1, 0]


def test_pipeline_matches_reference_labels(spark, transcripts):
    """Byte-exact per-turn equality vs the pure-Python reference path."""
    cc = Converter()
    out = quality_filter(transcripts, config="t2s", salt_partitions=8)
    rows = out.orderBy("conv_id", "turn_idx").collect()
    ref_rows = list(py_rows(N_CONV))
    assert len(rows) == len(ref_rows)
    mismatches = 0
    for row, (cid, t, _role, text, _tool, _ts, _pidx) in zip(rows, ref_rows):
        assert (row.conv_id, row.turn_idx) == (cid, t)
        ref = reference_label(text, "t2s", converter=cc)
        ppl_equal = (
            row.ppl is None and ref["ppl"] is None
            or row.ppl is not None and ref["ppl"] is not None
            and abs(row.ppl - ref["ppl"]) <= 1e-12
        )
        if (
            row.text_converted != ref["text_converted"]
            or row.text_scrubbed != ref["text_scrubbed"]
            or row.lang != ref["lang"]
            or row.drop_reason != ref["drop_reason"]
            or row.keep != ref["keep"]
            or not ppl_equal
        ):
            mismatches += 1
    assert mismatches == 0


def test_pipeline_plan_shape(spark, transcripts):
    """The physical plan must stay UDF-then-codegen with ONE exchange."""
    out = quality_filter(transcripts, salt_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # only the salted repartition
    # exactly ONE fused Arrow stage: one Python worker per task (three
    # chained UDFs ran 2x slower at local[32] from worker oversubscription)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no per-row Python anywhere


def test_null_text_is_dropped(spark):
    df = spark.createDataFrame(
        [("c", 0, "user", None, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = quality_filter(df).collect()[0]
    assert row.keep is False and row.drop_reason == "too_short"


def test_scrub_fixtures(spark):
    df = spark.createDataFrame(
        [("联系我 user@example.com 或 +86 138 0013 8000",)], "text string"
    )
    out = quality_filter(
        df.withColumn("conv_id", F.lit("c")).withColumn("turn_idx", F.lit(0)),
        config="t2s",
        salt_partitions=None,
    ).collect()[0]
    assert out.text_scrubbed == "联系我 [EMAIL] 或 [PHONE]"
    assert out.keep


def test_langid_scripts():
    """ja/ko script detection (VERDICT r01 item 10): kana must win over the
    Han rule for kanji-heavy Japanese; hangul -> ko; Latin profiles intact."""
    from openccnet_spark.functions.langid import detect_language

    assert detect_language("すばやい狐が犬を飛び越えた") == "ja"
    # kanji-heavy Japanese still carries kana -> ja, not zh
    assert detect_language("東京都の人口は約一千四百万人です、よろしくお願いします") == "ja"
    assert detect_language("안녕하세요 데이터 처리에 관한 문장입니다") == "ko"
    assert detect_language("简体中文的软件文档质量很高") == "zh"
    assert detect_language("繁體中文的軟體文件品質很高") == "zh"
    assert detect_language("the quick brown fox jumps over the lazy dog") == "en"
    assert detect_language("12345 !!!") == "und"
