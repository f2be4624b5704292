"""Batched convert UDFs: each Arrow batch goes through ``convert_many``
once per distinct (config, punct), and rows keep their own direction,
NULL text or NULL config giving NULL."""

from __future__ import annotations

from openccnet_spark import Converter
from openccnet_spark.convert import VECTOR_MIN_CHARS
from openccnet_spark.functions import (
    _convert_batch,
    _convert_grouped,
    convert_cols_udf,
    convert_udf,
    register_sql_functions,
)

CC = Converter()
LONG = "几千只软件，“隐私权”资讯。" * (VECTOR_MIN_CHARS // 10)

# (text, config, punct): directions interleaved, NULLs in every column
ROWS = [
    ("几千只软件", "s2t", False),
    ("這是繁體字。", "t2s", None),
    (None, "s2t", False),
    ("软件", None, True),
    (LONG, "s2twp", True),
    ("你好“世界”", "s2t", True),
    ("几千只软件", "s2twp", False),
    ("資訊", "tw2sp", False),
    ("", "s2t", False),
    (LONG, "s2t", False),
]


def _expected(text, config, punct):
    if text is None or config is None:
        return None
    return CC.convert(text, config, bool(punct))


def test_convert_grouped_mixes_configs_and_nulls():
    texts, configs, puncts = map(list, zip(*ROWS))
    assert _convert_grouped(CC, texts, configs, puncts) == [_expected(*r) for r in ROWS]


def test_convert_batch_keeps_nulls():
    texts = [r[0] for r in ROWS]
    assert _convert_batch(CC, texts, "s2twp") == [None if t is None else CC.convert(t, "s2twp") for t in texts]
    assert _convert_batch(CC, [None, None], "s2t") == [None, None]


def test_spark_convert_udfs_mixed_batch(spark):
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(ROWS)], "id int, text string, config string, punct boolean"
    ).coalesce(1)
    got = {
        r.id: r
        for r in df.select(
            "id",
            convert_cols_udf()("config", "punct", "text").alias("cols"),
            convert_udf("s2twp", normalize_compat=True, detofu_level=0)("text").alias("one"),
        ).collect()
    }
    for i, (text, config, punct) in enumerate(ROWS):
        assert got[i].cols == _expected(text, config, punct)
        one = None if text is None else CC.detofu(CC.convert(CC.normalize_compat(text), "s2twp"), 0)
        assert got[i].one == one

    register_sql_functions(spark)
    df.createOrReplaceTempView("mixed_docs")
    got = {
        r.id: r
        for r in spark.sql(
            "SELECT id, cc_convert(text, config) AS o, cc_convert_punct(text, config) AS p FROM mixed_docs"
        ).collect()
    }
    for i, (text, config, _punct) in enumerate(ROWS):
        assert got[i].o == _expected(text, config, False)
        assert got[i].p == _expected(text, config, True)
    assert got[3].o is None  # NULL config -> NULL, never the default direction


def test_pipeline_udf_keeps_a_normalization_only_change(spark):
    """The fused UDF sends NULL for an unchanged text (the JVM side puts the
    raw input back), so "unchanged" must be judged against the raw text,
    not the compat-normalized one."""
    from openccnet_spark.functions import pipeline_struct_udf

    raw = "A豈B"  # CJK compatibility ideograph; s2t leaves its normal form alone
    assert CC.convert(CC.normalize_compat(raw), "s2t") == "A豈B"
    df = spark.createDataFrame([(0, raw), (1, None), (2, LONG)], "id int, text string").coalesce(1)
    udf = pipeline_struct_udf("s2t", normalize_compat=True, with_ppl=False)
    got = {r.id: r.o for r in df.select("id", udf("text").alias("o")).collect()}
    assert got[0].text_converted == "A豈B"
    assert got[1].text_converted is None
    assert got[2].text_converted == CC.convert(LONG, "s2t")
