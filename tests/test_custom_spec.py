"""Custom-dictionary spec parsing (reference CustomDictSpecTests.cs)."""

from __future__ import annotations

import pytest

from openccnet_spark.dictionary import load_custom_specs, parse_custom_spec


def test_parse_custom_spec():
    assert parse_custom_spec("st_phrases:append:/tmp/x.txt") == (
        "st_phrases", "append", "/tmp/x.txt",
    )
    assert parse_custom_spec("ts_characters:OVERRIDE:C:/dicts/y.txt") == (
        "ts_characters", "override", "C:/dicts/y.txt",
    )


@pytest.mark.parametrize(
    "bad",
    ["st_phrases:/tmp/x.txt", "nope:append:/x", "st_phrases:merge:/x", "st_phrases:append:"],
)
def test_parse_custom_spec_rejects(bad):
    with pytest.raises(ValueError):
        parse_custom_spec(bad)


def test_load_custom_specs(tmp_path):
    f = tmp_path / "extra.txt"
    f.write_text("软件\t軟體X\n", encoding="utf-8")
    out = load_custom_specs([f"st_phrases:append:{f}"])
    assert out == [("st_phrases", "append", "软件\t軟體X\n")]


def test_repeated_same_slot_specs_merge_in_udf_path(spark):
    """Two -D append specs on the SAME slot must both apply in the
    distributed UDF path, exactly as cli._converter merges them
    (code-review finding, round 4)."""
    from pyspark.sql import functions as F

    from openccnet_spark.functions import convert_udf

    custom = [
        ("st_phrases", "append", "自定义一\t自定義壹\n"),
        ("st_phrases", "append", "自定义二\t自定義貳\n"),
    ]
    df = spark.createDataFrame([("自定义一和自定义二",)], "text string")
    out = df.select(
        convert_udf("s2t", custom=custom)(F.col("text")).alias("o")
    ).first()
    assert out.o == "自定義壹和自定義貳"


def test_later_spec_wins_a_shared_key_in_cli_and_udf(spark, tmp_path):
    """Two append specs for one slot that share a key: the later spec's
    value wins, and the CLI and the distributed UDF path agree."""
    from pyspark.sql import functions as F

    from openccnet_spark.cli import main
    from openccnet_spark.functions import convert_udf

    first = tmp_path / "first.txt"
    second = tmp_path / "second.txt"
    first.write_text("自定义\t自定義甲\n软件\t軟體A\n", encoding="utf-8")
    second.write_text("自定义\t自定義乙\n", encoding="utf-8")
    specs = [f"st_phrases:append:{first}", f"st_phrases:append:{second}"]
    text = "自定义的软件"
    src = tmp_path / "in.txt"
    dst = tmp_path / "out.txt"
    src.write_text(text, encoding="utf-8")
    argv = ["convert", "-c", "s2t", "-i", str(src), "-o", str(dst)]
    assert main(argv + ["-D", specs[0], "-D", specs[1]]) == 0
    df = spark.createDataFrame([(text,)], "text string")
    udf = convert_udf("s2t", custom=load_custom_specs(specs))
    got = df.select(udf(F.col("text")).alias("o")).first().o
    assert dst.read_text(encoding="utf-8") == got == "自定義乙的軟體A"
