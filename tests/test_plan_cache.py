"""Driver-side plan construction of the quality filter and its sink.

``quality_filter``, ``with_partition_id`` and ``bucket_metrics`` apply
Column expressions cached per (SparkContext, includes, flags). These tests
pin the output schema, bound the py4j round trips one warm call makes, and
check that the cache never serves a plan built for other flags, another
SparkContext or an older set of ``--py-files`` includes. They also check
that the incremental sink leaves the caller's session conf alone.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from openccnet_spark import Converter
from openccnet_spark.functions import _freeze_custom, _worker_converter
from openccnet_spark.operators.metrics import (
    bucket_metrics,
    checkpointed_quality_filter,
    with_partition_id,
)
from openccnet_spark.operators.pipeline import OUTPUT_COLUMNS, quality_filter, reference_label
from openccnet_spark.sources.transcripts import spark_transcripts

ROOT = Path(__file__).resolve().parent.parent

# The output schema before the expressions were cached (input: transcripts).
SCHEMA_WITH_PPL = (
    "struct<conv_id:string,turn_idx:int,role:string,text:string,tool:string,"
    "ts:timestamp,lang:string,ppl:double,char_len:int,word_cnt:int,"
    "uniq_ratio:double,symbol_ratio:double,text_converted:string,"
    "text_scrubbed:string,drop_reason:string,keep:boolean>"
)
NULLABLE_WITH_PPL = [False, False, False, False, True, False, True, True,
                     True, True, True, True, True, True, False, False]
SCHEMA_NO_PPL = SCHEMA_WITH_PPL.replace("ppl:double,", "")
NULLABLE_NO_PPL = NULLABLE_WITH_PPL[:7] + NULLABLE_WITH_PPL[8:]

#: py4j round trips of one warm call (measured 38 and 65 on pyspark 4.1.2;
#: the per-job rebuild they replace made 555 and 1,014)
MAX_CALLS_QUALITY_FILTER = 40
MAX_CALLS_WITH_METRICS = 70

CUSTOM = [("st_phrases", "append", "自定义一\t自定義壹\n")]


@pytest.fixture(scope="module")
def turns(spark):
    return spark_transcripts(spark, 5)


def _mismatches(rows, config, with_ppl=True, converter=None) -> list:
    cc = converter or Converter()
    bad = []
    for row in rows:
        ref = reference_label(row.text, config, with_ppl=with_ppl, converter=cc)
        ppl = row.ppl if with_ppl else None
        ppl_equal = (ppl is None) == (ref["ppl"] is None) and (
            ppl is None or abs(ppl - ref["ppl"]) <= 1e-12
        )
        fields = ("text_converted", "text_scrubbed", "lang", "drop_reason", "keep")
        if not ppl_equal or any(row[f] != ref[f] for f in fields):
            bad.append((row.conv_id, row.turn_idx))
    return bad


def test_output_schema_is_pinned(turns):
    for with_ppl, schema, nullable in [
        (True, SCHEMA_WITH_PPL, NULLABLE_WITH_PPL),
        (False, SCHEMA_NO_PPL, NULLABLE_NO_PPL),
    ]:
        out = quality_filter(turns, with_ppl=with_ppl)
        added = [c for c in OUTPUT_COLUMNS if with_ppl or c != "ppl"]
        assert out.columns == turns.columns + added
        assert out.schema.simpleString() == schema
        assert [f.nullable for f in out.schema.fields] == nullable


def _count_calls(spark, monkeypatch, build) -> int:
    """py4j commands the calling thread sends while ``build()`` runs."""
    client_cls = type(spark.sparkContext._gateway._gateway_client)
    send = client_cls.send_command
    me = threading.get_ident()
    calls = [0]

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client_cls, "send_command", counting)
        build()
    return calls[0]


def test_warm_plan_build_makes_tens_of_py4j_calls(spark, turns, monkeypatch):
    def pipeline():
        return quality_filter(turns)

    def with_metrics():
        return bucket_metrics(quality_filter(with_partition_id(turns)))

    for build, bound in [
        (pipeline, MAX_CALLS_QUALITY_FILTER),
        (with_metrics, MAX_CALLS_WITH_METRICS),
    ]:
        build()  # warm: the cached expressions exist
        calls = _count_calls(spark, monkeypatch, build)
        assert 0 < calls <= bound, (build.__name__, calls)


def test_cache_serves_each_flag_set_its_own_plan(spark, turns):
    extra = spark.createDataFrame(
        [("custom", 0, "user", "自定义一和自定义二", None, datetime(2024, 1, 1))], turns.schema
    )
    df = turns.unionByName(extra)
    for config in ("s2t", "t2s"):
        rows = quality_filter(df, config=config).collect()
        assert _mismatches(rows, config) == [], config
    for with_ppl in (True, False):
        rows = quality_filter(df, with_ppl=with_ppl).collect()
        assert _mismatches(rows, "t2s", with_ppl=with_ppl) == [], with_ppl
    custom_cc = _worker_converter(_freeze_custom(CUSTOM))
    rows = quality_filter(df, config="s2t", custom=CUSTOM).collect()
    assert _mismatches(rows, "s2t", converter=custom_cc) == []
    assert {r.text_converted for r in rows if r.conv_id == "custom"} == {"自定義壹和自定義二"}


_NEW_CONTEXT_SCRIPT = textwrap.dedent(
    """
    import os, tempfile, zipfile
    from pyspark.sql import SparkSession
    from openccnet_spark.operators.pipeline import _pipeline_columns, quality_filter, reference_label
    from openccnet_spark.sources.transcripts import POOL

    TEXTS = [b * r for b, r in POOL]

    def session():
        return (SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.sql.shuffle.partitions", "2").getOrCreate())

    def check(spark):
        df = spark.createDataFrame(list(enumerate(TEXTS)), "turn_idx int, text string")
        rows = quality_filter(df, config="t2s").orderBy("turn_idx").collect()
        assert len(rows) == len(TEXTS)
        for row, text in zip(rows, TEXTS):
            ref = reference_label(text, "t2s")
            for f in ("text_converted", "text_scrubbed", "lang", "drop_reason", "keep"):
                assert row[f] == ref[f], (row.turn_idx, f)

    first = session()
    check(first)
    app = first.sparkContext.applicationId
    first.stop()

    second = session()
    assert second.sparkContext.applicationId != app
    misses = _pipeline_columns.cache_info().misses
    check(second)
    assert _pipeline_columns.cache_info().misses == misses + 1, "reused a stopped context's plan"
    check(second)
    assert _pipeline_columns.cache_info().misses == misses + 1, "warm call rebuilt the plan"

    # a zip (not a bare .py, which needs no include) as --py-files ships one
    extra = os.path.join(tempfile.mkdtemp(), "plan_cache_probe.zip")
    with zipfile.ZipFile(extra, "w") as z:
        z.writestr("plan_cache_probe.py", "VALUE = 1\\n")
    second.sparkContext.addPyFile(extra)
    assert "plan_cache_probe.zip" in second.sparkContext._python_includes
    check(second)
    assert _pipeline_columns.cache_info().misses == misses + 2, "UDF kept old includes"
    second.stop()
    print("ok")
    """
)


def test_new_context_and_new_includes_rebuild_the_plan():
    """In its own process: a stopped SparkContext's plan is never reused by
    the next one, and ``addPyFile`` makes the next call build a fresh UDF,
    which snapshots the new includes."""
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    r = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT_SCRIPT],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0 and r.stdout.strip().endswith("ok"), r.stderr[-3000:]


def test_checkpointed_filter_leaves_session_conf(spark, tmp_path):
    """The sink's dynamic partition overwrite is an option of its own data
    write: the session conf is unchanged after a call, and a second batch
    into the same output still keeps the first batch's buckets."""
    key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        src = with_partition_id(spark_transcripts(spark, 20), 8)
        first = src.filter(F.col("partition_id") < 4).drop("partition_id")
        second = src.filter(F.col("partition_id") >= 4).drop("partition_id")
        out_dir = str(tmp_path / "sink")
        r1 = checkpointed_quality_filter(spark, first, out_dir, "r1", n_buckets=8)
        assert spark.conf.get(key) == "STATIC"
        r2 = checkpointed_quality_filter(spark, second, out_dir, "r2", n_buckets=8)
        assert spark.conf.get(key) == "STATIC"
        assert r1["processed"] and r2["processed"]
        written = spark.read.parquet(os.path.join(out_dir, "turns"))
        ids = {r.partition_id for r in written.select("partition_id").distinct().collect()}
        assert ids == set(r1["processed"]) | set(r2["processed"])
        assert written.count() == src.count()
    finally:
        spark.conf.set(key, saved)
