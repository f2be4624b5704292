"""Physical-plan hygiene: the scale properties this engine claims are
pinned as assertions on `.explain()` output, so a regression that makes a
plan silently worse (a lost broadcast, a second Python stage, a
sort-window guard) fails CI rather than only showing up as a 100 TB
incident.

Each test documents WHY the property matters at scale.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_lsh_guard_is_not_a_sort_window(spark):
    """The oversized-bucket guard must be an aggregate + anti-join, never
    a Window.partitionBy(band_key) — the window sort-shuffles every
    exploded band row (the round-2 dedup_minhash 48 s plan)."""
    from openccnet_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(lsh_candidate_pairs(minhash_signatures(docs)))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pipeline_has_exactly_one_python_stage(spark):
    """The fused quality-filter UDF must stay ONE ArrowEvalPython stage:
    each extra stage spawns its own Python worker per task (local[32]
    thrashes at 2x workers) and pays an extra Arrow round-trip."""
    from openccnet_spark.operators.pipeline import quality_filter

    df = quality_filter(spark.read.parquet(f"{SF_DIR}/../sf0.001/documents.parquet").selectExpr(
        "cast(doc_id as string) conv_id",
        "cast(doc_id as int) turn_idx",
        "'user' role",
        "text",
        "'' tool",
        "current_timestamp() ts",
    ))
    # "simple" mode: one line per node ("formatted" lists each node twice
    # — tree + detail section — which would double the count)
    plan = _plan(df, "simple")
    assert plan.count("ArrowEvalPython") == 1


def test_exact_dedup_prehash_partial_aggregates(spark):
    """The prehash groupBy must show two-phase (partial then final)
    hash aggregation — map-side combine is what keeps the shuffle at
    one row per distinct key per task."""
    plan = _plan(entry_mod.queries()["dedup_exact_prehash"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "xxhash64" in plan


def test_quality_quantiles_has_no_window(spark):
    """Per-language percentiles must come from the bounded-domain histogram
    (groupBy(lang, q) + linear fold over <= 1001 rows/lang), never a
    row_number sort window — the window funnels each language's ENTIRE
    corpus into one reducer task at 100 TB."""
    plan = _plan(entry_mod.queries()["quality_quantiles"](spark, SF_DIR))
    assert "Window" not in plan
    # the histogram must be a real two-phase aggregate (map-side combined)
    assert plan.count("HashAggregate") >= 2


def test_conv_fold_is_one_conv_shuffle_no_window(spark):
    """conv_fold_tools must be a single hashpartitioning(conv_id)
    exchange feeding a JVM aggregate fold — never a Window over turns
    (which would sort-shuffle every turn row) and never a Python stage.
    State stays conversation-bounded."""
    plan = _plan(entry_mod.queries()["conv_fold_tools"](spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the fold itself must be the JVM higher-order aggregate, partial-agg'd
    assert "aggregate(" in plan and "collect_list" in plan


def test_no_rowwise_python_in_any_query(spark):
    """GLOBAL invariant: no driver query may contain a row-at-a-time
    Python UDF stage (BatchEvalPython) — Python is allowed only as
    Arrow-vectorized stages (ArrowEvalPython / mapInPandas). Row-wise
    Python is the canonical 10-100x hot-path slowdown at scale."""
    import __spark_entry__ as entry_mod

    offenders = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, SF_DIR)
            plan = _plan(df, "simple")
        except Exception as exc:  # a broken builder is its own failure
            offenders.append((name, f"builder failed: {exc}"))
            continue
        # builders may persist-with-handles; release the (unmaterialized)
        # registrations so the sweep leaves the CacheManager clean
        for h in getattr(df, "_persist_handles", ()):
            h.unpersist()
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython stage"))
    assert not offenders, offenders
