"""The commit path's wait for observed metrics is bounded
(``operators.metrics.observed``): an observation whose frame never runs
raises a ``TimeoutError`` naming the run instead of blocking forever the
way ``Observation.get`` does."""

from __future__ import annotations

import threading

from pyspark.sql import Observation
from pyspark.sql import functions as F

from openccnet_spark.operators import metrics
from openccnet_spark.operators.metrics import observed


def _under_deadline(fn, seconds: float = 60):
    """Run ``fn`` in a daemon thread; fail if it has not returned in time."""
    result: dict = {}

    def run():
        try:
            result["out"] = fn()
        except Exception as exc:  # re-raised on the test thread below
            result["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=seconds)
    assert not t.is_alive(), "observed() did not return"
    return result


def test_unrun_observation_times_out_naming_the_run(spark, monkeypatch):
    monkeypatch.setattr(metrics, "OBSERVATION_TIMEOUT_S", 0.5)
    obs = Observation()
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))  # no action ever runs it
    result = _under_deadline(lambda: observed(obs, "run-never"))
    assert isinstance(result.get("error"), TimeoutError)
    assert "run-never" in str(result["error"])


def test_run_observation_returns_its_metrics(spark):
    obs = Observation()
    df = spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.format("noop").mode("overwrite").save()
    result = _under_deadline(lambda: observed(obs, "run-done"))
    if "error" in result:
        raise result["error"]
    assert result["out"] == {"n": 10}

