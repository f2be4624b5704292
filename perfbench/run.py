"""Benchmark of the transcript curation engine.

    python3 perfbench/run.py --workload {convert_dense,agent_incremental}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (once per seed, cached
   under ``perfbench/.work/inputs``), outside every timed region;
2. sets the engine up from a cold JVM through the workload's first job on
   a small slice (``setup_s``);
3. runs the workload's number of untimed warm-up jobs, then
   timed jobs on distinct slices for ``--seconds`` seconds (at least two);
4. checks the outputs once, outside the timed region;
5. with ``--trace 1``, also runs the traced layer chain (whose dedup and
   components outputs are checked too), the in-process replay and the
   status-store readers, and reports the per-layer metrics instead; spans
   go to ``perfbench/.work/traces``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

WORKLOADS = ("convert_dense", "agent_incremental")
MIN_TIMED_JOBS = 2
#: a job's rate is "steady" within this share of the timed median
STEADY_BAND = 0.10


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def task_slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def session(run_dir: str, slots: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(slots))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one input split per generated file (files are < 1 MB), so a
        # slice's file count, not Spark's bytes-per-core packing, sets the
        # tasks per job
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the SparkContext, then the JVM this process launched, and
    wait until every process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def tail_percentile(values: list) -> tuple[float, float]:
    """(value, percentile): the highest percentile that still has at
    least ten samples above it, never below the median (so with fewer
    than twenty samples it is the median)."""
    n = len(values)
    pct = max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0
    xs = sorted(values)
    pos = pct / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), pct


def jobs_to_steady(rates: list, ref: float) -> int:
    """Post-set-up jobs that pass before every later job's rate stays
    within STEADY_BAND of ``ref``."""
    k = len(rates)
    while k > 0 and abs(rates[k - 1] - ref) <= STEADY_BAND * ref:
        k -= 1
    return k


#: plan node that runs the pipeline's pandas UDF
PY_NODES = ("ArrowEvalPython",)


def spark_job_metrics(status, job: dict, slots: int) -> dict:
    """Stage and Python-node metrics of one untraced job, from the
    status stores."""
    from perfbench.tracing import union_length

    stages = status.stages(job["t0"], job["t1"], with_tasks=True)
    wall = job["t1"] - job["t0"]
    durs = [d for s in stages for d in s["task_s"]]
    skew = 1.0
    if stages:
        dom = max(stages, key=lambda s: s["run_s"])
        if len(dom["task_s"]) >= 2:
            skew = max(dom["task_s"]) / max(statistics.median(dom["task_s"]), 1e-9)
    sent = recv = worker = 0.0
    for e in status.sql_executions(job["t0"], job["t1"], PY_NODES):
        for m in e["nodes"].values():
            sent += m.get("data sent to Python workers", 0.0)
            recv += m.get("data returned from Python workers", 0.0)
            worker += m.get("time to run Python workers", 0.0)
    return {
        "spark.plan_s": wall - union_length([(s["start"], s["end"]) for s in stages], job["t0"], job["t1"]),
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.tasks": float(sum(s["tasks"] for s in stages)),
        "spark.task_skew": skew,
        "spark.slot_busy_frac": sum(durs) / (slots * wall),
        "spark.input_bytes": float(sum(s["input_bytes"] for s in stages)),
        "spark.shuffle_write_bytes": float(sum(s["shuffle_write_bytes"] for s in stages)),
        "udf.arrow_bytes_sent": sent,
        "udf.arrow_bytes_received": recv,
        "udf.worker_run_s": worker,
    }


def per_layer(spark, wl, jobs: list, ref: dict, run_dir: str, slots: int, extra: dict) -> tuple[dict, dict, tuple]:
    """Traced-run metrics: the traced chain on the reference slice,
    status-store readings of the untraced timed jobs, the in-process
    replay and the dictionary costs. Returns (metrics, trace payload,
    the dedup check's (rows checked, rows incorrect, notes))."""
    from openccnet_spark.operators.dedup import JACCARD_THRESHOLD

    from perfbench import checks, probes, tracing, workloads

    status = probes.SparkStatus(spark)
    timed = [j for j in jobs if j["phase"] == "timed" and j["ok"]]
    per_job = [spark_job_metrics(status, j, slots) for j in timed]
    out = {k: statistics.median(m[k] for m in per_job) for k in per_job[0]}

    tracer = tracing.Tracer()
    sink_dir = os.path.join(run_dir, "traced-sink")
    t0 = probes.now()
    counts, (doc_rows, pair_rows, canon_rows) = workloads.traced_chain(spark, tracer, wl, ref["slice"], sink_dir)
    t1 = probes.now()
    chain_stages = status.stages(t0, t1)
    for st in chain_stages:
        tracer.add_external("spark.stage", st["start"], st["end"], detail=st["name"])
    chain_exec = status.sql_executions(t0, t1)
    out.update(counts)

    spans = {s["name"]: s for s in tracer.spans}
    qf = spans["operators.pipeline.quality_filter"]
    qf_run = sum(s["run_s"] for s in chain_stages if qf["start"] <= s["start"] <= qf["end"])
    sink = spans["operators.metrics.checkpointed_quality_filter"]
    writes = [e for e in chain_exec if sink["start"] <= e["start"] <= sink["end"] and e["jobs"] > 0]
    write_end = writes[0]["end"] if writes else sink["start"]
    files, out_bytes = probes.dir_stats(sink_dir)
    in_bytes = wl.m["slices"][ref["slice"]]["bytes"]
    out.update({
        "sink.write_s": (writes[0]["end"] - writes[0]["start"]) if writes else 0.0,
        "sink.commit_s": sink["end"] - write_end,
        "sink.files_per_batch": float(files),
        "sink.output_bytes_per_input_byte": out_bytes / max(in_bytes, 1),
        "conversations.render_s": tracer.total("operators.conversations.render_chat_template"),
        "dedup.signatures_s": tracer.total("operators.dedup.minhash_signatures"),
        "dedup.verify_yield": counts["dedup.verified_pairs"] / max(counts["dedup.candidate_pairs"], 1.0),
        "components.s": tracer.total("operators.components.connected_components_star"),
    })
    rendered = checks.render_py(checks.read_rows(wl.slice_path(ref["slice"])))
    dedup_check = checks.check_dedup(doc_rows, pair_rows, canon_rows, rendered, JACCARD_THRESHOLD)
    planted, out["dedup.recall"] = checks.planted_recall(
        wl.m["clusters"][ref["slice"]], pair_rows, rendered, JACCARD_THRESHOLD)
    extra["dedup.planted_pairs"] = planted
    # the traced call runs after the timed region, further up the JIT
    # warm-up climb than any one timed job, so it is compared with the
    # median timed job (same slice size) rather than with one of them
    traced_job = sum(tracer.total(n) for n in workloads.JOB_SPANS[wl.name])
    out["trace.overhead_s"] = traced_job - statistics.median(j["secs"] for j in timed)

    out.update(tracing.dictionary_costs(wl.config))
    out.update(tracing.replay_text_layers(checks.read_parts(wl.slice_path(ref["slice"])), wl.config))
    out["udf.framework_overhead_frac"] = 1.0 - out["udf.python_busy_s"] / max(qf_run, 1e-9)
    out["convert.exec_share"] = out["convert.busy_s"] / max(qf_run, 1e-9)
    extra["pipeline_executor_run_s"] = qf_run
    payload = {"spans": tracer.spans, "self_s": tracer.self_times()}
    return out, payload, dedup_check


def measure(args, wl, run_dir: str, spec: dict) -> dict:
    from perfbench import probes

    slots = task_slots()
    attempted = failed_rows = 0
    spark = None
    jobs: list = []
    sampler = None
    try:
        t0 = time.perf_counter()
        spark = session(run_dir, slots)
        session_s = time.perf_counter() - t0
        attempted += wl.run(spark, "setup")
        setup_s = time.perf_counter() - t0
        steal0 = probes.cpu_times()
        sampler = probes.WorkerSampler().start()
        slices = iter(range(len(wl.m["slices"])))

        def job(phase: str) -> bool:
            nonlocal attempted, failed_rows
            i = next(slices, None)
            if i is None:
                return False
            rec = {"slice": i, "phase": phase, "rows": wl.rows(i), "t0": probes.now()}
            t = time.perf_counter()
            try:
                wl.run(spark, i)
                rec["ok"] = True
            except Exception:
                traceback.print_exc()
                rec["ok"] = False
                failed_rows += rec["rows"]
            rec["secs"] = time.perf_counter() - t
            rec["t1"] = probes.now()
            attempted += rec["rows"]
            jobs.append(rec)
            return True

        for _ in range(wl.warmup_jobs):
            job("warm")
        t_start = time.perf_counter()
        n_timed = 0
        while time.perf_counter() - t_start < args.seconds or n_timed < MIN_TIMED_JOBS:
            if not job("timed"):
                break
            n_timed += 1
        sampler.stop()

        timed = [j for j in jobs if j["phase"] == "timed" and j["ok"]]
        if not timed:
            raise RuntimeError("no timed job completed")
        checked, bad, notes = wl.verify(spark, [j["slice"] for j in jobs if j["ok"]])

        rates = [j["rows"] / j["secs"] for j in timed]
        secs = [j["secs"] for j in timed]
        tail, pct = tail_percentile(secs)
        error_rate = failed_rows / max(attempted, 1) + bad / max(checked, 1)
        all_rates = [j["rows"] / j["secs"] for j in jobs if j["ok"]]
        report = {
            "workload": args.workload, "seed": args.seed, "slots": slots,
            "setup_s": setup_s, "session_s": session_s, "timed_jobs": len(timed),
            "steal_pct": probes.steal_pct(steal0, probes.cpu_times()),
            "timed_wall_s": time.perf_counter() - t_start,
            "job_rows_per_s": all_rates, "job_phase": [j["phase"] for j in jobs if j["ok"]],
            "batch_s_tail_percentile": pct, "batch_s_samples": len(secs),
            "error_rate": error_rate, "rows_checked": checked, "rows_incorrect": bad,
            "failed_job_rows": failed_rows, "check_notes": notes,
            "warmup_jobs_to_steady": jobs_to_steady(all_rates, statistics.median(rates)),
        }
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (statistics.median(rates), "1/s"),
            "batch_s_p50": (statistics.median(secs), "s"),
            "batch_s_tail": (tail, "s"),
            "success_rate": (1.0 - error_rate, "frac"),
            "python_rss_mb": (sampler.peak_rss_mb, "MB"),
        }
        if args.trace:
            extra: dict = {}
            ref = timed[0]
            layer, payload, (c, b, n) = per_layer(spark, wl, jobs, ref, run_dir, slots, extra)
            checked, bad, report["check_notes"] = checked + c, bad + b, notes + n
            report.update({"rows_checked": checked, "rows_incorrect": bad,
                           "error_rate": failed_rows / max(attempted, 1) + bad / max(checked, 1)})
            layer.update({
                "setup.session_s": session_s,
                "setup.first_job_s": setup_s - session_s,
                "warmup.jobs_to_steady": float(report["warmup_jobs_to_steady"]),
                "python.workers_peak": float(sampler.peak_workers),
            })
            report.update(extra)
            report["self_s"] = payload["self_s"]
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({**payload, "report": report, "per_layer": layer}, f)
            report["trace_file"] = os.path.relpath(trace_path, ROOT)
            metrics = {k: (v, "") for k, v in layer.items()}
        units = spec["per_layer" if args.trace else "end_to_end"]
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        metrics = {k: (metrics[k][0], u) for k, u in units.items()}
        return {
            "report": report, "metrics": metrics, "correct": bad == 0 and failed_rows == 0,
            "attempted": attempted, "failed": failed_rows + bad,
        }
    finally:
        if sampler is not None:
            sampler.stop()
        shutdown_spark(spark)


def load_spec() -> dict:
    """{"end_to_end"|"per_layer": {metric: unit}} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "openccnet_spark", "__init__.py")):
        print(f"perfbench: no openccnet_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    # a SIGTERM unwinds like an error, so the JVM and workers are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from perfbench import gen, workloads

    spec = load_spec()
    inputs_root = os.path.join(WORK, "inputs")
    os.makedirs(inputs_root, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    for name in os.listdir(inputs_root):  # keep one seed per workload on disk
        if name.startswith(args.workload + "-") and name != key:
            shutil.rmtree(os.path.join(inputs_root, name), ignore_errors=True)
    manifest = gen.generate(args.workload, args.seed, os.path.join(inputs_root, key))

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM spark-submit starts (its launcher too) would otherwise
    # write a perf-counter file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    try:
        wl = workloads.WORKLOADS[args.workload](manifest, run_dir, args.seed)
        res = measure(args, wl, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print("report " + json.dumps(res["report"], sort_keys=True))
    for name, (value, unit) in res["metrics"].items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["correct"], "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
