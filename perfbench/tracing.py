"""Spans recorded from outside the program, and the in-process replay of
the text layers.

A span is (id, name, start, end, parent, job). The benchmark opens spans
around each job and each call into a layer's public function, adds spans
for the Spark stages the status store reports, keeps them all in memory
and writes them out once at exit. A layer's self time is its spans'
duration minus the part covered by their child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur is None or a > cur[1]:
            total += 0.0 if cur is None else cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (0.0 if cur is None else cur[1] - cur[0])


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if job is None and parent is not None:
            job = self.spans[parent]["job"]
        rec = {"id": len(self.spans), "name": name, "start": time.time(), "end": None,
               "parent": parent, "job": job}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_external(self, name: str, start: float, end: float, job: str | None = None,
                     detail: str | None = None) -> None:
        """A span recorded by someone else (a Spark stage): its parent is
        the innermost open-and-closed span of ``job`` that contains it."""
        parent = None
        best = None
        for s in self.spans:
            if s["end"] is None or s["name"].startswith("spark.stage"):
                continue
            if job is not None and s["job"] != job:
                continue
            if s["start"] <= start and end <= s["end"] + 0.05:
                width = s["end"] - s["start"]
                if best is None or width < best:
                    best, parent = width, s["id"]
        if parent is not None and job is None:
            job = self.spans[parent]["job"]
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "job": job, "detail": detail})

    def self_times(self) -> dict:
        """name -> summed self seconds."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict = {}
        for s in self.spans:
            covered = union_length(((c["start"], c["end"]) for c in kids.get(s["id"], ())), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + max(s["end"] - s["start"] - covered, 0.0)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **(extra or {})}, f)


#: Arrow batch size of the pandas UDF path (Spark's default
#: spark.sql.execution.arrow.maxRecordsPerBatch)
ARROW_BATCH_ROWS = 10_000


def dictionary_costs(config: str) -> dict:
    """Fresh bundle load and plan build for ``config``, single-threaded,
    bypassing the per-process caches a Python worker would fill once."""
    from openccnet_spark.dictionary import load_bundle
    from openccnet_spark.plans import ConversionPlan

    t0 = time.perf_counter()
    bundle = load_bundle.__wrapped__()
    t1 = time.perf_counter()
    plan = ConversionPlan(bundle, config)
    for rnd in plan.rounds:
        rnd.fast  # the compiled fast round the matcher uses
    t2 = time.perf_counter()
    return {
        "dictionary.load_s": t1 - t0,
        "dictionary.plan_build_s": t2 - t1,
        "dictionary.round_keys": float(sum(len(r.table) for r in plan.rounds)),
    }


def replay_text_layers(parts: list, config: str) -> dict:
    """Run the text layers the fused pipeline UDF calls, in process and
    single-threaded, over ``parts`` (one list of texts per input split,
    i.e. per Spark task) in Arrow-batch-sized chunks, timing each public
    function separately. Rows outside the raw-length gate are skipped, as
    the JVM pre-gate skips them."""
    from openccnet_spark.convert import Converter
    from openccnet_spark.functions.langid import detect_language
    from openccnet_spark.functions.ppl import perplexity
    from openccnet_spark.plans import get_plan
    from openccnet_spark.operators.quality import (
        MAX_CHARS, MIN_CHARS, PPL_MAX, REP_MIN_WORDS, REP_UNIQUE_RATIO, SYMBOL_RATIO,
        quality_metrics, scrub_text,
    )

    cc = Converter()
    rounds = get_plan(cc.bundle, config).rounds
    for rnd in rounds:
        rnd.fast
    busy = {"convert": 0.0, "langid": 0.0, "ppl": 0.0, "metrics": 0.0, "scrub": 0.0}
    chunks = [part[lo:lo + ARROW_BATCH_ROWS] for part in parts for lo in range(0, max(len(part), 1), ARROW_BATCH_ROWS)]
    n = sum(len(part) for part in parts)
    live_n = chars = changed = ppl_calls = kept = null_fields = batches = 0
    normalized = []
    pc = time.perf_counter
    t_all = pc()
    for batch in chunks:
        chunk = [t for t in batch if t is not None and MIN_CHARS <= len(t) <= MAX_CHARS]
        batches += 1
        if not chunk:
            continue
        t0 = pc()
        norm = [cc.normalize_compat(t) for t in chunk]
        conv = cc.convert_many(norm, config)
        busy["convert"] += pc() - t0
        live_n += len(chunk)
        chars += sum(len(t) for t in chunk)
        normalized.extend(norm)
        for raw, x in zip(chunk, conv):
            t0 = pc()
            lang = detect_language(x)
            t1 = pc()
            m = quality_metrics(x)
            t2 = pc()
            drop = (m["word_cnt"] >= REP_MIN_WORDS and m["uniq_ratio"] < REP_UNIQUE_RATIO) or (
                m["symbol_ratio"] > SYMBOL_RATIO)
            if not drop:
                p = perplexity(x)
                ppl_calls += 1
                drop = p > PPL_MAX and lang == "zh"
            t3 = pc()
            s = scrub_text(x)
            t4 = pc()
            busy["langid"] += t1 - t0
            busy["metrics"] += t2 - t1
            busy["ppl"] += t3 - t2
            busy["scrub"] += t4 - t3
            changed += x != raw
            null_fields += (x == raw) + (s == x)
            kept += not drop
    total = pc() - t_all
    live = max(live_n, 1)
    convertible = sum(1 for t in normalized if any(r.convertible(t) for r in rounds))
    return {
        "convert.busy_s": busy["convert"],
        "convert.mchars_per_s": chars / max(busy["convert"], 1e-9) / 1e6,
        "convert.convertible_frac": convertible / live,
        "convert.changed_frac": changed / live,
        "langid.busy_s": busy["langid"],
        "ppl.busy_s": busy["ppl"],
        "ppl.call_frac": ppl_calls / live,
        "quality.metrics_busy_s": busy["metrics"],
        "quality.scrub_busy_s": busy["scrub"],
        "quality.pre_gated_frac": (n - live_n) / max(n, 1),
        "quality.kept_frac": kept / max(n, 1),
        "udf.python_busy_s": total,
        "udf.batches": float(batches),
        "udf.identity_null_frac": null_fields / (2 * live),
    }
