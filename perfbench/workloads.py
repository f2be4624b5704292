"""The workloads, each driven through the engine's public entry points,
plus the traced layer chain every workload runs in a traced run.

A workload runs one *job* per input slice (a distinct slice each time, so
no result can be reused across jobs): ``run(spark, slice)`` returns the
number of input rows it attempted. ``verify`` is the once-per-run output
check.
"""

from __future__ import annotations

import os

from . import checks

#: rows of a slice sampled for the byte-for-byte label comparison
SAMPLE_ROWS = 200


class ConvertDense:
    """quality_filter(config="s2twp") over long, distinct, Simplified-dense
    turns, into a noop sink: the matcher dominates."""

    name = "convert_dense"
    config = "s2twp"
    #: untimed warm-up jobs between set-up and the timed region (the rate
    #: climbs for many jobs; README "Warm-up evidence"). A count, not a
    #: time, so every run times from the same point of the climb however
    #: fast the host is.
    warmup_jobs = 3

    def __init__(self, manifest: dict, run_dir: str, seed: int):
        self.m, self.run_dir, self.seed = manifest, run_dir, seed

    def slice_path(self, i) -> str:
        return self.m["setup"]["path"] if i == "setup" else self.m["slices"][i]["path"]

    def run(self, spark, i) -> int:
        from openccnet_spark.operators.pipeline import quality_filter

        df = spark.read.parquet(self.slice_path(i))
        quality_filter(df, config=self.config).write.format("noop").mode("overwrite").save()
        return self.rows(i)

    def rows(self, i) -> int:
        return self.m["setup"]["rows"] if i == "setup" else self.m["slices"][i]["rows"]

    def verify(self, spark, done: list) -> tuple[int, int, list]:
        """Sampled rows of the last job's slice (a timed one) against the
        reference path. ``done``: the slices of the completed jobs, in order."""
        return checks.check_pipeline_sample(spark, self.slice_path(done[-1]), self.config, SAMPLE_ROWS, self.seed)


class AgentIncremental(ConvertDense):
    """checkpointed_quality_filter(config="t2s") as a closed loop of
    batches, each submitted after the previous one commits, each into its
    own output directory: per-job fixed cost, the UDF boundary and the
    write/commit path dominate."""

    name = "agent_incremental"
    config = "t2s"

    def out_dir(self, i) -> str:
        return os.path.join(self.run_dir, "out", f"batch-{i}")

    def run(self, spark, i) -> int:
        from openccnet_spark.operators.metrics import checkpointed_quality_filter

        checkpointed_quality_filter(
            spark, spark.read.parquet(self.slice_path(i)), self.out_dir(i), f"batch-{i}",
            config=self.config,
        )
        return self.rows(i)

    def verify(self, spark, done: list) -> tuple[int, int, list]:
        checked = bad = 0
        notes: list = []
        for i in done:
            c, b, n = checks.check_sink_batch(
                self.slice_path(i), self.out_dir(i), self.config, SAMPLE_ROWS // len(done) + 1, self.seed + i
            )
            checked, bad, notes = checked + c, bad + b, notes + n
        return checked, bad, notes


WORKLOADS = {w.name: w for w in (ConvertDense, AgentIncremental)}


def traced_chain(spark, tracer, wl, i, sink_dir: str) -> tuple[dict, tuple]:
    """Every layer's public entry point, called once on slice ``i`` with
    each Spark operator materialized per call (persist + count) so its
    span covers its own work. Returns the counts the calls produced and,
    collected after the spans close, the dedup outputs for
    ``checks.check_dedup``: (rendered docs, pair rows, canonical rows)."""
    from openccnet_spark.operators.components import canonical_documents, connected_components_star
    from openccnet_spark.operators.conversations import render_chat_template
    from openccnet_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_near_duplicates, minhash_signatures,
    )
    from openccnet_spark.operators.metrics import checkpointed_quality_filter
    from openccnet_spark.operators.pipeline import quality_filter

    path = wl.slice_path(i)
    out: dict = {}
    held = []
    try:
        with tracer.span("job", job=f"traced-{i}"):
            turns = spark.read.parquet(path)
            with tracer.span("operators.pipeline.quality_filter"):
                labeled = quality_filter(turns, config=wl.config).persist()
                held.append(labeled)
                labeled.count()
            with tracer.span("sink.noop"):
                labeled.write.format("noop").mode("overwrite").save()
            with tracer.span("operators.metrics.checkpointed_quality_filter"):
                checkpointed_quality_filter(spark, turns, sink_dir, "traced", config=wl.config)
            with tracer.span("operators.conversations.render_chat_template"):
                docs = render_chat_template(turns).persist()
                held.append(docs)
                docs.count()
            with tracer.span("operators.dedup.minhash_signatures"):
                sigs = minhash_signatures(docs, text_col="text", id_col="conv_id").persist()
                held.append(sigs)
                sigs.count()
            with tracer.span("operators.dedup.lsh_candidate_pairs"):
                out["dedup.candidate_pairs"] = float(lsh_candidate_pairs(sigs, id_col="conv_id").count())
            with tracer.span("operators.dedup.minhash_near_duplicates"):
                pairs = minhash_near_duplicates(docs, text_col="text", id_col="conv_id").persist()
                held.append(pairs)
                out["dedup.verified_pairs"] = float(pairs.count())
            with tracer.span("operators.components.connected_components_star"):
                stats: dict = {}
                comp = connected_components_star(pairs, stats=stats)
                comp.count()
                out["components.rounds"] = float(stats.get("rounds", 0))
                # the verified pairs are distinct (a < b): every one is an edge
                out["components.edges"] = out["dedup.verified_pairs"]
            with tracer.span("operators.components.canonical_documents"):
                canon = canonical_documents(pairs, docs, id_col="conv_id", algorithm="star").persist()
                held.append(canon)
                canon.count()
        doc_rows = {r["conv_id"]: r["text"] for r in docs.collect()}
        pair_rows = [(r["a"], r["b"], r["jaccard_milli"]) for r in pairs.collect()]
        canon_rows = [(r["conv_id"], r["component"], r["is_canonical"], r["n_members"]) for r in canon.collect()]
    finally:
        for f in held:
            f.unpersist()
    return out, (doc_rows, pair_rows, canon_rows)


#: the chain's spans that make up each workload's own job, for the
#: traced-minus-untraced overhead (checkpointed_quality_filter runs the
#: pipeline itself, so on agent_incremental it is the whole job)
JOB_SPANS = {
    "convert_dense": ("operators.pipeline.quality_filter", "sink.noop"),
    "agent_incremental": ("operators.metrics.checkpointed_quality_filter",),
}
