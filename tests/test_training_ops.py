"""Tests for the training-data operators: dedup, connected components,
textstats, encrypted PDF conversion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openccnet_spark.operators import dedup, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_duplicates(spark, docs):
    n = docs.count()
    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    out = dedup.exact_duplicates(doubled).collect()
    assert len(out) == n  # one group per distinct text
    assert all(r.n_copies == 2 for r in out)
    assert all(r.canonical_id < 100000 for r in out)  # min id wins


def _with_mutants(docs):
    """Append near-duplicates: each doc minus its last word."""
    mutated = docs.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text",
        F.expr("substring(text, 1, length(text) - length(element_at(split(text, ' '), -1)) - 1)"),
    )
    return docs.unionByName(mutated)


def test_minhash_near_duplicates(spark, docs):
    n = docs.count()
    pairs = dedup.minhash_near_duplicates(_with_mutants(docs)).collect()
    found = {(r.a, r.b) for r in pairs}
    planted = {(i, i + 100000) for i in range(n)}
    missing = planted - found
    assert not missing, f"LSH missed {len(missing)} planted near-dup pairs"
    for r in pairs:
        assert r.jaccard_milli >= 700


def test_simhash_near_duplicates(spark, docs):
    pairs = dedup.simhash_near_duplicates(_with_mutants(docs), max_hamming=3).collect()
    found = {(r.a, r.b) for r in pairs}
    n = docs.count()
    planted = {(i, i + 100000) for i in range(n)}
    # SimHash @ hamming<=3 is intentionally strict: dropping a word from a
    # short doc can flip >3 bits, so recall on these mutants is ~80% (the
    # operator contract is "very close texts", not MinHash-style Jaccard)
    assert len(planted & found) >= 0.75 * n
    assert all(r.hamming <= 3 for r in pairs)


def test_textstats_consistency(spark, docs):
    out = docs.select(
        "doc_id",
        textstats.whitespace_token_count(F.col("text")).alias("ws"),
        textstats.regex_token_count(F.col("text")).alias("re_tok"),
        textstats.quality_score_milli(F.col("text")).alias("q"),
        textstats.fingerprint64(F.col("text")).alias("fp"),
    ).collect()
    import zlib

    for r in out[:20]:
        assert r.ws >= 1 and r.re_tok >= r.ws - 1
        assert 0 <= r.q <= 1000
        assert r.fp >= 0


def test_simhash_banded_oracle_equals_brute():
    """Pigeonhole totality at test scale, in DuckDB alone: the driver's
    banded simhash oracle (which replicates the SIMHASH_MAX_BUCKET
    bucket-drop so it stays correct at any oracle scale) must equal the
    brute-force hamming<=3 pair set at sf0.01 — i.e. the guard is inert
    there and banding loses no pairs."""
    import duckdb

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        "SELECT * FROM '/root/testdata/sf0.01/documents.parquet'"
    )
    banded = con.sql(entry_mod._dedup_simhash_oracle(banded=True)).fetchall()
    brute = con.sql(entry_mod._dedup_simhash_oracle(banded=False)).fetchall()
    assert len(brute) > 0
    assert sorted(banded) == sorted(brute)


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation: a 5-node chain (diameter 4), a triangle, and
    an isolated pair must each collapse to their minimum id."""
    from openccnet_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                           # pair
        "a long, b long",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_iteration_guard(spark):
    """A diameter larger than max_iterations must raise, not silently
    return half-merged components."""
    import pytest

    from openccnet_spark.operators.components import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "a long, b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(chain, max_iterations=2)


def test_canonical_documents_singletons_and_clusters(spark):
    """canonical_documents: pair members share a component with one
    canonical row; unpaired docs are their own singleton components."""
    from openccnet_spark.operators.components import canonical_documents

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(1, 7)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    rows = {r.doc_id: r for r in canonical_documents(pairs, docs).collect()}
    assert [rows[i].component for i in (1, 2, 3)] == [1, 1, 1]
    assert rows[4].component == 4 and rows[4].is_canonical and rows[4].n_members == 1
    assert rows[5].component == 5 and rows[6].component == 5
    assert [rows[i].is_canonical for i in (1, 2, 3, 5, 6)] == [True, False, False, True, False]
    assert rows[1].n_members == 3 and rows[5].n_members == 2


def test_star_components_match_propagation(spark):
    """large-star/small-star must produce the identical (node, component)
    map as min-label propagation on a mixed graph."""
    from openccnet_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "a long, b long",
    )
    prop = {r.node: r.component for r in connected_components(pairs).collect()}
    star = {r.node: r.component for r in connected_components_star(pairs).collect()}
    assert star == prop


def test_star_converges_on_1000_node_path_graph(spark):
    """A 1,000-node path graph (diameter 999 >> propagation's 30-round
    bound) must converge in O(log n) large-star/small-star rounds, through
    the RELIABLE checkpoint path, and match the DuckDB recursive-CTE
    transitive-closure oracle."""
    from openccnet_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    import duckdb

    duck = duckdb.connect()
    edges = [(i, i + 1) for i in range(1000 - 1)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    # propagation provably cannot do this within its round bound
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(pairs, max_iterations=30)
    got = {
        r.node: r.component
        for r in connected_components_star(pairs, reliable=True).collect()
    }
    duck.execute(
        "CREATE OR REPLACE TEMP TABLE p AS SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in edges)
        + ") t(a, b)"
    )
    oracle = dict(
        duck.execute(
            """
WITH RECURSIVE
edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
)
SELECT node, min(label) FROM walk GROUP BY node
"""
        ).fetchall()
    )
    assert got == oracle and len(got) == 1000


@pytest.fixture
def ckpt_dir(spark, tmp_path):
    """Point the session's checkpoint dir under ``tmp_path`` for one test."""
    sc = spark.sparkContext
    old_dir = sc.getCheckpointDir()
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    yield ckpt
    if old_dir is not None:
        sc.setCheckpointDir(old_dir)
    else:
        # can't unset; point at a dir that outlives tmp_path like
        # _checkpointer's auto-dir would
        import atexit
        import shutil
        import tempfile

        fresh = tempfile.mkdtemp(prefix="openccnet-ckpt-")
        atexit.register(shutil.rmtree, fresh, ignore_errors=True)
        sc.setCheckpointDir(fresh)


def test_checkpoint_interval_same_result_bounded_disk(spark, ckpt_dir):
    """checkpoint_interval=k (reliable mode) must (a) produce identical
    components to every-round checkpointing for BOTH algorithms, and
    (b) leave at most ONE live iteration checkpoint on disk at the end —
    prior rounds' rdd-* dirs are deleted as new checkpoints land."""
    import os
    import shutil

    from openccnet_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    # multi-round graph: two chains + a clique (propagation needs ~4 rounds)
    edges = [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    for fn, n_final in ((connected_components, 1), (connected_components_star, 2)):
        base = {
            r.node: r.component
            for r in fn(pairs, reliable=True, checkpoint_interval=1).collect()
        }
        for d in os.listdir(ckpt_dir):
            shutil.rmtree(os.path.join(ckpt_dir, d))
        got = {
            r.node: r.component
            for r in fn(pairs, reliable=True, checkpoint_interval=3).collect()
        }
        assert got == base, fn.__name__
        rdd_dirs = [
            os.path.join(root, d)
            for root, dirs, _ in os.walk(ckpt_dir)
            for d in dirs
            if d.startswith("rdd-")
        ]
        # propagation keeps only the last round's checkpoint; star also
        # keeps the forced final read-off frame
        assert len(rdd_dirs) <= n_final, (fn.__name__, rdd_dirs)


@pytest.mark.parametrize(
    "reliable, interval",
    [(False, 1), (True, 1), (True, 2)],
    ids=["local_checkpoint", "durable_checkpoint", "persist_count"],
)
def test_step_digest_matches_separate_aggregate(spark, ckpt_dir, reliable, interval):
    """step_digest's observed (count, xor) equals a separate count +
    bit_xor(xxhash64) aggregate on each step path: localCheckpoint, a
    durable checkpoint, and a persist-only first round that needs its own
    count(). The call runs in a daemon thread with a deadline, so a Spark
    change that stops the observed metrics firing fails here instead of
    blocking forever in ``Observation.get``."""
    import threading

    from openccnet_spark.operators.components import _RoundCheckpointer

    df = spark.createDataFrame([(i, i % 7) for i in range(200)], "node long, label long")
    ck = _RoundCheckpointer(reliable, interval)
    result: dict = {}

    def run():
        try:
            result["out"], result["digest"] = ck.step_digest(df, ("node", "label"))
        except Exception as exc:  # re-raised on the test thread below
            result["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "step_digest did not return: observed metrics never fired"
    if "error" in result:
        raise result["error"]
    assert ck.last_durable == (reliable and interval == 1)
    exp = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("node", "label")).alias("x")
    ).first()
    assert result["digest"] == (exp.n, exp.x)
    assert result["out"].count() == exp.n
    for h in ck.drain():
        h.unpersist()


def test_components_driver_query_releases_all_caches(spark):
    """The reliable/interval components query must leave NO extra cached
    frames once its _persist_handles are released — mid-interval
    persist-only round frames leaked here once, degrading every later
    query in the shared session (review finding, round 5)."""
    import __spark_entry__ as entry

    sc = spark.sparkContext

    def n_cached():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    df = entry.queries()["dedup_components"](spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    for h in getattr(df, "_persist_handles", ()):
        h.unpersist(True)  # blocking, so storage info is settled
    assert n_cached() <= before


def test_canonical_documents_star_algorithm(spark):
    """canonical_documents(algorithm='star') must match propagation."""
    from openccnet_spark.operators.components import canonical_documents

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(1, 7)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    prop = {r.doc_id: (r.component, r.is_canonical, r.n_members)
            for r in canonical_documents(pairs, docs).collect()}
    star = {r.doc_id: (r.component, r.is_canonical, r.n_members)
            for r in canonical_documents(pairs, docs, algorithm="star").collect()}
    assert star == prop
    import pytest as _p
    with _p.raises(ValueError, match="unknown algorithm"):
        canonical_documents(pairs, docs, algorithm="bogus")


def test_convert_pdf_files_with_password(spark, tmp_path):
    """The distributed PDF source must ship the password into the
    mapInPandas workers."""
    from openccnet_spark.sources.pdf import convert_pdf_files
    from openccnet_spark.sources.pdf_synth import build_pdf_encrypted

    pdf = build_pdf_encrypted([["这是简体内容。"]], user_pw=b"pw", method="rc4")
    (tmp_path / "locked.pdf").write_bytes(pdf)
    rows = convert_pdf_files(
        spark, str(tmp_path / "*.pdf"), config="s2t", password=b"pw"
    ).collect()
    assert len(rows) == 1 and rows[0].text.strip() == "這是簡體內容。"
    # without the password: honest empty extraction, no exception
    empty = convert_pdf_files(spark, str(tmp_path / "*.pdf"), config="s2t").collect()
    assert empty[0].text.strip() == ""


def test_star_components_edge_cases(spark):
    """Empty pair list and self-loop-only input must not hang or throw."""
    from openccnet_spark.operators.components import connected_components_star

    empty = spark.createDataFrame([], "a long, b long")
    assert connected_components_star(empty).count() == 0
    selfloops = spark.createDataFrame([(7, 7), (8, 8)], "a long, b long")
    got = {r.node: r.component for r in connected_components_star(selfloops).collect()}
    assert got == {7: 7, 8: 8}


def test_star_matches_propagation_on_random_graphs(spark):
    """Seeded random graphs (varying density, with isolated pairs and
    multi-edges): large-star/small-star must equal min-label propagation
    node-for-node on every one."""
    import random

    from openccnet_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(0xC0FFEE)
    for trial in range(6):
        n = rng.randint(5, 40)
        m = rng.randint(3, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        pairs = spark.createDataFrame(edges, "a long, b long")
        prop = {r.node: r.component
                for r in connected_components(pairs, max_iterations=50).collect()}
        star = {r.node: r.component
                for r in connected_components_star(pairs).collect()}
        assert star == prop, f"trial {trial}: {sorted(edges)}"


def test_simhash_degenerate_bucket_guard(spark):
    """Mass-identical text (identical simhash -> all band keys shared)
    must hit the oversized-bucket guard instead of building an O(m^2)
    candidate join; distinct texts below the cap are unaffected."""
    rows = [(i, "identical boilerplate text repeated verbatim") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap below the clone count: the degenerate bucket is dropped entirely
    assert dedup.simhash_near_duplicates(df, max_bucket=10).count() == 0
    # cap above it: all C(30,2) identical pairs come back (hamming 0)
    assert dedup.simhash_near_duplicates(df, max_bucket=100).count() == 435


def _incr_corpus(spark):
    """Tiny deterministic corpus for the incremental-index tests: distinct
    12-word documents (word vocabulary disjoint across docs, so no
    accidental cross-dups)."""
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(8)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_decisions(spark, tmp_path):
    """Batch 2 vs batch 1's persisted signature index: index dups flagged
    'index', within-batch dups flagged 'batch' (greedy smaller-id-wins),
    fresh docs kept."""
    docs = _incr_corpus(spark)
    old = docs.filter(F.col("doc_id") < 4)          # ingested: ids 0-3
    fresh = docs.filter(F.col("doc_id") >= 4)       # new content: ids 4-7
    batch = (
        fresh
        # near-dup of an indexed doc (drop last word of doc 1) at id 101
        .unionByName(
            dedup.word_dropped_mutants(docs.filter(F.col("doc_id") == 1), id_offset=100)
        )
        # near-dup of fresh doc 5 at id 205 (batch dup, 205 > 5)
        .unionByName(
            dedup.word_dropped_mutants(docs.filter(F.col("doc_id") == 5), id_offset=200)
        )
    )
    idx = str(tmp_path / "index")
    dedup.minhash_signatures(old).write.parquet(idx)
    out = dedup.incremental_minhash_dedup(
        batch, spark.read.parquet(idx), old
    )
    got = {r.doc_id: (r.keep, r.dup_src) for r in out.collect()}
    assert got[101] == (False, "index")
    assert got[205] == (False, "batch")
    for i in (4, 5, 6, 7):
        assert got[i] == (True, None)
    assert len(got) == 6


def test_incremental_index_append_idempotent(spark, tmp_path):
    """Appending the survivors' signature delta to the index makes
    re-ingesting the identical batch a no-op: every doc collides with its
    own index entry (exact dup, jaccard 1000) and nothing is kept."""
    docs = _incr_corpus(spark)
    old = docs.filter(F.col("doc_id") < 4)
    batch = docs.filter(F.col("doc_id") >= 4)
    idx = str(tmp_path / "index")
    dedup.minhash_signatures(old).write.parquet(idx)

    sigs = dedup.minhash_signatures(batch)
    first = dedup.incremental_minhash_dedup(batch, spark.read.parquet(idx), old)
    assert all(r.keep for r in first.collect())
    # append the delta (survivors only) — the daily pipeline's index write
    delta = dedup.incremental_index_delta(first, sigs)
    assert delta.count() == 4
    delta.write.mode("append").parquet(idx)

    corpus2 = old.unionByName(batch)  # ingested corpus now includes batch
    second = dedup.incremental_minhash_dedup(
        batch, spark.read.parquet(idx), corpus2
    )
    got = {r.doc_id: (r.keep, r.dup_src) for r in second.collect()}
    assert got == {i: (False, "index") for i in (4, 5, 6, 7)}
    # delta of the idempotent re-run is empty: the index never grows on replay
    assert dedup.incremental_index_delta(second, sigs).count() == 0
