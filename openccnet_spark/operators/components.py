"""Connected components over near-duplicate pair lists — the clustering
step that turns pairwise dedup output (MinHash/SimHash/embedding pairs)
into per-document keep/drop decisions: one canonical document per
component, everything else dropped.

Two algorithms, same (node, component=min-reachable-id) contract:

* ``connected_components`` — iterative **min-label propagation**. Every
  node starts labeled with its own id; each round, a node's label becomes
  the minimum of its own and its neighbors' labels; at fixpoint every node
  carries the smallest id in its component. Spark shape per round: one
  equi-join (edges x labels) + one groupBy-min — both shuffle on node ids,
  with map-side partial aggregation. Convergence is O(component diameter)
  rounds — the right default for near-dup clusters, whose diameters are a
  few hops (a document, its variants, their variants).

* ``connected_components_star`` — alternating **large-star / small-star**
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14 — public literature). Each round rewires edges toward per-
  neighborhood minima: large-star points every larger neighbor of u at
  m(u) = min(N(u) ∪ {u}); small-star re-orients edges big→small and points
  each smaller neighborhood (plus u itself) at its minimum. Converges in
  O(log n) rounds regardless of diameter — the choice for adversarial /
  long-chain graphs where propagation's O(diameter) bound breaks (pinned
  by a 1,000-node path-graph test).

Checkpointing: every round materializes + cuts lineage so the plan stays
O(1) deep. ``reliable=False`` uses ``localCheckpoint`` (executor-local
blocks — fastest, but a lost executor loses them and fails the iteration
late). ``reliable=True`` uses real ``checkpoint()`` into
``spark.sparkContext.setCheckpointDir`` storage (HDFS/object store on a
cluster), which survives executor loss — the correct setting for real
multi-hour 100 TB runs. If no checkpoint dir is configured, a local
temporary one is set (fine on local[*]; a cluster job should point it at
durable storage). ``checkpoint_interval=k`` durably checkpoints every k-th
round (persist-only in between): recompute-on-failure stays bounded by k
rounds while checkpoint write I/O falls to ~1/k, and the previous
checkpoint's files are deleted as each new one lands, so on-disk state is
one frame regardless of round count.

Fixpoint detection (both variants) compares an order-insensitive 64-bit
set digest between rounds — count + XOR of xxhash64 over the frame's
unique rows ((node, label) pairs for propagation, (u, v) edges for the
star variant). Labels only ever decrease (min of a set including the old
value), so an unchanged label set means no label moved — the fixpoint.
A raw SUM of labels would be simpler but ARITHMETIC_OVERFLOWs under
default-on ANSI mode for 64-bit (e.g. hash-derived) node ids; the XOR
digest cannot overflow and is deterministic (collision odds ~2^-64 per
comparison).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpointer(df: DataFrame, reliable: bool):
    """Materialize + cut lineage: localCheckpoint (fast, executor-local)
    or reliable checkpoint (survives executor loss; requires a checkpoint
    dir — auto-set to a temp dir when unset, for local[*] use). Spark
    does not delete reliable checkpoint data itself, so an auto-created
    dir is removed at interpreter exit (repeated bench/driver runs must
    not accumulate per-round frames under /tmp); a cluster job should
    point ``setCheckpointDir`` at durable storage it manages."""
    if not reliable:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt = tempfile.mkdtemp(prefix="openccnet-ckpt-")
        atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
        sc.setCheckpointDir(ckpt)
    return df.checkpoint()


def _checkpoint_uri(cdf: DataFrame) -> str | None:
    """Storage URI of a reliably-checkpointed frame's files (via the
    LogicalRDD the checkpoint left in the plan); None when unavailable —
    cleanup then simply skips, it never risks correctness."""
    try:
        opt = cdf._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        return opt.get() if opt.isDefined() else None
    except Exception:
        return None


def _delete_checkpoint(df: DataFrame, uri: str) -> None:
    """Best-effort delete of one rdd-NNN checkpoint directory through the
    Hadoop FileSystem the URI resolves to (works on HDFS/object stores,
    not just the driver's local disk)."""
    try:
        spark = df.sparkSession
        p = spark._jvm.org.apache.hadoop.fs.Path(uri)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(p, True)
    except Exception:
        pass


class _RoundCheckpointer:
    """Per-round lineage management for the iterative operators.

    ``reliable=False``: localCheckpoint every round (fast executor-local
    blocks; ContextCleaner reclaims them as Python drops references).

    ``reliable=True``: a real durable ``checkpoint()`` every ``interval``
    rounds; rounds in between only ``persist()``, so lineage stays rooted
    at the last durable checkpoint — executor-loss recompute cost is
    bounded by ``interval`` rounds while checkpoint I/O drops to
    ~1/interval of the every-round policy. Disk state is bounded too:
    the moment a new durable checkpoint materializes, the previous
    round's checkpoint files are deleted and the in-between persisted
    frames unpersisted (the new checkpoint cut their lineage — nothing
    can re-read them). The final frame's own files are never deleted
    here; an auto-created checkpoint dir is removed at interpreter exit
    (``_checkpointer``).
    """

    def __init__(self, reliable: bool, interval: int = 1):
        self.reliable = reliable
        self.interval = max(1, int(interval))
        self._round = 0
        self._live_uri: str | None = None
        self._pending: list[DataFrame] = []
        #: True when the most recent step produced a durable checkpoint —
        #: lets callers skip a redundant final force
        self.last_durable = False

    def step(self, df: DataFrame, force: bool = False) -> DataFrame:
        """Cut the lineage of one round's frame and return the frame the
        next round reads.

        Invariant (``step_digest`` relies on it): a localCheckpoint round
        and a durable round materialize ``df`` EAGERLY, so any observed
        metrics on ``df`` have fired when this returns. A persist-only
        round (reliable mode, mid-interval) is lazy; its metrics fire only
        at the first action on the returned frame."""
        self._round += 1
        if not self.reliable:
            return df.localCheckpoint()
        self.last_durable = force or self._round % self.interval == 0
        if self.last_durable:
            out = _checkpointer(df, True)
            for p in self._pending:
                p.unpersist()
            self._pending = []
            if self._live_uri is not None:
                _delete_checkpoint(out, self._live_uri)
            self._live_uri = _checkpoint_uri(out)
            return out
        out = df.persist()
        self._pending.append(out)
        return out

    def drain(self) -> list[DataFrame]:
        """Hand the still-persisted mid-interval frames to the caller
        (the repo's ``handles`` convention) and stop tracking them."""
        out, self._pending = self._pending, []
        return out

    def step_digest(self, df: DataFrame, cols: tuple[str, str]):
        """``step`` + the round's convergence digest in ONE job.

        The digest rides the materialization as observed metrics
        (``Dataset.observe`` — ``CollectMetrics`` evaluates inside the
        checkpoint's own action, since ``checkpoint``/``localCheckpoint``
        run through ``withAction``), so the separate per-round digest
        aggregate job disappears wherever ``step`` materializes eagerly
        (localCheckpoint mode, and every durable round — e.g. the star
        variant's interval=1 policy paid checkpoint + digest as two jobs
        per round). Persist-only rounds (reliable mode mid-interval) have
        no eager action, so a ``count()`` materializes the frame and
        fires the metrics — the same single evaluate-the-round-plan job
        the old digest aggregate was, with the xxhash64/XOR work moved
        inside it. Returns ``(stepped_frame, (count, xor))`` — digest
        identical to the old two-job form: count + XOR of xxhash64 over
        the frame's unique rows, order-insensitive."""
        obs = Observation()
        out = self.step(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("x"),
            )
        )
        if self.reliable and not self.last_durable:
            out.count()
        m = obs.get
        return out, (m["n"], m["x"])


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 30,
    reliable: bool = False,
    checkpoint_interval: int = 1,
    stats: dict | None = None,
    handles: list | None = None,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; ``component`` is the
    smallest node id reachable from it. Deterministic. Driver-side control
    flow only (one tiny aggregate per round); all data stays distributed.
    O(diameter) rounds — raises past ``max_iterations``; use
    ``connected_components_star`` for unbounded-diameter graphs.
    ``checkpoint_interval`` (reliable mode): durable-checkpoint every k
    rounds instead of every round — bounded lineage/recompute at ~1/k the
    checkpoint I/O (see ``_RoundCheckpointer``). ``stats`` (optional dict)
    receives ``{"rounds": n}`` — iteration count is data-dependent, so the
    bench reports it alongside the timing.
    """
    edges = (
        # both directions from ONE pass over pairs: a union of two
        # pairs-projections references the input subtree twice, and when
        # pairs is an expensive un-materialized frame (the LSH verify
        # join) the first edges job executes it twice — measured ~2x the
        # whole dedup_components query at sf0.1. explode is one reference.
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("de")
        )
        .select(F.col("de.src").alias("src"), F.col("de.dst").alias("dst"))
        # NO distinct: min-label propagation is multiset-safe (a duplicate
        # edge contributes the same label to the same min), so deduping
        # buys nothing for correctness and costs a FULL edge-sized shuffle
        # before the repartition below. The usual input (a < b near-dup
        # pairs) explodes to already-distinct directed edges anyway;
        # inputs with duplicate pairs merely pad the per-round join.
        # pre-partition on the per-round join key: the persisted
        # HashPartitioning(dst) satisfies every iteration's join
        # distribution, so the big edge frame shuffles ONCE up front
        # instead of once per round (the labels side still shuffles —
        # it is rebuilt each round — but it is the small side: one row
        # per node vs one per directed edge)
        .repartition("dst")
        .persist()
    )
    ck = _RoundCheckpointer(reliable, checkpoint_interval)
    try:
        # Seed labels with min(node, min in-neighbor) instead of the node
        # itself: algebraically this IS the self-init plus one propagation
        # round, folded into the init — so typical near-dup graphs
        # (diameter 1-2 clusters) converge one full round earlier (one
        # fewer edge-sized join + groupBy + checkpoint + digest). It is
        # also CHEAPER than the old init: groupBy("dst") reuses the
        # persisted HashPartitioning(dst) (zero exchange), where
        # select(src).distinct() paid a full edge-sized shuffle. The
        # fixpoint (min reachable id per node) is unchanged; edges are
        # symmetric, so in-neighbors == neighbors and every node appears
        # as a dst.
        labels = (
            edges.groupBy("dst")
            .agg(F.min("src").alias("mn"))
            .select(
                F.col("dst").alias("node"),
                F.least(F.col("dst"), F.col("mn")).alias("label"),
            )
        )
        # Digest semantics (both variants): ANSI-safe label-set digest —
        # summing raw labels overflows on 64-bit (e.g. xxhash64-derived)
        # ids, ARITHMETIC_OVERFLOW under default-on ANSI mode. (node,
        # label) pairs are unique, so count + XOR of xxhash64 is an
        # order-insensitive set digest; labels are monotone-decreasing, so
        # an unchanged set (whp) means no label moved — the fixpoint.
        # step_digest folds it into each round's materialization (one job
        # per round, not checkpoint + digest as two); the seed call below
        # also MATERIALIZES the persisted labels (and edges beneath them)
        # before round 1's plan references labels twice (the rebuild join
        # + nbr_min) — without that, the un-filled subtree (pairs
        # included) would re-evaluate once per reference.
        labels, prev = ck.step_digest(labels, ("node", "label"))
        for _round in range(max_iterations):
            nbr_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            labels, cur = ck.step_digest(
                labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                    ).alias("label"),
                ),
                ("node", "label"),
            )
            if stats is not None:
                stats["rounds"] = _round + 1
            if cur == prev:
                break
            prev = cur
        else:
            raise ValueError(
                f"connected_components did not converge in {max_iterations} rounds "
                "(component diameter exceeds the bound — raise max_iterations or "
                "switch to connected_components_star)"
            )
        if reliable:
            # mid-interval persist-only round frames must not leak in the
            # shared session's CacheManager: hand them to the caller via
            # ``handles`` (unpersist AFTER materializing the result — the
            # repo convention); with no handles list, force a durable
            # checkpoint of the result so everything can release now
            if handles is not None:
                handles.extend(ck.drain())
            elif not ck.last_durable:
                labels = ck.step(labels, force=True)
    finally:
        edges.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 50,
    reliable: bool = False,
    checkpoint_interval: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star — the
    O(log n)-round variant for graphs whose diameter is unbounded (long
    duplicate chains, adversarial inputs).

    Per round over the canonical edge set E (u > v, deduped):
      * large-star: symmetrize E; per node u, m = min(N(u) ∪ {u}); new
        edges {(x, m) : x ∈ N(u), x > u}.
      * small-star: orient big→small; per node u, m = min(N(u) ∪ {u})
        (= min of the smaller neighbors); new edges
        {(x, m) : x ∈ N(u) ∪ {u}, x ≠ m}.
    Both are one groupBy-min + one equi-join on u — identical shuffle
    building blocks to propagation, just O(log n) rounds. At the fixpoint
    E is a union of stars (leaf → component-min), read off directly.

    ``checkpoint_interval``: keep the default 1 here. Star runs few
    rounds (per-round durable checkpoints are already cheap) and its
    bushy per-round plan makes persist-only rounds pay more in
    nested-plan analysis than the checkpoint I/O they save (solo A/B at
    sf0.1: 23.4 s at interval=4 vs 7.1 s at 1 — BENCH.md round 5). The
    knob's win is for propagation's many shallow rounds.
    """
    # pairs feeds BOTH the canonical edge set and the node set — when it
    # is an un-materialized verify-join (the bench's minhash output) each
    # reference re-executed the candidate+verify joins. Persist
    # internally: unlike most operators this one is safe to self-persist
    # with no release channel, because the loop below eagerly
    # materializes (checkpoints) everything derived from it, so the
    # persist is released in the outer finally BEFORE the caller ever
    # evaluates the returned frame.
    pairs = pairs.persist()
    e = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("u"),
            F.least(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # all nodes of the input graph (singleton-free: pairs always have 2
    # ends); one explode pass — a two-branch union would re-execute the
    # un-materialized pairs subtree (same fix as propagation's edges)
    nodes = (
        pairs.select(
            F.explode(F.array(F.col(a_col), F.col(b_col))).alias("node")
        )
        .distinct()
        .persist()
    )
    ck = _RoundCheckpointer(reliable, checkpoint_interval)
    # the per-round `large` persist must not leak into the shared session's
    # CacheManager on failure paths (an exception in the small-star step or
    # the digest action) — leaked persists measurably degrade later queries
    # 2-4x; track the live one and release it in the outer finally
    round_persists: list[DataFrame] = []
    try:
        e, prev = ck.step_digest(e, ("u", "v"))
        for _round in range(max_iterations):
            # ---- large-star ----
            sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
            m = F.least(F.col("u"), F.col("mn")).alias("m")
            large = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), m.alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                # consumed TWICE below (small-star's groupBy AND its join):
                # without materialization the whole large-star subplan —
                # union + groupBy + join + distinct — executes twice per
                # round (measured ~2x round cost at sf0.1)
                .persist()
            )
            round_persists.append(large)
            # ---- small-star (edges already big->small: u > v) ----
            smins = large.groupBy("u").agg(F.min("v").alias("mn"))
            small = (
                large.join(smins, "u")
                .select(
                    F.explode(F.array(F.col("v"), F.col("u"))).alias("x"),
                    F.col("mn"),
                )
                .filter(F.col("x") != F.col("mn"))
                .select(F.col("x").alias("u"), F.col("mn").alias("v"))
                .distinct()
            )
            # step_digest folds the convergence digest into the round's
            # checkpoint job (under star's default interval=1 policy the
            # old form paid checkpoint + digest as TWO jobs per round) and
            # always materializes e — only after it is `large`
            # re-read-proof
            e, cur = ck.step_digest(small, ("u", "v"))
            large.unpersist()
            round_persists.remove(large)
            if stats is not None:
                stats["rounds"] = _round + 1
            if cur == prev:
                break
            prev = cur
        else:
            raise ValueError(
                f"connected_components_star did not converge in {max_iterations} "
                "rounds (O(log n) bound exceeded — pathological input?)"
            )
        # fixpoint E is a union of stars: each non-root points at its
        # component min; roots (and isolated-within-graph nodes) map to self
        comp = e.groupBy("u").agg(F.min("v").alias("component"))
        out = nodes.join(comp, nodes.node == comp.u, "left").select(
            "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
        )
        # materialize before releasing `nodes`; force=True so the final
        # frame is durably checkpointed even mid-interval (its files are
        # the result — never deleted here)
        out = ck.step(out, force=True) if reliable else _checkpointer(out, False)
    finally:
        # out is eagerly checkpointed above — nothing can re-read these
        pairs.unpersist()
        nodes.unpersist()
        for f in round_persists:
            f.unpersist()
    return out


def canonical_documents(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 30,
    reliable: bool = False,
    algorithm: str = "propagation",
    checkpoint_interval: int = 1,
    handles: list | None = None,
) -> DataFrame:
    """Per-document dedup decision from a near-dup pair list:
    (doc_id, component, is_canonical, n_members). Documents that appear in
    no pair are their own singleton component (canonical by definition).
    The keep-set = rows with ``is_canonical`` true — the end-to-end
    "dedup this corpus" operator built from pairs + components.
    ``algorithm``: 'propagation' (O(diameter), the near-dup default) or
    'star' (large-star/small-star, O(log n) for unbounded diameters).
    """
    if algorithm == "star":
        comp = connected_components_star(
            pairs, max_iterations=max_iterations, reliable=reliable,
            checkpoint_interval=checkpoint_interval,
        )
    elif algorithm == "propagation":
        comp = connected_components(
            pairs, max_iterations=max_iterations, reliable=reliable,
            checkpoint_interval=checkpoint_interval, handles=handles,
        )
    else:
        raise ValueError(f"unknown algorithm {algorithm!r} (propagation|star)")
    labeled = (
        docs.select(F.col(id_col))
        .join(comp, docs[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    # canonical id + member count come from the DOCS side of the join,
    # not the pair graph: if the pair list references ids no longer in
    # docs (stale snapshot, pre-filtered corpus), the component minimum
    # may be a ghost and `doc_id == component` would elect NO canonical,
    # silently dropping the whole cluster from the keep-set. Electing the
    # surviving min-id member keeps exactly one canonical per cluster;
    # for pairs ⊆ docs (the normal case) it is identical to
    # doc_id == component, and n_members counts documents, not graph
    # nodes.
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(id_col).alias("canonical_id"),
    )
    return (
        labeled
        # NOT broadcast: component count grows with the corpus (one row
        # per cluster) — a plain shuffle join; AQE may still broadcast it
        # when it is actually small
        .join(sizes, "component")
        .select(
            id_col,
            "component",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )
