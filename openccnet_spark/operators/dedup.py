"""Deduplication operators for training-data pipelines.

Three families, each a composition of DataFrame ops (shuffle-conscious):

* **Exact** — hash-groupBy on the text (or a normalized form). One shuffle
  on the group key; at 100 TB add a first pass grouping on a 64-bit text
  hash so the shuffle carries 8-byte keys instead of document bodies.
* **MinHash + LSH** — word-shingle -> 63-perm (21 bands x 3 rows) MinHash
  signature (numpy in
  one ``mapInPandas`` pass) -> banded LSH keys -> bucket self-join for
  candidates -> exact Jaccard verification with array built-ins. Only
  bucket keys + signatures shuffle, never the corpus; bucket size is capped
  to keep pathological buckets from exploding the candidate join.
* **SimHash** — 60-bit md5-based signature (15 hex chars, cross-engine
  reproducible), near-dup iff Hamming distance <= k on 4 x 15-bit
  pigeonhole bands; same candidate-join shape.

All hash functions are crc32-based and deterministic (NEVER Python's
``hash``, which is salted per process).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

JACCARD_THRESHOLD = 0.7
N_PERMS = 63
N_BANDS = 21  # x 3 rows/band; P(miss | j=0.7) ~= 1.5e-4, j=0.83 ~= 2e-8
ROWS_PER_BAND = N_PERMS // N_BANDS
_MERSENNE = (1 << 61) - 1
MAX_BUCKET = 200  # candidate-join guard for degenerate buckets

# fixed permutation parameters from a tiny LCG (seeded, process-independent)
def _perm_params(n: int = N_PERMS) -> tuple[np.ndarray, np.ndarray]:
    state = 0x5EED
    out = []
    for _ in range(2 * n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out.append(state % _MERSENNE or 1)
    arr = np.array(out, dtype=np.uint64)
    return arr[:n], arr[n:]


_PERM_A, _PERM_B = _perm_params()


def shingles_col(text_col, n: int = 3):
    """Distinct word n-gram shingles as an array column (JVM built-ins).

    The split result MUST be bound as a lambda variable (the single-
    element ``transform`` wrapper) rather than referenced as a plain
    subexpression: higher-order-function lambda bodies are evaluated per
    element with NO subexpression elimination, so an inline
    ``split(text)`` would re-split the whole document for every
    ``element_at`` — O(words^2) per document (measured 3-5x wall time on
    the shingle stage even at 1k docs).
    """

    def build(words):
        k = F.size(words) - (n - 1)
        # NB: Spark sequence(1, 0) yields a DESCENDING [1, 0] — guard
        # k < 1 or element_at(words, 0) throws INVALID_INDEX_OF_ZERO.
        grams = F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.array_distinct(grams)

    return F.element_at(F.transform(F.array(F.split(text_col, " ")), build), 1)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: per distinct text, the canonical (min) id + group size.

    At scale, group on a 64-bit prehash first (``F.xxhash64``) so the
    shuffle moves fixed-size keys; verify text equality within groups.
    """
    return (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def exact_duplicates_prehash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup, the 100 TB form: aggregate on ``(xxhash64(text), text)``.

    The 8-byte prehash leads the grouping key, so shuffle partitioning and
    group comparison work on fixed-size keys; the text column rides along
    (once per distinct value per map partition, thanks to partial
    aggregation) solely to keep hash collisions correct — two texts with
    equal hashes remain distinct groups. Output is identical to
    ``exact_duplicates`` and shares its oracle.
    """
    return (
        df.select(F.xxhash64(F.col(text_col)).alias("h"), text_col, id_col)
        .groupBy("h", text_col)
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def _shingle_set(text: str | None) -> set:
    """Distinct word 3-gram shingles (the split and join of ``shingles_col``)."""
    words = (text or "").split(" ")
    return {" ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 0))}


def _minhash(sh: set) -> np.ndarray:
    """63-perm MinHash signature of one shingle set (zeros when empty).

    ((a*h + b) wrapped mod 2^64) mod p, all perms x all shingles, min per
    perm. NB the uint64 product WRAPS before the % p, so this is a fixed
    deterministic mixing family, NOT an exact evaluation of the universal
    hash (a*h+b) mod p — any cross-engine recompute must reproduce the same
    mod-2^64 wrap. Recall is what matters and is validated against the
    brute-force exact-Jaccard oracle, not a collision bound."""
    if not sh:
        return np.zeros(N_PERMS, dtype=np.int64)
    h = np.array([zlib.crc32(s.encode("utf-8")) for s in sh], dtype=np.uint64)
    vals = (_PERM_A[:, None] * h[None, :] + _PERM_B[:, None]) % _MERSENNE
    return vals.min(axis=1).astype(np.int64)


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """63-perm (21 bands x 3 rows) MinHash signatures via one Arrow pass."""
    out_schema = f"{id_col} long, sig array<long>"

    def _sign(batches):
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                ids.append(did)
                sigs.append(_minhash(_shingle_set(text)).tolist())
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    return df.select(id_col, text_col).mapInPandas(_sign, out_schema)


def _signatures_with_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig, sh): MinHash signatures AND the distinct shingle sets in
    ONE Arrow pass — the shingle strings are already materialized in
    Python to hash them, so emitting them costs only the Arrow transfer,
    while the separate JVM ``shingles_col`` projection (and its second
    evaluation of the input subtree) disappears from
    ``minhash_near_duplicates``. The emitted set equals ``shingles_col``'s
    array elementwise-as-a-set (same split, same join, same distinct);
    array ORDER differs, which no consumer observes — the Jaccard verify
    uses size/intersect only (order-insensitive, oracle-pinned)."""
    out_schema = f"{id_col} long, sig array<long>, sh array<string>"

    def _run(batches):
        for pdf in batches:
            ids, sigs, shs = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = _shingle_set(text)
                ids.append(did)
                sigs.append(_minhash(sh).tolist())
                shs.append(list(sh))
            yield pd.DataFrame({id_col: ids, "sig": sigs, "sh": shs})

    return df.select(id_col, text_col).mapInPandas(_run, out_schema)


def oversized_bucket_filter(
    buckets: DataFrame, key: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Drop rows of degenerate (oversized) buckets via an aggregate +
    broadcast anti-join — NOT a ``Window.partitionBy(key)`` count, which
    sort-shuffles every exploded row. The groupBy count is map-side
    partial-aggregated (one narrow shuffle of (key, count) pairs), and the
    few oversized keys broadcast to the anti-join, so the big frame never
    shuffles for the guard at all."""
    oversized = (
        buckets.groupBy(key)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .select(key)
    )
    return buckets.join(F.broadcast(oversized), key, "left_anti")


def banded_frame(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_key) exploded over the 21 LSH bands — the banding both the
    one-shot self-join dedup AND the incremental index path share, so a
    stored index's band keys always match a fresh batch's (keys are
    DERIVED from the stored ``sig`` column, never stored themselves).

    ``band_key`` is a 64-bit ``xxhash64(band_index, row values...)``
    rather than the old underscore-joined STRING: the band frame is the
    biggest exchange of the minhash path (N_BANDS rows per doc), and an
    8-byte key shuffles/compares ~4x cheaper than a ~30-byte string while
    skipping per-row string construction entirely (guide §2.3, narrower
    types). A 64-bit band-key collision (~n_buckets^2 / 2^64) could only
    ADD a candidate pair, and every candidate is verified by exact
    Jaccard downstream — recall and output are unaffected.
    """
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(i),
                *[F.element_at("sig", i * ROWS_PER_BAND + j + 1) for j in range(ROWS_PER_BAND)],
            )
            for i in range(N_BANDS)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(bands).alias("band_key"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    persist: bool = False,
    handles: list | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs (a < b). Shuffles (band_key, id) only.

    ``persist=True`` materializes the banded frame before the bucket count
    and the self-join: without it Spark recomputes the whole upstream
    subtree (including the signature mapInPandas and its scan) once per
    consumer. Off by default for small verification runs; at scale,
    persist — or better, write signatures to a table first. Persisted
    frames are appended to ``handles`` (pass a list and unpersist them
    after materializing the result); footprint is (band_key, id) rows
    only — a few MB per million docs.
    """
    buckets = banded_frame(sig_df, id_col)
    if persist and handles is not None:
        # persist only with a release channel — an unreleasable persist
        # leaks into the shared session's CacheManager (CLAUDE.md)
        buckets = buckets.persist()
        handles.append(buckets)
    # guard: drop degenerate buckets (e.g. empty-text signatures)
    sized = oversized_bucket_filter(buckets, "band_key")
    a = sized.select(F.col("band_key"), F.col(id_col).alias("a"))
    b = sized.select(F.col("band_key"), F.col(id_col).alias("b"))
    return (
        a.join(b, "band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    persist: bool = False,
    handles: list | None = None,
) -> DataFrame:
    """MinHash/LSH candidates verified by exact Jaccard on distinct shingles.

    Output: (a, b, jaccard_milli) with a < b and jaccard >= threshold.
    Signatures and shingle sets come from ONE fused Arrow pass
    (``_signatures_with_shingles``) — the input subtree is scanned once,
    not once for the JVM shingle projection plus once for the signature
    stage. ``persist`` materializes the reused frames — the fused
    (sig, sh) frame (consumed by the banding and both verify sides) and
    the banded keys (bucket count + both self-join sides). Persisted
    frames are appended to ``handles`` for the caller to unpersist after
    materialization.
    """
    combined = _signatures_with_shingles(df, text_col, id_col)
    if persist and handles is not None:
        combined = combined.persist()
        handles.append(combined)
    shingled = combined.select(F.col(id_col), "sh").filter(F.size("sh") > 0)
    pairs = lsh_candidate_pairs(
        combined.select(F.col(id_col), "sig"), id_col,
        persist=persist, handles=handles,
    )
    sa = shingled.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a", "b", F.floor(F.col("jaccard") * 1000).cast("long").alias("jaccard_milli")
        )
    )


def ngram_jaccard_pairs_bruteforce(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    guard_max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs WITHOUT LSH — a brute-force
    O(n^2) non-equi join, VERIFICATION-ONLY by design.

    This is the ground-truth baseline that proves ``minhash_near_duplicates``
    recall, and the right tool only when the input is small (e.g. one LSH
    bucket, a golden corpus). It must never be pointed at a production
    table: ``guard_max_rows`` (default 100k -> ~5e9 candidate pairs)
    raises before the cartesian product is built. Pass ``None`` to disable
    the guard when composing it per-bucket inside a larger job.
    """
    if guard_max_rows is not None:
        # bounded probe (limit+count), never a full pass over the input
        if df.limit(guard_max_rows + 1).count() > guard_max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs_bruteforce is O(n^2): input exceeds "
                f"guard_max_rows={guard_max_rows}. Use minhash_near_duplicates "
                "at scale, or pass guard_max_rows=None for per-bucket use."
            )
    shingled = df.select(
        F.col(id_col), shingles_col(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0)
    a = shingled.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a", "b", F.floor(F.col("jaccard") * 1000).cast("long").alias("jaccard_milli")
        )
    )


SIMHASH_BITS = 60  # 15 hex chars of md5 — exactly recomputable in DuckDB too
SIMHASH_BANDS = 4  # 15 bits/band; pigeonhole-sound for hamming <= 3
_SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1


def _simhash(text: str | None) -> int:
    """60-bit SimHash of one document's distinct words (md5-prefix features)."""
    import hashlib

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    words = set((text or "").split(" "))
    h = np.array(
        [int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16) for w in words],
        dtype=np.uint64,
    )
    bitsums = (((h[:, None] >> shifts[None, :]) & 1).astype(np.int64) * 2 - 1).sum(axis=0)
    return int(((bitsums > 0).astype(np.uint64) << shifts).sum())


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash signatures via one Arrow pass (numpy per document).

    Feature hash = first 15 hex chars of md5(word), i.e. the top 60 bits —
    cross-engine reproducible (Spark ``conv(substr(md5(w),1,15),16,10)``,
    DuckDB ``('0x'||substr(md5(w),1,15))::BIGINT``), so the operator is
    fully oracle-checkable instead of rows-only. Signature bit i is set iff
    the +/-1 sum of bit i over the document's DISTINCT words is positive.
    One narrow Python stage replaces the previous 64-fold JVM expression
    (a whole-stage-codegen hazard on long documents).
    """
    out_schema = f"{id_col} long, simhash long"

    def _sign(batches):
        for pdf in batches:
            ids = pdf[id_col].tolist()
            sigs = [_simhash(text) for text in pdf[text_col]]
            yield pd.DataFrame({id_col: ids, "simhash": sigs})

    return df.select(id_col, text_col).mapInPandas(_sign, out_schema)


SIMHASH_MAX_BUCKET = 2000  # per-band guard: caps one bucket's join at ~4M rows


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    persist: bool = False,
    handles: list | None = None,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dups via pigeonhole banding on 4 x 15-bit prefixes.

    Sound for ``max_hamming <= SIMHASH_BANDS - 1``: a pair within that
    Hamming distance differs in fewer bands than exist, so at least one
    band key collides and the pair is generated as a candidate — EXCEPT
    pairs whose every shared band bucket is oversized and dropped by the
    ``max_bucket`` guard below (the driver oracle replicates that drop,
    so the contract is exact, not merely approximate). Only
    (band_key, id, simhash) shuffles — never document text.

    ``persist=True`` materializes the signatures before the self-join so
    the signature mapInPandas (and its scan) runs once instead of once
    per join side — the right call at scale (or write signatures to a
    table and self-join that). The persisted frame is appended to
    ``handles`` for the caller to unpersist after materialization.
    """
    sh = simhash_signatures(df, text_col, id_col)
    if persist and handles is not None:
        sh = sh.persist()
        handles.append(sh)
    # band key packed BIJECTIVELY into a long — (band_index << 15) | band
    # value — instead of a built string: identical buckets by construction
    # (no hashing, no collisions), ~4x narrower shuffle keys and no
    # per-row string assembly (guide §2.3, narrower types)
    bands = F.array(
        *[
            F.shiftrightunsigned("simhash", i * _SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(_SIMHASH_BAND_MASK))
            .cast("long")
            + F.lit(i << _SIMHASH_BAND_BITS).cast("long")
            for i in range(SIMHASH_BANDS)
        ]
    )
    buckets = sh.select(id_col, "simhash", F.explode(bands).alias("band_key"))
    # degenerate-bucket guard, same contract as the MinHash/embedding
    # siblings: m identical signatures (mass-duplicated boilerplate,
    # empty-ish texts) share ALL band keys and would re-create the
    # O(m^2) join the banding exists to avoid; drop those buckets (the
    # exact-dup path is the right tool for identical content). The cap is
    # LOOSER than MinHash's: a 15-bit band legitimately clusters hundreds
    # of near-template documents (real pairs — dropping them is recall
    # loss), so the guard trips only at sizes where one bucket's join
    # contribution (~max_bucket^2 rows) threatens the stage, not at mere
    # hot-band density. Pigeonhole soundness holds for pairs outside
    # dropped buckets.
    buckets = oversized_bucket_filter(buckets, "band_key", max_bucket=max_bucket)
    a = buckets.select("band_key", F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
    b = buckets.select("band_key", F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        a.join(b, "band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def word_dropped_mutants(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_offset: int = 100_000,
) -> DataFrame:
    """Near-duplicate mutants only (each doc minus its last word) at
    ``id + id_offset``."""
    return docs.withColumn(id_col, F.col(id_col) + id_offset).withColumn(
        text_col,
        F.expr(
            f"substring({text_col}, 1, length({text_col}) - "
            f"length(element_at(split({text_col}, ' '), -1)) - 1)"
        ),
    )


def append_word_dropped_mutants(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_offset: int = 100_000,
) -> DataFrame:
    """docs + near-duplicate mutants (each doc minus its last word) at
    ``id + id_offset`` — THE mutant shape shared by the driver's
    dedup corpora, the bench's scaled family, and (replicated in SQL) the
    DuckDB oracles, so all three always measure the same near-dup
    workload."""
    return docs.unionByName(word_dropped_mutants(docs, id_col, text_col, id_offset))


def incremental_minhash_dedup(
    batch: DataFrame,
    index_sigs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = JACCARD_THRESHOLD,
    persist: bool = False,
    handles: list | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a persisted corpus signature index — the
    operation a production pipeline runs daily: not "dedup this corpus
    once" but "dedup today's ingest against everything already ingested".

    Inputs:
      * ``batch`` — the new documents (``id_col``, ``text_col``).
      * ``index_sigs`` — the stored index: (``id_col``, ``sig``) MinHash
        signatures of everything already ingested, as written by
        ``minhash_signatures`` (typically ``spark.read.parquet`` of the
        index table; band keys are DERIVED from ``sig`` via the shared
        ``banded_frame``, so the index stays one slim array column and
        banding changes never invalidate stored data).
      * ``corpus`` — the already-ingested documents, used ONLY to fetch
        the text of old candidate ids for exact-Jaccard verification (an
        equi-join on id: only candidates' text is read, never the corpus
        scanned per batch doc).

    Candidates = (new band keys ⋈ index band keys) ∪ (new × new band
    self-join) — one union frame with a side tag through the shared
    oversized-bucket guard, so a degenerate bucket (boilerplate text) is
    dropped consistently on both sides. Only (band_key, id, side)
    shuffles; signatures and text never ride the candidate exchange.

    Decision (deterministic, greedy-by-id): a batch doc is KEPT iff it has
    no verified duplicate in the index AND no verified duplicate with a
    SMALLER-id batch doc. ``dup_src`` records which rule dropped it
    ('index' wins when both apply). The greedy rule intentionally does
    not chain through dropped docs (doc 9 duping only dropped doc 5 is
    still dropped: 5's survivor-or-index ancestor is its near-dup to
    within 2x the threshold band) — the same contract a daily pipeline
    wants, and exactly replicable in SQL.

    Output: (``id_col``, keep boolean, dup_src string|NULL) — one row per
    batch doc, including empty/shingle-less docs (never verifiable, always
    kept). Feed kept ids to ``incremental_index_delta`` for the signature
    rows to APPEND to the index table; appending survivors only makes
    re-ingesting the same batch idempotent (every doc then exact-dups its
    own index entry).

    Scale shape: the stored index is (id, 63-long array) — ~0.5 KB/doc,
    append-only, partitionable by ingest date; each batch run scans the
    index ONCE to derive band keys (at 100 TB, materialize (band_key, id)
    as a secondary bucketed table to skip even that), joins on band_key,
    and verifies only candidates. Nothing is ever re-deduped.
    """
    # fused signature+shingle pass over the batch (same as
    # minhash_near_duplicates): the batch subtree is scanned once and the
    # separate JVM shingle projection disappears; sh_new below reuses it
    new_combined = _signatures_with_shingles(batch, text_col, id_col)
    if persist and handles is not None:
        new_combined = new_combined.persist()
        handles.append(new_combined)
    new_sigs = new_combined.select(F.col(id_col), "sig")
    new_bands = banded_frame(new_sigs, id_col).withColumn("side", F.lit("n"))
    old_bands = banded_frame(index_sigs, id_col).withColumn("side", F.lit("o"))
    all_bands = new_bands.unionByName(old_bands)
    if persist and handles is not None:
        all_bands = all_bands.persist()
        handles.append(all_bands)
    # one guard over the COMBINED bucket population: a bucket degenerate
    # only across the union (100 old + 150 new boilerplate rows) is just
    # as join-explosive as a one-sided one
    sized = oversized_bucket_filter(all_bands, "band_key")
    n_side = sized.filter(F.col("side") == "n").select(
        "band_key", F.col(id_col).alias("a")
    )
    o_side = sized.filter(F.col("side") == "o").select(
        "band_key", F.col(id_col).alias("b")
    )
    # new x old: NO id inequality — re-ingesting a doc already in the
    # index must collide with its own entry (idempotence)
    cand_no = n_side.join(o_side, "band_key").select("a", "b").distinct()
    cand_nn = (
        n_side.join(
            n_side.select("band_key", F.col("a").alias("b")), "band_key"
        )
        .filter(F.col("a") > F.col("b"))  # a = the larger (droppable) side
        .select("a", "b")
        .distinct()
    )
    # shingle sets ride the fused pass — no second batch scan, no separate
    # JVM shingle projection (set-equal to shingles_col; order-insensitive
    # consumers only)
    sh_new = new_combined.select(F.col(id_col), "sh").filter(F.size("sh") > 0)
    sh_old = corpus.select(
        F.col(id_col), shingles_col(F.col(text_col)).alias("sh")
    ).filter(F.size("sh") > 0)

    def verify(cands: DataFrame, right: DataFrame) -> DataFrame:
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            cands.join(
                sh_new.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a")), "a"
            )
            .join(
                right.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b")), "b"
            )
            .filter(inter / union >= threshold)
            .select("a")
            .distinct()
        )

    dup_index = verify(cand_no, sh_old).withColumn("src_i", F.lit(1))
    dup_batch = verify(cand_nn, sh_new).withColumn("src_b", F.lit(1))
    return (
        batch.select(id_col)
        .join(dup_index.withColumnRenamed("a", id_col), id_col, "left")
        .join(dup_batch.withColumnRenamed("a", id_col), id_col, "left")
        .select(
            id_col,
            (F.col("src_i").isNull() & F.col("src_b").isNull()).alias("keep"),
            F.when(F.col("src_i").isNotNull(), F.lit("index"))
            .when(F.col("src_b").isNotNull(), F.lit("batch"))
            .alias("dup_src"),
        )
    )


def incremental_index_delta(
    decisions: DataFrame, new_sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Signature rows to APPEND to the index after a batch run: survivors
    only. Appending only survivors keeps the index one-entry-per-kept-doc
    and makes re-running the identical batch a no-op (all 'index' dups)."""
    kept = decisions.filter(F.col("keep")).select(id_col)
    return new_sigs.join(kept, id_col)
