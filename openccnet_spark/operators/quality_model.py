"""Distilled quality classifier: distributed deterministic training of a
linear model that imitates the heuristic quality gate.

The production shape this models: an expensive teacher (LLM judge, slow
ensemble — here the deterministic stand-in is ``textstats.
quality_score_milli >= QM_TEACHER_MILLI``) labels a sample of the corpus,
and a cheap linear student is distilled from it so the full 100 TB pass
costs one JVM-side integer dot product per document.

Training follows the engine's determinism discipline: every
cross-partition reduction is an order-free int64 sum, so the learned
weights are bit-identical at any partitioning/cluster size and exactly
replayable in numpy for the DuckDB oracle:

1. **Init — one-pass integer-EXACT normal equations.** Features are
   integers (32 hashed unigram counts + 3 milli-scaled surface ratios +
   bias), so the Gram matrix X'X and moment vector X'y are exact int64
   partial sums; the driver solves the ridge system in float64.
2. **Refine — ``QM_IRLS_ROUNDS`` Newton/IRLS rounds.** Per row the float
   weighted-Gram and gradient contributions are quantized to int64
   (floor at 2^20) BEFORE summing — order-free again — and the driver
   solves the 36-dim Newton step. Float arithmetic happens only
   elementwise per row (replay-identical) and on the driver (identical
   inputs -> identical outputs on the verifying host).
3. **Serve — integer weights.** The final float weights are floor-
   quantized; scoring is a pure-JVM plan (explode words -> broadcast
   join the 32-row weight table -> map-side combined integer sum), so
   the decision ``score_q >= 0`` is exact and engine-independent — the
   oracle recomputes it in closed-form SQL.

``sample_mod`` trains on the deterministic ``doc_id % sample_mod == 0``
slice — the knob that bounds training cost as the corpus grows (the
scoring pass still covers every document).

No counterpart in the reference repo (laisuk/OpenccNet): this serves the
LLM-pipeline quality_filter brief, sibling of ``quality.py`` /
``textstats.py``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quality import SYMBOL_RE
from .textstats import quality_score_milli, sql_quality_score_milli

QM_DIM = 32  # hashed unigram buckets
QM_N_FEATS = QM_DIM + 4  # + length_milli, uniq_milli, sym_milli, bias(=1000)
QM_QUANT = 1 << 20
QM_TEACHER_MILLI = 750  # teacher: quality_score_milli >= this
QM_RIDGE = 1e-4
QM_IRLS_ROUNDS = 3
QM_Z_CLIP = 30.0

__all__ = [
    "QM_DIM",
    "QM_N_FEATS",
    "QM_QUANT",
    "QM_TEACHER_MILLI",
    "label_col",
    "sql_milli_features",
    "hashed_counts",
    "featurized_frame",
    "train_distributed",
    "classifier_replay",
    "quantize_weights",
    "score_frame",
]


# -- features ----------------------------------------------------------------


def label_col(text_col: Column) -> Column:
    """Teacher label: 1 iff the heuristic quality score clears the bar."""
    return (quality_score_milli(text_col) >= QM_TEACHER_MILLI).cast("int")


def _milli_exprs(t: str) -> list[Column]:
    """The three integer surface features, computed JVM-side (so Python
    never reproduces JVM string semantics) with integer DIV — exact:
    length_milli = min(5 * n_chars, 1000) (== (1000 * n) DIV 200),
    uniq_milli = (1000 * n_distinct_words) DIV n_words, sym_milli =
    (1000 * n_symbol_chars) DIV n_chars."""
    return [
        F.expr(f"least(5 * length({t}), 1000L)").alias("lm"),
        F.expr(
            f"(1000 * size(array_distinct(split({t}, ' '))))"
            f" DIV greatest(size(split({t}, ' ')), 1)"
        ).alias("uq"),
        F.expr(
            f"(1000 * (length({t}) - length(regexp_replace({t}, '{SYMBOL_RE}', ''))))"
            f" DIV greatest(length({t}), 1)"
        ).alias("sm"),
    ]


def sql_milli_features(t: str) -> dict:
    """DuckDB twins of ``_milli_exprs`` (same integer DIV arithmetic)."""
    return {
        "lm": f"least(5 * length({t}), 1000)::BIGINT",
        "uq": (
            f"((1000 * len(list_distinct(string_split({t}, ' '))))"
            f" // greatest(len(string_split({t}, ' ')), 1))::BIGINT"
        ),
        "sm": (
            f"((1000 * (length({t}) - length(regexp_replace({t}, '{SYMBOL_RE}', '', 'g'))))"
            f" // greatest(length({t}), 1))::BIGINT"
        ),
    }


def hashed_counts(text: str) -> np.ndarray:
    """32 hashed unigram counts — md5-prefix 60-bit hash mod QM_DIM, the
    cross-engine hash family (DuckDB/JVM md5 agree on UTF-8 bytes)."""
    x = np.zeros(QM_DIM, dtype=np.int64)
    for w in (text or "").split(" "):
        x[int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16) % QM_DIM] += 1
    return x


def featurized_frame(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, y, feats array<long>[QM_N_FEATS]): milli features + teacher
    label are JVM columns; one narrow Arrow stage adds the hashed counts
    and assembles the vector. Bias is the constant 1000 (features live on
    the milli scale; the solver divides by 1000)."""
    base = df.select(
        F.col(id_col).alias("_id"),
        label_col(F.col(text_col)).alias("y"),
        *_milli_exprs(text_col),
        F.col(text_col).alias("_t"),
    )

    def _assemble(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            feats = [
                np.concatenate(
                    [hashed_counts(t), np.array([lm, uq, sm, 1000], dtype=np.int64)]
                ).tolist()
                for t, lm, uq, sm in zip(pdf["_t"], pdf["lm"], pdf["uq"], pdf["sm"])
            ]
            yield pd.DataFrame({"_id": pdf["_id"], "y": pdf["y"], "feats": feats})

    return base.mapInPandas(_assemble, "_id long, y int, feats array<long>")


# -- driver-side updates (shared by the Spark path AND the numpy replay) -----


def _ols_init(G: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Ridge least-squares init from the EXACT integer moments, shifted
    onto the logistic scale (z ~= 4 * (Xw - 0.5))."""
    Gf = G.astype(np.float64) / 1e6
    bf = b.astype(np.float64) / 1e3
    w = np.linalg.solve(Gf + QM_RIDGE * np.eye(len(Gf)), bf)
    w = 4.0 * w
    w[-1] -= 2.0  # bias feature is 1000/1000 = 1; shift 4*0.5
    return w


def _irls_step(w: np.ndarray, qG: np.ndarray, qg: np.ndarray) -> np.ndarray:
    """One Newton step from the quantized int64 partial sums."""
    Gl = qG.astype(np.float64) / QM_QUANT + QM_RIDGE * np.eye(len(w))
    gl = qg.astype(np.float64) / QM_QUANT
    return w - np.linalg.solve(Gl, gl)


def _row_irls_partials(X: np.ndarray, y: np.ndarray, w: np.ndarray):
    """Per-row quantized IRLS contributions (the cross-engine-critical
    map): elementwise float64, floored at 2^20 BEFORE any summation."""
    Xf = X.astype(np.float64) / 1000.0
    z = np.clip(Xf @ w, -QM_Z_CLIP, QM_Z_CLIP)
    p = 1.0 / (1.0 + np.exp(-z))
    wd = p * (1.0 - p)
    qG = np.floor(
        (Xf[:, :, None] * Xf[:, None, :]) * (wd[:, None, None] * QM_QUANT)
    ).astype(np.int64)
    qg = np.floor(Xf * ((p - y)[:, None] * QM_QUANT)).astype(np.int64)
    return qG, qg


# -- training ----------------------------------------------------------------


def _moments(batches):
    """Per-partition exact normal-equation moments (X'X, X'y, n)."""
    for pdf in batches:
        if not len(pdf):
            continue
        X = np.stack([np.asarray(f, dtype=np.int64) for f in pdf["feats"]])
        y = pdf["y"].to_numpy().astype(np.int64)
        G = X.T @ X  # exact: int64 features, no quantization at all
        yield pd.DataFrame(
            {"g": [G.ravel().tolist()], "b": [(X.T @ y).tolist()], "n": [len(X)]}
        )


def train_distributed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    irls_rounds: int = QM_IRLS_ROUNDS,
    sample_mod: int = 1,
    handles: list | None = None,
) -> np.ndarray:
    """Train the student on ``df`` (teacher labels computed inline);
    returns float64 weights of length QM_N_FEATS. The corpus never
    collects: each pass ships one (QM_N_FEATS² + QM_N_FEATS)-int row per
    partition to the driver."""
    train = df
    if sample_mod > 1:
        train = train.filter(F.col(id_col) % sample_mod == 0)
    fdf = featurized_frame(train, text_col, id_col).select("y", "feats").persist()
    d = QM_N_FEATS
    try:
        parts = fdf.mapInPandas(
            _moments, "g array<long>, b array<long>, n long"
        ).collect()
        if not parts:
            raise ValueError("quality_model.train_distributed: empty training set")
    except Exception:
        fdf.unpersist()
        raise
    if handles is not None:
        handles.append(fdf)
    G = np.zeros((d, d), dtype=np.int64)
    b = np.zeros(d, dtype=np.int64)
    for r in parts:
        G += np.asarray(r.g, dtype=np.int64).reshape(d, d)
        b += np.asarray(r.b, dtype=np.int64)
    w = _ols_init(G, b)

    for _ in range(irls_rounds):
        weights = w  # per-round closure capture

        def _partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.stack([np.asarray(f, dtype=np.int64) for f in pdf["feats"]])
                y = pdf["y"].to_numpy().astype(np.int64)
                qG, qg = _row_irls_partials(X, y, weights)
                yield pd.DataFrame(
                    {"g": [qG.sum(axis=0).ravel().tolist()], "b": [qg.sum(axis=0).tolist()]}
                )

        qG = np.zeros((d, d), dtype=np.int64)
        qg = np.zeros(d, dtype=np.int64)
        for r in fdf.mapInPandas(_partials, "g array<long>, b array<long>").collect():
            qG += np.asarray(r.g, dtype=np.int64).reshape(d, d)
            qg += np.asarray(r.b, dtype=np.int64)
        w = _irls_step(w, qG, qg)
    if handles is None:
        fdf.unpersist()
    return w


def classifier_replay(
    ids,
    texts,
    labels,
    lms,
    uqs,
    sms,
    irls_rounds: int = QM_IRLS_ROUNDS,
    sample_mod: int = 1,
) -> np.ndarray:
    """Exact numpy replay of ``train_distributed`` for the oracle builder:
    same slice, same integer features (milli columns are passed in,
    computed by the caller's engine-parity SQL), same exact/quantized
    sums (order-free, so plain numpy sums match), same shared driver
    updates. Bit-identical weights on the verifying host."""
    ids = np.asarray(ids, dtype=np.int64)
    keep = ids % sample_mod == 0 if sample_mod > 1 else np.ones(len(ids), bool)
    X = np.stack(
        [
            np.concatenate(
                [hashed_counts(t), np.array([lm, uq, sm, 1000], dtype=np.int64)]
            )
            for t, lm, uq, sm, k in zip(texts, lms, uqs, sms, keep)
            if k
        ]
    )
    y = np.asarray([l for l, k in zip(labels, keep) if k], dtype=np.int64)
    if not len(X):
        raise ValueError("classifier_replay: empty training set")
    w = _ols_init(X.T @ X, X.T @ y)
    for _ in range(irls_rounds):
        qG, qg = _row_irls_partials(X, y, w)
        w = _irls_step(w, qG.sum(axis=0), qg.sum(axis=0))
    return w


def quantize_weights(w: np.ndarray) -> np.ndarray:
    """Serving weights: floor(w * 2^20 / 1000) so that the integer score
    score_q = sum_f x_f * wq_f (x on the milli scale) is exact and
    order-free in any engine."""
    return np.floor(np.asarray(w, dtype=np.float64) * QM_QUANT / 1000.0).astype(
        np.int64
    )


# -- serving -----------------------------------------------------------------


def score_frame(
    df: DataFrame,
    wq: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with the quantized student — a pure-JVM plan:
    explode words -> 60-bit md5 hash mod QM_DIM -> broadcast-join the
    32-row weight table -> map-side combined int64 sum, plus the three
    milli-feature terms and the bias. No Python anywhere; the only
    shuffle carries (id, int64 partial sums). Emits
    (id, label, score_q, pred)."""
    spark = df.sparkSession
    wq = np.asarray(wq, dtype=np.int64)
    wtab = F.broadcast(
        spark.createDataFrame(
            [(int(i), int(wq[i])) for i in range(QM_DIM)], "feat int, wq long"
        )
    )
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).select(
        id_col,
        F.expr(
            f"CAST(pmod(CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT), {QM_DIM}) AS INT)"
        ).alias("feat"),
    )
    hsum = (
        words.join(wtab, "feat")
        .groupBy(id_col)
        .agg(F.sum("wq").alias("hs"))
    )
    base = df.select(
        F.col(id_col),
        label_col(F.col(text_col)).alias("label"),
        *_milli_exprs(text_col),
    )
    scored = base.join(hsum, id_col).withColumn(
        "score_q",
        F.col("hs")
        + F.col("lm") * F.lit(int(wq[QM_DIM]))
        + F.col("uq") * F.lit(int(wq[QM_DIM + 1]))
        + F.col("sm") * F.lit(int(wq[QM_DIM + 2]))
        + F.lit(1000 * int(wq[QM_DIM + 3])),
    )
    return scored.select(
        id_col,
        "label",
        "score_q",
        (F.col("score_q") >= 0).cast("int").alias("pred"),
    )
