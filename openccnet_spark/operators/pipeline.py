"""End-to-end quality-filter pipeline over a transcripts DataFrame.

Canonical operator order is the reference CLI's conversion pipeline
(``OpenccNet/ConvertCommand.cs:211-301``): NormalizeCompat -> Convert
rounds -> (DeTofu) — extended per the north_rule with language ID,
perplexity, heuristic rules and PII scrubbing:

    transcripts
      |> salted repartition on hash(conv_id, turn_idx)       # skew defeat
      |> pre-gate: raw-length rules                          # JVM CASE chain
      |> (convert + langid + gated ppl
          + char/word/symbol metrics + regex scrub)          # ONE fused Arrow UDF
      |> drop_reason / keep                                  # JVM CASE chain over the struct's metrics

All string-touching work (conversion, langid, ppl, metrics, scrub) rides
the ONE fused Arrow UDF — CPython ``re`` measured ~50x faster than Spark
``regexp_replace`` on this corpus (CLAUDE.md), so the "JVM regex" plan is
the slow one here. The UDF crosses the Arrow boundary ONCE (one Python
worker per task); the keep/drop decision is then pure int/double
arithmetic over the returned struct in whole-stage codegen. The salted repartition spreads the turns
of pathologically long conversations across partitions (rows are per-turn,
so hashing (conv_id, turn_idx) is a perfect salt — no key grouping is
needed downstream). The expressions are built once per SparkContext and flag
set; a job applies them in three DataFrame calls.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..convert import Converter
from ..functions import _freeze_custom, context_key, pipeline_struct_udf
from ..functions.langid import detect_language
from ..functions.ppl import perplexity
from .quality import (
    MAX_CHARS,
    MIN_CHARS,
    PPL_MAX,
    REP_MIN_WORDS,
    REP_UNIQUE_RATIO,
    SYMBOL_RATIO,
    post_drop_expr,
    pre_drop_expr,
    quality_metrics,
    scrub_text,
)

#: Columns appended to the input schema, in order (no ``ppl`` if not with_ppl).
OUTPUT_COLUMNS = (
    "lang", "ppl", "char_len", "word_cnt", "uniq_ratio", "symbol_ratio",
    "text_converted", "text_scrubbed", "drop_reason", "keep",
)


@lru_cache(maxsize=32)
def _pipeline_columns(ctx: tuple, config, punct, with_ppl, normalize, detofu_level,
                      custom_key, preserve_ids) -> tuple:
    """``(fused, outputs)`` per ``functions.context_key`` and flag set: the
    UDF applied to the pre-gated text, and ``(name, Column)`` pairs (not a
    shared mutable dict) over its struct ``_r`` for ``OUTPUT_COLUMNS``."""
    # Stage 1 — pre-gate on RAW length (JVM-only). Rows failing it carry a
    # NULL into the UDF, which short-circuits on NULL: the expensive Python
    # work never runs for them.
    pre = pre_drop_expr(F.length(F.coalesce(F.col("text"), F.lit(""))))
    # Stage 2 — ONE fused Arrow UDF (convert + langid + metrics + scrub +
    # gated ppl) on surviving rows: one Python worker per task.
    fused = pipeline_struct_udf(
        config, punct, normalize_compat=normalize, detofu_level=detofu_level,
        custom=custom_key, with_ppl=with_ppl, preserve_ids=preserve_ids,
    )(F.when(pre.isNull(), F.col("text")))
    r = F.col("_r")
    outputs = {f: r[f] for f in OUTPUT_COLUMNS[:6] if with_ppl or f != "ppl"}
    # Reconstitute the NULL-compressed strings (identity results travel as
    # NULL over Arrow): processed rows have char_len set; pre-gated don't.
    processed = r["char_len"].isNotNull()
    outputs["text_converted"] = F.when(processed, F.coalesce(r["text_converted"], F.col("text")))
    outputs["text_scrubbed"] = F.when(
        processed, F.coalesce(r["text_scrubbed"], r["text_converted"], F.col("text"))
    )
    # Stage 3 — rule CASE chain (pure int/double arithmetic on the struct's
    # metrics — no JVM string work in the hot path); first rule wins.
    reasons = [pre, post_drop_expr(r)]
    if with_ppl:
        reasons.append(F.when((r["ppl"] > PPL_MAX) & (r["lang"] == "zh"), "high_ppl"))
    outputs["drop_reason"] = F.coalesce(*reasons, F.lit("none"))
    outputs["keep"] = outputs["drop_reason"] == "none"
    return fused, tuple(outputs.items())


def quality_filter(
    df: DataFrame,
    config: str = "t2s",
    punct: bool = False,
    with_ppl: bool = True,
    normalize: bool = True,
    detofu_level: int | None = None,
    salt_partitions: int | None = None,
    custom: list | None = None,
    preserve_ids: bool = False,
) -> DataFrame:
    """Apply the full keep/drop + scrub pipeline. Purely columnar; one
    optional shuffle (the salted repartition) and no joins or aggregations
    — embarrassingly parallel by construction, which is what carries the
    N -> 4N scaling-efficiency requirement. Output: ``df.columns +
    OUTPUT_COLUMNS``.
    """
    if salt_partitions:
        df = df.repartition(salt_partitions, F.hash("conv_id", "turn_idx"))
    fused, outputs = _pipeline_columns(
        context_key(df.sparkSession.sparkContext), config, punct, with_ppl,
        normalize, detofu_level, _freeze_custom(custom), preserve_ids,
    )
    return df.withColumn("_r", fused).withColumns(dict(outputs)).drop("_r")


def reference_label(
    text: str,
    config: str = "t2s",
    punct: bool = False,
    with_ppl: bool = True,
    normalize: bool = True,
    converter: Converter | None = None,
) -> dict:
    """Pure-Python reference path for ONE turn — the labels the Spark job
    must reproduce (F1 >= 0.99 and byte-exact text per BASELINE). Used by
    tests and to compute the DuckDB-oracle literals in __spark_entry__.
    """
    cc = converter or Converter()
    raw = text or ""
    # stage 1: raw-length pre-gate (conversion skipped for dropped rows)
    if len(raw) < MIN_CHARS or len(raw) > MAX_CHARS:
        reason = "too_short" if len(raw) < MIN_CHARS else "too_long"
        return {
            "text_converted": None, "lang": None, "ppl": None,
            "drop_reason": reason, "keep": False, "text_scrubbed": None,
        }
    converted = cc.normalize_compat(raw) if normalize else raw
    converted = cc.convert(converted, config, punct)
    lang = detect_language(converted)
    # stage 3: heuristic rules on converted text
    m = quality_metrics(converted)
    if m["word_cnt"] >= REP_MIN_WORDS and m["uniq_ratio"] < REP_UNIQUE_RATIO:
        reason = "repetitive"
    elif m["symbol_ratio"] > SYMBOL_RATIO:
        reason = "symbol_dense"
    else:
        reason = None
    # stage 4: perplexity only for rows still alive
    ppl = None
    if reason is None and with_ppl:
        ppl = perplexity(converted)
        if ppl > PPL_MAX and lang == "zh":
            reason = "high_ppl"
    drop = reason or "none"
    return {
        "text_converted": converted,
        "lang": lang,
        "ppl": ppl,
        "drop_reason": drop,
        "keep": drop == "none",
        "text_scrubbed": scrub_text(converted),
    }
