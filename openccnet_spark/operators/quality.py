"""Quality-gate rules: one source of truth, three evaluators.

The gate (north_rule) drops turns by deterministic heuristics
(Gopher/C4-style: length, repetition, symbol density), perplexity, and
scrubs PII. This module defines the rule constants ONCE and provides:

* ``with_quality_columns`` — Spark **built-in** column expressions
  (JVM-side, whole-stage codegen) for standalone/document use; the
  PRODUCTION transcript pipeline computes the same metrics inside the one
  fused Arrow UDF instead (CPython ``re`` is ~50x faster than Spark
  regexp on this corpus — see operators/pipeline.py).
* ``quality_metrics`` / ``scrub_text`` — the pure-Python per-turn metrics
  and PII scrub. The fused UDF runs them, and so does
  ``operators.pipeline.reference_label``, the reference labels the Spark
  job must match at F1>=0.99 (also used to compute oracle literals for the
  driver's DuckDB comparison).
* ``sql_*`` helpers — DuckDB SQL fragments computing the same rules, used
  by ``__spark_entry__.oracle_sql`` so the driver independently re-derives
  the gate in a second engine.

Regex/class definitions use only explicit character ranges so Java regex
(Spark), RE2 (DuckDB) and Python ``re`` agree byte-for-byte.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- rule constants (fixed; FIXTURES.md §7) ---------------------------------

MIN_CHARS = 5
MAX_CHARS = 5_000
REP_MIN_WORDS = 20
REP_UNIQUE_RATIO = 0.30
SYMBOL_RATIO = 0.50
PPL_MAX = 200.0  # applies to lang == 'zh' text (see functions/ppl.py)

#: Drop rules in priority order; first triggered wins. "none" == keep.
DROP_RULES = ("too_short", "too_long", "repetitive", "symbol_dense", "high_ppl")

# Portable character classes: LITERAL characters only (BMP Han blocks: URO,
# ExtA, compat). Escapes are a trap — RE2 (DuckDB) silently matches nothing
# for "\\u4e00" while Java regex honors it; literal chars behave identically
# in Java regex, RE2 and Python re.
HAN_CLASS = "一-鿿㐀-䶿豈-﫿"
NON_SYMBOL_CLASS = f"A-Za-z0-9 \t\n\r{HAN_CLASS}"
SYMBOL_RE = f"[^{NON_SYMBOL_CLASS}]"
HAN_RE = f"[{HAN_CLASS}]"

# PII scrub patterns, applied in this order (email -> phone -> long digit id).
PII_PATTERNS = (
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    ("\\+[0-9][0-9 \\-]{6,}[0-9]", "[PHONE]"),
    ("[0-9]{15,}", "[ID]"),
)

_PII_COMPILED = [(re.compile(p), r) for p, r in PII_PATTERNS]
_SYMBOL_COMPILED = re.compile(SYMBOL_RE)


# --- Spark (built-in expressions; no Python in this path) -------------------


def scrub_col(col: Column) -> Column:
    for pattern, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, repl)
    return col


def with_quality_columns(df: DataFrame, text_col: str = "text_converted") -> DataFrame:
    """Add char/word/symbol metric columns from JVM built-ins.

    NULL text is treated as empty (metrics 0 -> drops as too_short); a NULL
    must never evaluate the CASE chain to NULL and leak through as a keep.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.split(t, " ")
    return (
        df.withColumn("char_len", F.length(t))
        .withColumn("word_cnt", F.size(words))
        .withColumn("uniq_ratio", F.size(F.array_distinct(words)) / F.size(words))
        .withColumn(
            "symbol_ratio",
            (F.length(t) - F.length(F.regexp_replace(t, SYMBOL_RE, "")))
            / F.greatest(F.length(t), F.lit(1)),
        )
    )


def drop_reason_expr(ppl_col: str | None = "ppl", lang_col: str | None = "lang") -> Column:
    """Priority ``CASE`` chain over the metric columns; 'none' == keep."""
    reason = (
        F.when(F.col("char_len") < MIN_CHARS, "too_short")
        .when(F.col("char_len") > MAX_CHARS, "too_long")
        .when(
            (F.col("word_cnt") >= REP_MIN_WORDS) & (F.col("uniq_ratio") < REP_UNIQUE_RATIO),
            "repetitive",
        )
        .when(F.col("symbol_ratio") > SYMBOL_RATIO, "symbol_dense")
    )
    if ppl_col is not None:
        cond = F.col(ppl_col) > PPL_MAX
        if lang_col is not None:
            cond = cond & (F.col(lang_col) == "zh")
        reason = reason.when(cond, "high_ppl")
    return reason.otherwise("none")


def pre_drop_expr(raw_len_col: Column) -> Column:
    """Length rules evaluated on the RAW text, before conversion — rows
    failing them never enter the expensive Arrow UDFs (NULL == survives)."""
    return F.when(raw_len_col < MIN_CHARS, "too_short").when(
        raw_len_col > MAX_CHARS, "too_long"
    )


def post_drop_expr(metrics: Column) -> Column:
    """Heuristic rules on the converted text's metrics, the ``word_cnt``,
    ``uniq_ratio`` and ``symbol_ratio`` fields of the struct ``metrics``
    (NULL == survives)."""
    return F.when(
        (metrics["word_cnt"] >= REP_MIN_WORDS) & (metrics["uniq_ratio"] < REP_UNIQUE_RATIO),
        "repetitive",
    ).when(metrics["symbol_ratio"] > SYMBOL_RATIO, "symbol_dense")


def lang_simple_col(col: Column) -> Column:
    """SQL-expressible script-based language bucket (zh / en / und).

    Used where a DuckDB oracle must re-derive the value; the full
    trigram classifier (functions/langid.py) covers the general case.
    """
    n = F.greatest(F.length(col), F.lit(1))
    han = F.length(col) - F.length(F.regexp_replace(col, HAN_RE, ""))
    latin = F.length(col) - F.length(F.regexp_replace(col, "[A-Za-z]", ""))
    return (
        F.when(han * 20 >= n, F.lit("zh"))
        .when(latin > 0, F.lit("en"))
        .otherwise(F.lit("und"))
    )


# --- pure-Python reference path ---------------------------------------------


def scrub_text(text: str) -> str:
    # exact containment preconditions (C-speed memchr) gate the regex
    # scans: the email pattern cannot match without a literal '@', the
    # phone pattern without a literal '+' — most turns carry neither, so
    # those subs are skipped with identical output by construction
    (email_p, email_r), (phone_p, phone_r), (id_p, id_r) = _PII_COMPILED
    if "@" in text:
        text = email_p.sub(email_r, text)
    if "+" in text:
        text = phone_p.sub(phone_r, text)
    return id_p.sub(id_r, text)


def quality_metrics(text: str) -> dict:
    words = text.split(" ")
    n = len(text)
    symbols = len(_SYMBOL_COMPILED.findall(text))
    return {
        "char_len": n,
        "word_cnt": len(words),
        "uniq_ratio": len(set(words)) / len(words),
        "symbol_ratio": symbols / max(n, 1),
    }


# --- DuckDB SQL fragments ----------------------------------------------------


def sql_symbol_ratio(t: str) -> str:
    return (
        f"(length({t}) - length(regexp_replace({t}, '{SYMBOL_RE}', '', 'g')))"
        f" / greatest(length({t}), 1)::DOUBLE"
    )


def sql_uniq_ratio(t: str) -> str:
    return (
        f"len(list_distinct(string_split({t}, ' ')))::DOUBLE"
        f" / len(string_split({t}, ' '))"
    )


def sql_scrub(t: str) -> str:
    expr = t
    for pattern, repl in PII_PATTERNS:
        p = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return expr


def sql_drop_reason(t: str) -> str:
    return f"""CASE
        WHEN length({t}) < {MIN_CHARS} THEN 'too_short'
        WHEN length({t}) > {MAX_CHARS} THEN 'too_long'
        WHEN len(string_split({t}, ' ')) >= {REP_MIN_WORDS}
             AND {sql_uniq_ratio(t)} < {REP_UNIQUE_RATIO} THEN 'repetitive'
        WHEN {sql_symbol_ratio(t)} > {SYMBOL_RATIO} THEN 'symbol_dense'
        ELSE 'none' END"""


def sql_lang_simple(t: str) -> str:
    return f"""CASE
        WHEN (length({t}) - length(regexp_replace({t}, '{HAN_RE}', '', 'g'))) * 20
             >= greatest(length({t}), 1) THEN 'zh'
        WHEN regexp_matches({t}, '[A-Za-z]') THEN 'en'
        ELSE 'und' END"""
