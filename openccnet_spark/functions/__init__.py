"""Vectorized pandas/Arrow UDF surface of the engine (SURVEY.md §2.7).

Design rules:

* **No per-row Python UDFs.** Every text operator is a ``pandas_udf``
  receiving an Arrow batch as ``pd.Series[str]`` (BASELINE input_hint).
* **Dictionaries load once per executor.** The compiled bundle ships inside
  the package (``--py-files`` / local module path) and is materialized
  lazily on each Python worker via an ``lru_cache`` (the analog of the
  reference's lazy static init + warmup, ``Opencc.cs:781-830``). This gives
  the north_rule's "dictionary broadcasts shared across stages" property
  without re-pickling 65k entries into task closures. Custom-dictionary
  variants are keyed by their spec and cached the same way.
* **String work rides the UDF; arithmetic stays in the JVM.** The
  transcript pipeline computes its metrics (lengths, ratios) and the
  regex scrub inside the one fused UDF (``pipeline_struct_udf``); the
  raw-length pre-gate and the keep/drop CASE chain over the UDF's
  metrics stay JVM built-ins — see ``openccnet_spark.operators.pipeline``.
* **Driver-side Column expressions are built once per context.** Every
  Column function is a py4j round trip, and applying a UDF pickles it
  and snapshots the context's ``--py-files`` includes, so callers cache
  the expressions they apply per job under ``context_key``.
* **A worker re-reads no unchanged zip per task.** Unpickling any UDF here
  imports the package, whose ``__init__`` installs ``zipcache``'s
  stat-checked ``zipimporter.invalidate_caches`` in the worker (once per
  process); UDF bodies add no per-call setup for it.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType

from ..convert import Converter
from ..dictionary import load_bundle


@lru_cache(maxsize=32)
def _worker_converter(
    custom_key: tuple | None = None, bundle_path: str | None = None
) -> Converter:
    """Per-worker Converter. ``custom_key`` = tuple of (slot, mode, text);
    ``bundle_path`` loads a reference-format bundle file (json/cbor/zstd
    via ``bundle_interop``) instead of the compiled artifact."""
    if bundle_path:
        from ..bundle_interop import load_reference_bundle

        bundle = load_reference_bundle(bundle_path)
    else:
        bundle = load_bundle()
    if custom_key:
        bundle = bundle.with_custom_specs(custom_key)
    return Converter(bundle)


def _freeze_custom(custom: list | None) -> tuple | None:
    """``[(slot, 'append'|'override', dict_text), ...]`` -> hashable key."""
    if not custom:
        return None
    return tuple((s, m, t) for s, m, t in custom)


def context_key(sc) -> tuple:
    """Cache key for Column expressions built on the driver:
    ``applicationId`` (a new SparkContext must never reuse a stopped one's
    JVM objects) and the includes a UDF snapshots when it is applied (a
    later ``addPyFile`` must reach the workers, so it needs a new UDF)."""
    return sc.applicationId, tuple(sc._python_includes)


def _map_udf(row_fn, return_type=StringType()):
    """Single-column pandas UDF applying ``row_fn()`` to every non-NULL
    row; NULL stays NULL. ``row_fn`` runs once per Arrow batch on the
    worker, so it can fetch the worker-cached Converter."""

    @F.pandas_udf(return_type)
    def _map(s: pd.Series) -> pd.Series:
        f = row_fn()
        return s.map(lambda t: f(t) if t is not None else None)

    return _map


def _convert_batch(cc, texts: list, config: str, punct: bool = False, preserve_ids: bool = False) -> list:
    """``cc.convert_many`` over the non-NULL entries of ``texts`` — one
    matcher pass per Arrow batch instead of one call per row; NULL stays
    NULL."""
    live = [t for t in texts if t is not None]
    conv = iter(cc.convert_many(live, config, punct, preserve_ids))
    return [None if t is None else next(conv) for t in texts]


def _convert_grouped(cc, texts: list, configs: list, puncts: list) -> list:
    """Per-row direction: one ``convert_many`` per distinct (config,
    punct) in the batch; a NULL text or NULL config gives NULL."""
    out = [None] * len(texts)
    groups: dict = {}
    for i, (t, c, p) in enumerate(zip(texts, configs, puncts)):
        if t is not None and c is not None:
            groups.setdefault((c, bool(p)), []).append(i)
    for (config, punct), rows in groups.items():
        for i, x in zip(rows, cc.convert_many([texts[i] for i in rows], config, punct)):
            out[i] = x
    return out


def convert_udf(
    config: str = "t2s",
    punct: bool = False,
    preserve_ids: bool = False,
    normalize_compat: bool = False,
    detofu_level: int | None = None,
    custom: list | None = None,
    bundle_path: str | None = None,
):
    """O1/O2 as a vectorized UDF, with the CLI pipeline order baked in
    (reference ``ConvertCommand.cs:211-301``): NormalizeCompat (optional)
    -> Convert rounds -> DeTofu (optional). ``bundle_path`` swaps the
    compiled bundle for a reference-format file (json/cbor/zstd).
    """
    key = _freeze_custom(custom)

    @F.pandas_udf(StringType())
    def _convert(s: pd.Series) -> pd.Series:
        cc = _worker_converter(key, bundle_path)
        texts = s.tolist()
        if normalize_compat:
            texts = [None if t is None else cc.normalize_compat(t) for t in texts]
        out = _convert_batch(cc, texts, config, punct, preserve_ids)
        if detofu_level is not None:
            out = [None if t is None else cc.detofu(t, detofu_level) for t in out]
        return pd.Series(out, dtype=object)

    return _convert


def pipeline_struct_udf(
    config: str = "t2s",
    punct: bool = False,
    normalize_compat: bool = True,
    detofu_level: int | None = None,
    custom: list | None = None,
    with_ppl: bool = True,
    preserve_ids: bool = False,
):
    """The fused hot path: convert + langid + metrics + scrub + (gated) ppl
    in ONE pandas UDF — one Python worker per task, one Arrow round-trip.

    Why everything text-touching lives here:
    * Three chained scalar UDFs become three ArrowEvalPython operators,
      each with its own Python worker per task — at local[32] that is ~96
      Python processes thrashing 32 cores (measured 2x SLOWER than
      local[8]).
    * Spark's regexp_replace measured ~50x slower than CPython's ``re`` on
      this corpus (one 48.9 s symbol-class pass vs a 1.0 s scan baseline at
      local[32]; UTF8String->UTF-16 conversion per regex op). The bytes are
      already in Python for conversion, so the string metrics and PII scrub
      ride the same pass for near-zero marginal cost.
    The JVM side keeps the raw-length pre-gate, the drop_reason CASE chain
    (pure int/double arithmetic) and all relational operators.

    The perplexity skip for rows already dropped by the heuristic rules
    happens inside (same rule constants as the JVM CASE chain, so the
    emitted ppl is NULL exactly where drop_reason says the row died
    earlier).
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from ..operators.quality import (
        REP_MIN_WORDS,
        REP_UNIQUE_RATIO,
        SYMBOL_RATIO,
        quality_metrics,
        scrub_text,
    )
    from .langid import detect_language
    from .ppl import perplexity

    key = _freeze_custom(custom)
    schema = StructType(
        [
            StructField("text_converted", StringType()),
            StructField("lang", StringType()),
            StructField("ppl", DoubleType()),
            StructField("char_len", IntegerType()),
            StructField("word_cnt", IntegerType()),
            StructField("uniq_ratio", DoubleType()),
            StructField("symbol_ratio", DoubleType()),
            StructField("text_scrubbed", StringType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    @F.pandas_udf(schema)
    def _run(s: pd.Series) -> pd.DataFrame:
        cc = _worker_converter(key)
        texts = s.tolist()  # plain-list iteration beats Series.__iter__
        norm = texts
        if normalize_compat:
            norm = [None if t is None else cc.normalize_compat(t) for t in texts]
        rows = []
        # t stays the raw text: an unchanged result travels as NULL below
        for t, x in zip(texts, _convert_batch(cc, norm, config, punct, preserve_ids)):
            if t is None:
                rows.append((None,) * len(cols))
                continue
            if detofu_level is not None:
                x = cc.detofu(x, detofu_level)
            lang = detect_language(x)
            m = quality_metrics(x)
            p = None
            if with_ppl:
                alive = not (
                    m["word_cnt"] >= REP_MIN_WORDS
                    and m["uniq_ratio"] < REP_UNIQUE_RATIO
                ) and not m["symbol_ratio"] > SYMBOL_RATIO
                if alive:
                    p = perplexity(x)
            # Arrow-volume compression: identity results travel as NULL and
            # are reconstituted JVM-side (most turns convert to themselves,
            # and scrubbed == converted unless PII matched).
            scrub = scrub_text(x)
            rows.append(
                (x if x != t else None, lang, p, m["char_len"], m["word_cnt"],
                 m["uniq_ratio"], m["symbol_ratio"], scrub if scrub != x else None)
            )
        return pd.DataFrame(rows, columns=cols)

    return _run


def convert_cols_udf():
    """O1 with per-row (config, punct) columns — used by the golden-fixture
    driver query where each row names its own conversion direction."""

    @F.pandas_udf(StringType())
    def _convert(config: pd.Series, punct: pd.Series, text: pd.Series) -> pd.Series:
        out = _convert_grouped(_worker_converter(), text.tolist(), config.tolist(), punct.tolist())
        return pd.Series(out, dtype=object)

    return _convert


def st_udf():
    """O10 ``St`` char-only conversion."""
    return _map_udf(lambda: _worker_converter().st)


def ts_udf():
    """O10 ``Ts`` char-only conversion."""
    return _map_udf(lambda: _worker_converter().ts)


def zho_check_udf():
    """O11 script detection: 1=Traditional, 2=Simplified, 0=neither."""

    @F.pandas_udf(IntegerType())
    def _zho(s: pd.Series) -> pd.Series:
        cc = _worker_converter()
        return s.map(lambda t: cc.zho_check(t) if t is not None else 0).astype("int32")

    return _zho


def normalize_compat_udf():
    """O12 CJK compatibility-ideograph normalization as its own column op."""
    return _map_udf(lambda: _worker_converter().normalize_compat)


def detofu_udf(level: int = 0, custom_text: str | None = None, custom_pairs: dict | None = None):
    """O13 DeTofu display fallback as its own column op.

    ``custom_text`` (file-format entries, extension-gated) and/or
    ``custom_pairs`` (always applied) layer on top of the built-ins with
    later-wins precedence (reference DeTofuMap, DeTofu.cs:477-610). The
    custom data travels in the UDF closure — executors never read files.
    """

    # order-preserving freeze: later-wins semantics must match the dict's
    # insertion order (sorting would silently change collision winners)
    frozen_pairs = tuple(custom_pairs.items()) if custom_pairs else None

    def row_fn():
        cc = _worker_converter()
        if custom_text is None and frozen_pairs is None:
            return lambda t: cc.detofu(t, level)
        return _worker_detofu_map(cc, level, custom_text, frozen_pairs).convert

    return _map_udf(row_fn)


def _worker_detofu_map(cc, level: int, custom_text, frozen_pairs):
    """Per-worker cache of customized DeTofu maps — the builtin-table copy
    and custom-entry parse happen once per (level, customs), not once per
    Arrow batch. The cache lives ON the Converter instance (not a module
    global keyed by id(bundle)): its lifetime is then exactly the
    converter's, so an lru_cache-evicted converter can neither leak its
    maps nor have a recycled id() serve another bundle's table."""
    cache = getattr(cc, "_detofu_maps", None)
    if cache is None:
        cache = {}
        cc._detofu_maps = cache
    key = (level, custom_text, frozen_pairs)
    m = cache.get(key)
    if m is None:
        from ..detofu import DeTofuMap

        m = DeTofuMap.builtin(cc.bundle, level)
        if custom_text:
            m.with_custom_text(custom_text)
        if frozen_pairs:
            m.with_custom_pairs(frozen_pairs)
        cache[key] = m
    return m


def register_sql_functions(spark, prefix: str = "cc_") -> list:
    """Register the engine's text operators for ``spark.sql`` use:

    >>> register_sql_functions(spark)
    >>> spark.sql("SELECT cc_convert(text, 's2t') FROM docs")

    Registered (all Arrow-vectorized): ``cc_convert(text, config)``,
    ``cc_convert_punct(text, config)``, ``cc_st(text)``, ``cc_ts(text)``,
    ``cc_zho_check(text)``, ``cc_langid(text)``, ``cc_ppl(text)``.
    Returns the registered names.
    """

    def convert2(punct: bool):
        @F.pandas_udf(StringType())
        def _convert2(text: pd.Series, config: pd.Series) -> pd.Series:
            # NULL config propagates NULL (never silently the instance
            # default direction), matching every other SQL function's
            # NULL handling
            texts = text.tolist()
            out = _convert_grouped(_worker_converter(), texts, config.tolist(), [punct] * len(texts))
            return pd.Series(out, dtype=object)

        return _convert2

    pairs = [
        (f"{prefix}convert", convert2(False)),
        (f"{prefix}convert_punct", convert2(True)),
        (f"{prefix}st", st_udf()),
        (f"{prefix}ts", ts_udf()),
        (f"{prefix}zho_check", zho_check_udf()),
        (f"{prefix}langid", langid_udf()),
        (f"{prefix}ppl", ppl_udf()),
    ]
    for name, fn in pairs:
        spark.udf.register(name, fn)
    return [n for n, _ in pairs]


def langid_udf():
    """fastText-style language ID (hashed char n-gram profiles)."""
    from .langid import detect_language

    return _map_udf(lambda: detect_language)


def ppl_udf():
    """KenLM-style char-bigram perplexity of the (converted) text."""
    from .ppl import perplexity

    return _map_udf(lambda: perplexity, "double")
