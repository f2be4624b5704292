"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship quality-filter pipeline at sf0.001;
``queries()`` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent the driver compares against at sf0.01 (row-count + schema +
order-insensitive value-hash).

Float discipline: computed doubles never cross the comparison boundary raw —
they are floored to integer milli/cent units (identical IEEE inputs =>
identical floors in both engines). Pass-through parquet doubles are safe.
"""

from __future__ import annotations

import atexit
import json
import math
import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Self-arm: make the package importable no matter how the driver loaded this
# file (direct importlib from an arbitrary cwd included).
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from openccnet_spark import Converter
from openccnet_spark.fixtures import CONVERT_GOLDENS, ZHO_CHECK_GOLDENS
from openccnet_spark.functions import convert_cols_udf, zho_check_udf
from openccnet_spark.operators import quality as Q
from openccnet_spark.operators.pipeline import quality_filter, reference_label
from openccnet_spark.sources.transcripts import (
    POOL,
    n_conv_for_sf,
    pool_text,
    spark_transcripts,
    transcripts_sql,
)

_TABLES = ("documents",)


_SHIPPED_SESSIONS: set = set()


def _ensure_workers(spark: SparkSession) -> None:
    """Ship the package to executors (addPyFile) once per SparkContext, so
    UDF queries work even when the session's workers don't inherit this
    repo on their import path (e.g. driver launched from another cwd)."""
    sc = spark.sparkContext
    # applicationId, NOT id(sc): a stopped context's recycled object
    # address could otherwise silently skip addPyFile for a NEW context
    key = sc.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    from tools.package_pyfiles import build

    zip_path = os.path.join(tempfile.mkdtemp(prefix="openccnet_pyfiles_"), "openccnet_spark.zip")
    sc.addPyFile(str(build(__import__("pathlib").Path(zip_path))))
    _SHIPPED_SESSIONS.add(key)


def _armed(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_workers(spark)
        return fn(spark, sf_dir)

    return wrapper


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full keep/drop + scrub pipeline over the synthetic
    transcripts table at sf0.001 scale (~5k turns)."""
    _ensure_workers(spark)
    df = spark_transcripts(spark, n_conv_for_sf("sf0.001"))
    out = quality_filter(df, config="t2s", salt_partitions=8)
    return out.select(
        "conv_id", "turn_idx", "role", "keep", "drop_reason", "lang",
        "text_converted", "text_scrubbed",
        F.floor(F.col("ppl") * 1000).cast("long").alias("ppl_milli"),
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------


def _q_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline (conversion + langid + ppl + heuristics + scrub) over
    the deterministic transcripts table; per-turn output."""
    df = spark_transcripts(spark, n_conv_for_sf(sf_dir))
    out = quality_filter(df, config="t2s", salt_partitions=32)
    return out.select(
        "conv_id", "turn_idx", "keep", "drop_reason", "lang",
        "text_converted", "text_scrubbed",
        F.floor(F.col("ppl") * 1000).cast("long").alias("ppl_milli"),
    )


def _q_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic gate over the documents table — dual-computed (the oracle
    re-derives every metric in SQL, no precomputed labels)."""
    df = _read(spark, sf_dir, "documents").withColumn(
        "text_converted", F.coalesce(F.col("text"), F.lit(""))
    )
    df = Q.with_quality_columns(df, "text_converted")
    return df.select(
        "doc_id",
        F.col("char_len").cast("long").alias("char_len"),
        F.col("word_cnt").cast("long").alias("word_cnt"),
        F.floor(F.col("uniq_ratio") * 1000).cast("long").alias("uniq_milli"),
        F.floor(F.col("symbol_ratio") * 1000).cast("long").alias("symbol_milli"),
        Q.drop_reason_expr(ppl_col=None).alias("drop_reason"),
        Q.lang_simple_col(F.col("text_converted")).alias("lang_simple"),
        Q.scrub_col(F.col("text_converted")).alias("text_scrubbed"),
    )


def _q_convert_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 20 conversion configs over the reference golden fixtures."""
    rows = [(i, c, p, t) for i, (c, p, t, _e) in enumerate(CONVERT_GOLDENS)]
    df = spark.createDataFrame(rows, "case_id int, config string, punct boolean, input string")
    return df.select(
        "case_id", "config",
        convert_cols_udf()("config", "punct", "input").alias("output"),
    )


_ZSTD_BUNDLE = "/root/reference/OpenccNetLib/dicts/dictionary_maxlength.zstd"


def _q_bundle_zstd_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's published Zstd-compressed bundle, decoded by the
    pure-Python RFC 8878 decompressor (zstd_decode.py) INSIDE the Spark
    workers, must convert the golden set identically to the compiled
    bundle — the whole zstd + bundle-interop path, driver-checked."""
    from openccnet_spark.functions import convert_udf

    rows = [
        (i, c, p, t) for i, (c, p, t, _e) in enumerate(CONVERT_GOLDENS)
    ]
    df = spark.createDataFrame(rows, "case_id int, config string, punct boolean, input string")
    # one UDF per config (the bundle-path converter is config-static);
    # goldens are few, so a CASE over per-config UDF columns is fine
    out = None
    # only the (config, punct) combos that actually occur — half of the
    # full product is provably empty and would just pad the plan
    for config, punct in sorted({(c, p) for _i, c, p, _t in rows}):
        sub = df.filter((F.col("config") == config) & (F.col("punct") == F.lit(punct)))
        conv = sub.select(
            "case_id", "config",
            convert_udf(config, punct=punct, bundle_path=_ZSTD_BUNDLE)("input").alias("output"),
        )
        out = conv if out is None else out.unionByName(conv)
    return out


def _q_zho_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [(i, t) for i, (t, _e) in enumerate(ZHO_CHECK_GOLDENS)]
    df = spark.createDataFrame(rows, "case_id int, input string")
    return df.select("case_id", zho_check_udf()("input").alias("zho"))


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 100000))


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents + planted exact copies."""
    from openccnet_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_doubled_docs(spark, sf_dir))


def _q_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style passage-level dedup: fixed 8-word passages, globally
    first occurrence wins (min (doc_id, pidx)), documents rebuilt from
    survivors. Doubled docs plant guaranteed full-document repeats; the
    corpus' template-generated text supplies organic partial overlaps.
    Oracle = the naive window form of the same rule."""
    from openccnet_spark.operators.passages import passage_dedup

    handles: list = []
    out = passage_dedup(_doubled_docs(spark, sf_dir), persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-table semantics end-to-end: build a fresh versioned
    table (v1 append docs%3==0, v2 append %3==1, v3 OVERWRITE %3==2),
    then probe time travel (read v2), incremental read ((1,2]) and the
    current snapshot, emitting (probe, n_rows, id_digest) — the digest
    is the order-free bit_xor of 60-bit doc-id hashes, so the oracle
    fully value-checks which FILES each read resolved to."""
    import shutil

    from openccnet_spark.sources.snapshots import (
        read_incremental,
        read_snapshot,
        write_snapshot,
    )

    tbl = "/tmp/openccnet_snapshot_q"
    shutil.rmtree(tbl, ignore_errors=True)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    write_snapshot(docs.filter(F.col("doc_id") % 3 == 0), tbl)
    write_snapshot(docs.filter(F.col("doc_id") % 3 == 1), tbl)
    write_snapshot(docs.filter(F.col("doc_id") % 3 == 2), tbl, mode="overwrite")
    probes = [
        ("time_travel_v2", read_snapshot(spark, tbl, 2)),
        ("incremental_1_2", read_incremental(spark, tbl, after=1, until=2)),
        ("current_v3", read_snapshot(spark, tbl)),
    ]
    out = None
    for name, df in probes:
        agg = df.agg(
            F.lit(name).alias("probe"),
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(
                F.expr(
                    "CAST(conv(substr(md5(concat('snap:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
                )
            ).alias("id_digest"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _q_html_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-lite boilerplate removal: synthesized multi-block pages
    (nav + content paragraph + cookie banner + link footer) classified
    block-by-block with link-density + text-mass rules, pure JVM
    expressions, zero shuffles. Oracle replays the identical constants
    in DuckDB."""
    from openccnet_spark.operators.boilerplate import extract_main_text, sql_synth_page

    pages = _read(spark, sf_dir, "documents").select(
        "doc_id", F.expr(sql_synth_page("coalesce(text, '')")).alias("html")
    )
    return extract_main_text(pages)


def _q_conv_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-integrity context packing: whole conversations into
    2048-token bins via the exact distributed prefix sum at conversation
    grain — an SFT sample never splits across training sequences. One
    conv_id shuffle for the token sums, then the bucketed-prefix-sum
    placement (4096 reducers, no global sort)."""
    from openccnet_spark.operators.conversations import conversation_pack

    return conversation_pack(
        spark_transcripts(spark, n_conv_for_sf(sf_dir)), window=2048
    )


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring removal (Lee et al. 2022, sliding-window
    form): every 8-token window hashed at stride 1, globally first
    occurrence wins (min (doc_id, pos)), every token covered by a later
    occurrence dropped, documents rebuilt. Doubled docs plant guaranteed
    whole-document repeats; the corpus' template-generated text supplies
    organic partial overlaps that cross passage boundaries (the case
    dedup_passage structurally misses). Oracle = the naive window form
    of the same rule."""
    from openccnet_spark.operators.substrings import substring_dedup

    handles: list = []
    out = substring_dedup(_doubled_docs(spark, sf_dir), persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _mutant_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + near-duplicates (each doc minus its last word); the
    mutation expression lives in dedup.append_word_dropped_mutants."""
    from openccnet_spark.operators.dedup import append_word_dropped_mutants

    return append_word_dropped_mutants(_read(spark, sf_dir, "documents"))


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs verified by exact Jaccard; the oracle
    recomputes ALL >= threshold pairs brute-force, so this also checks LSH
    recall at the configured banding."""
    from openccnet_spark.operators.dedup import minhash_near_duplicates

    handles: list = []
    out = minhash_near_duplicates(_mutant_docs(spark, sf_dir), persist=True, handles=handles)
    # unpersist contract: set on the FINAL frame (any further transform
    # would drop the attribute); the caller releases these after
    # materialization (see queries()) so cached frames don't pile up across
    # a shared session
    out._persist_handles = handles
    return out


def _q_dedup_exact_prehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via the 64-bit prehash grouping (the 100 TB form);
    output — and oracle — identical to dedup_exact."""
    from openccnet_spark.operators.dedup import exact_duplicates_prehash

    return exact_duplicates_prehash(_doubled_docs(spark, sf_dir))


def _q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups — the BRUTE-FORCE verification
    baseline (row-count-guarded O(n^2) join; never the production path) —
    must equal the MinHash+LSH output on this corpus, shares its oracle."""
    from openccnet_spark.operators.dedup import ngram_jaccard_pairs_bruteforce

    return ngram_jaccard_pairs_bruteforce(_mutant_docs(spark, sf_dir))


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups; md5-60bit features are recomputed in the DuckDB
    oracle, and 4x15-bit pigeonhole banding is total for hamming <= 3, so
    this is a full value-checked query."""
    from openccnet_spark.operators.dedup import simhash_near_duplicates

    handles: list = []
    out = simhash_near_duplicates(_mutant_docs(spark, sf_dir), persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs: the
    clustering step that turns pairwise output into per-document dedup
    groups. Iterative min-label propagation (localCheckpoint per round);
    the oracle recomputes the transitive closure with a DuckDB recursive
    CTE over the identical pair list, so components value-match."""
    from openccnet_spark.operators.components import connected_components
    from openccnet_spark.operators.dedup import minhash_near_duplicates

    pair_handles: list = []
    comp_handles: list = []
    pairs = minhash_near_duplicates(_mutant_docs(spark, sf_dir), persist=True, handles=pair_handles)
    # reliable=True: real checkpoint() (not executor-local blocks), so a
    # lost executor mid-iteration replays from durable storage — the
    # setting a multi-hour 100 TB run needs. checkpoint_interval=4 keeps
    # recompute-on-failure bounded at 4 rounds while writing ~1/4 the
    # checkpoint I/O (A/B in BENCH.md); the mid-interval cached round
    # frames surface via comp_handles for post-materialization release.
    out = connected_components(pairs, reliable=True, checkpoint_interval=4, handles=comp_handles)
    for h in pair_handles:  # the iteration has materialized everything already
        h.unpersist()
    out._persist_handles = comp_handles
    return out


def _q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same components contract via alternating large-star/small-star
    (Kiveris et al.) — O(log n) rounds regardless of component diameter,
    the variant for adversarial/long-chain duplicate graphs where
    propagation's O(diameter) bound breaks. Shares the recursive-CTE
    oracle with `dedup_components` (identical output by definition)."""
    from openccnet_spark.operators.components import connected_components_star
    from openccnet_spark.operators.dedup import minhash_near_duplicates

    handles: list = []
    pairs = minhash_near_duplicates(_mutant_docs(spark, sf_dir), persist=True, handles=handles)
    # interval=1 (NOT the propagation queries' 4): star runs O(log n)
    # rounds, so per-round durable checkpoints are already cheap — and its
    # bushy per-round plan (union + 2 joins + 2 distincts) makes
    # persist-only rounds pay more in nested-plan analysis than the
    # checkpoint I/O they save (solo A/B at sf0.1: 23.4 s vs 7.1 s)
    out = connected_components_star(pairs, reliable=True, checkpoint_interval=1)
    for h in handles:
        h.unpersist()
    return out


def _q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup decision: near-dup pairs -> components ->
    one canonical doc per cluster + membership counts, singletons
    included. The keep-set a real pipeline would write."""
    from openccnet_spark.operators.components import canonical_documents
    from openccnet_spark.operators.dedup import minhash_near_duplicates

    docs = _mutant_docs(spark, sf_dir)
    pair_handles: list = []
    comp_handles: list = []
    pairs = minhash_near_duplicates(docs, persist=True, handles=pair_handles)
    out = canonical_documents(
        pairs, docs, reliable=True, checkpoint_interval=4, handles=comp_handles
    )
    for h in pair_handles:
        h.unpersist()
    out._persist_handles = comp_handles
    return out


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED corpus index — the daily
    operation of a production pipeline: batch 2 deduped against batch 1's
    stored MinHash signature table, not a one-shot corpus self-dedup.
    Batch 1 (even doc_ids) is signed and written to a parquet index; the
    operator reads the index back and dedups a new batch of (fresh odd
    docs) + (mutants of indexed docs → 'index' dups) + (mutants of the
    fresh docs → 'batch' dups, greedy smaller-id-wins). The oracle
    recomputes both duplicate sets brute-force from the two tables."""
    import shutil

    from openccnet_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
        word_dropped_mutants,
    )

    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)    # batch 1: already ingested
    fresh = docs.filter(F.col("doc_id") % 2 == 1)  # genuinely new content
    batch = (
        fresh
        .unionByName(word_dropped_mutants(old))  # +100000: near-dup of index
        .unionByName(word_dropped_mutants(fresh, id_offset=200_000))  # +200000: near-dup within batch
    )
    # the index is PERSISTED state: signatures written to parquet and read
    # back, so the operator consumes exactly what a daily run would
    idx_dir = tempfile.mkdtemp(prefix="openccnet-minhash-index-")
    atexit.register(shutil.rmtree, idx_dir, ignore_errors=True)
    minhash_signatures(old).write.mode("overwrite").parquet(idx_dir)
    index_sigs = spark.read.parquet(idx_dir)
    handles: list = []
    out = incremental_minhash_dedup(
        batch, index_sigs, old, persist=True, handles=handles
    )
    out._persist_handles = handles  # released by the caller; see queries()
    return out


#: (case_id, pages, builder kwargs, pdf_to_text kwargs, expected) — the PDF
#: frontend driven end-to-end: parse -> extract -> reflow -> convert
#: (reference PdfCommand.cs:211-247; expected strings hand-verified)
_PDF_GOLDENS = [
    (0, [["他走在路上，忽然看见", "一个熟悉的身影。"], ["第二页内容。"]],
     {}, {"config": "s2t", "reflow": True},
     "他走在路上，忽然看見一個熟悉的身影。\n\n第二頁內容。"),
    (1, [["hello world", "line two"]],
     {"cjk": False, "compress": False}, {},
     "hello world\nline two\n\n"),
    (2, [["第一章 初遇", "章节正文从这里开始，", "跨行续写完毕。"]],
     {}, {"config": "t2s", "reflow": True},
     "第一章 初遇\n\n章节正文从这里开始，跨行续写完毕。"),
]


def _q_pdf_reflow_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized PDFs through the full pdf pipeline (extract -> reflow ->
    convert) as a distributed mapInPandas pass over binary rows."""
    import pandas as pd

    from openccnet_spark.sources.pdf import pdf_to_text
    from openccnet_spark.sources.pdf_synth import build_pdf

    rows = [
        (i, build_pdf(pages, **bkw), json.dumps(pkw))
        for i, pages, bkw, pkw, _e in _PDF_GOLDENS
    ]
    df = spark.createDataFrame(rows, "case_id int, content binary, params string")

    def _run(batches):
        for pdf in batches:
            out = [
                pdf_to_text(bytes(c), **json.loads(p))
                for c, p in zip(pdf["content"], pdf["params"])
            ]
            yield pd.DataFrame({"case_id": pdf["case_id"], "text": out})

    return df.mapInPandas(_run, "case_id int, text string")


#: (case_id, fmt, part_name, part_xml, config, keep_font, expected_xml) —
#: office container conversion driven end-to-end (zip -> convert -> unzip)
_OFFICE_GOLDENS = [
    (0, "docx", "word/document.xml",
     '<w:document><w:rFonts w:eastAsia="宋体"/><w:t>简体正文</w:t></w:document>',
     "s2t", True,
     '<w:document><w:rFonts w:eastAsia="宋体"/><w:t>簡體正文</w:t></w:document>'),
    (1, "xlsx", "xl/worksheets/sheet1.xml",
     '<worksheet><c r="A1" t="inlineStr"><is><t>简体行内</t></is></c>'
     "<c r=\"B1\"><f>简体('x')</f></c></worksheet>",
     "s2t", False,
     '<worksheet><c r="A1" t="inlineStr"><is><t>簡體行內</t></is></c>'
     "<c r=\"B1\"><f>简体('x')</f></c></worksheet>"),
    (2, "pptx", "ppt/slideLayouts/slideLayout1.xml",
     "<p:sp><a:t>简体版式文字</a:t></p:sp>",
     "s2t", False,
     "<p:sp><a:t>簡體版式文字</a:t></p:sp>"),
    (3, "epub", "OEBPS/ch1.xhtml",
     "<html><body>简体章节内容</body></html>",
     "s2t", False,
     "<html><body>簡體章節內容</body></html>"),
]


def _q_office_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office/EPUB containers through the full zip->convert->rezip path as a
    distributed pass over binary rows; output is the converted target part."""
    import io
    import zipfile

    import pandas as pd

    from openccnet_spark.sources.office import convert_office_bytes

    def _container(fmt: str, name: str, xml: str) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            if fmt == "epub":
                info = zipfile.ZipInfo("mimetype")
                info.compress_type = zipfile.ZIP_STORED
                z.writestr(info, "application/epub+zip")
            z.writestr(name, xml)
        return buf.getvalue()

    rows = [
        (i, fmt, name, _container(fmt, name, xml), config, keep_font)
        for i, fmt, name, xml, config, keep_font, _e in _OFFICE_GOLDENS
    ]
    df = spark.createDataFrame(
        rows, "case_id int, fmt string, part string, content binary, config string, keep_font boolean"
    )

    def _run(batches):
        import zipfile as zf

        for pdf in batches:
            out = []
            for fmt, part, blob, config, keep_font in zip(
                pdf["fmt"], pdf["part"], pdf["content"], pdf["config"], pdf["keep_font"]
            ):
                converted = convert_office_bytes(
                    bytes(blob), fmt, config, keep_font=bool(keep_font)
                )
                out.append(zf.ZipFile(io.BytesIO(converted)).read(part).decode("utf-8"))
            yield pd.DataFrame({"case_id": pdf["case_id"], "part_xml": out})

    return df.mapInPandas(_run, "case_id int, part_xml string")


#: (case_id, encoding, text_lines) — legacy-encoding file decode; expected
#: rows are (case_id, line_no, text) for every line of every file
_TEXTFILE_GOLDENS = [
    (0, "utf-8", ["简体第一行", "第二行 second line"]),
    (1, "gbk", ["汉字内容", "第二行"]),
    (2, "big5", ["繁體內容"]),
    (3, "utf-16", ["混合 content 行"]),
    (4, "shift_jis", ["日本語テキスト"]),
]


_TEXTFILES_QDIR: str | None = None


def _q_textfiles_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy-encoding text files decoded through the binaryFile + Arrow
    source; line numbers must be exact per file."""
    import tempfile as _tf
    from pathlib import Path

    from openccnet_spark.sources.textfiles import read_text_files

    # one private mkdtemp per PROCESS, cached and reused across
    # invocations: no per-call leak, and no shared /tmp name that another
    # process (or user) could race or squat
    global _TEXTFILES_QDIR
    if _TEXTFILES_QDIR is None:
        _TEXTFILES_QDIR = _tf.mkdtemp(prefix="openccnet_textfiles_q_")
    base = Path(_TEXTFILES_QDIR)
    frames = []
    for i, enc, lines in _TEXTFILE_GOLDENS:
        p = base / f"case{i}.txt"
        p.write_bytes("\n".join(lines).encode(enc))
        df = read_text_files(spark, str(p), encoding=enc).select(
            F.lit(i).alias("case_id"), F.col("line_no").cast("int"), "text"
        )
        frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _q_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts, quality score, fingerprint over documents."""
    from openccnet_spark.operators import textstats as T

    t = F.coalesce(F.col("text"), F.lit(""))
    return _read(spark, sf_dir, "documents").select(
        "doc_id",
        T.whitespace_token_count(t).cast("long").alias("ws_tokens"),
        T.regex_token_count(t).cast("long").alias("re_tokens"),
        T.quality_score_milli(t).alias("quality_milli"),
        T.fingerprint64(t).alias("fingerprint"),
    )


def _q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language quality-score percentiles (p50/p90/p99) via the
    rank-at-ceil(p*n) definition — integer-exact in both engines (no
    float interpolation to drift).

    Scale plan: the naive form (row_number over a per-language sort window)
    funnels each language's ENTIRE corpus into one reducer task — a
    scale-killer at 100 TB. The score domain is bounded (integer milli units
    in [0, 1000]), so the exact same percentiles come window-free from a
    histogram: groupBy(lang, q).count() is map-side combined down to <= 1001
    rows per language, a second groupBy collects each language's sorted
    (q, cnt) array (bounded, never the corpus), and a linear JVM fold reads
    off q-at-rank-ceil(p*n) as the smallest q whose cumulative count reaches
    the target rank — identical to the sorted-rank definition because rows
    tied on q share the same q by construction. No Window anywhere in the
    plan (pinned by test_plan_hygiene). Plan built by
    `textstats.quality_quantiles_frame`."""
    from openccnet_spark.operators.textstats import quality_quantiles_frame

    return quality_quantiles_frame(_read(spark, sf_dir, "documents"))


#: per-stratum sampling rates / token budgets for the curation queries —
#: chosen so every code path is exercised at sf0.01: partially-filled
#: strata (en, zh), a fully-kept stratum (fr), a small-budget stratum
#: (es) and an absent stratum (de -> default/dropped)
_STRAT_RATES_PPM = {"en": 200_000, "zh": 500_000, "ja": 800_000}
_STRAT_DEFAULT_PPM = 100_000
_TOKEN_BUDGETS = {"en": 6_000, "zh": 2_000, "fr": 99_999_999, "es": 500}
_TOP_FRAC_PPM = 300_000
_MIX_TARGET_PPM = {"src0": 400_000, "src1": 300_000, "src2": 200_000, "src3": 100_000}


def _q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/PaLM-style 13-gram overlap): the
    'benchmark' table is the first 30 words of every doc_id % 37 == 5
    document; any corpus document sharing a 13-gram with it is flagged
    with its distinct-hit count. The benchmark n-gram set is broadcast —
    the corpus (the 100 TB side) never shuffles; only hits (8-byte hash +
    id) reach the per-document aggregate. Hashes are the cross-engine
    md5-prefix family, so the oracle recomputes the full decision."""
    from openccnet_spark.operators.curation import decontaminate

    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 37 == 5).select(
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 30), " ").alias("text")
    )
    return decontaminate(docs, bench, n=13).select("doc_id", "n_hits")


def _q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sampling (domain-mixing
    primitive): keep iff md5-keyed draw mod 1e6 falls under the stratum's
    ppm rate; unknown strata take the default. Pure narrow filter — no
    shuffle, no RNG — and the oracle replays the draw exactly."""
    from openccnet_spark.operators.curation import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs, _STRAT_RATES_PPM, default_ppm=_STRAT_DEFAULT_PPM
    ).select("doc_id", "lang", "sample_ppm")


def _q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget prefix selection ("give me N tokens per
    language, deterministically"): docs ordered by the 60-bit key, maximal
    prefix with running token total <= budget. The Spark plan is the
    bounded-domain histogram decomposition (cutoff bucket + boundary-only
    exact window — no per-stratum global sort); the oracle is the naive
    full-window spec, so the decomposition must equal it exactly."""
    from openccnet_spark.operators.curation import budget_select

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    out = budget_select(docs, _TOKEN_BUDGETS, persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_quality_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate (C4/FineWeb shape): keep the top 30% of each
    language by quality score, exact rank semantics with deterministic
    (score DESC, doc_id) tie-breaks and pure-integer ppm quotas. The
    Spark plan is the bounded-domain histogram decomposition (cutoff
    score from a <=1001-rows-per-lang histogram, strictly-better docs via
    broadcast join, ONLY the cutoff tie group pays a row_number window);
    the oracle is the naive per-language rank, so the decomposition must
    equal it exactly."""
    from openccnet_spark.operators.curation import top_fraction_select

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    out = top_fraction_select(docs, frac_ppm=_TOP_FRAC_PPM, persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


_PACK_WINDOW = 256


def _q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline in ONE plan: Gopher repetition gate
    (narrow Arrow pass, lang/text carried through so no join back) ->
    per-language top-30% quality gate (histogram cutoff + tie window) ->
    sequence packing of the survivors (distributed exact prefix sum).
    The oracle chains the same three specs as CTEs, so the composition —
    not just each stage — is value-checked end to end."""
    from openccnet_spark.operators.curation import top_fraction_select
    from openccnet_spark.operators.packing import pack_chunks
    from openccnet_spark.operators.repetition import repetition_signals

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    rep = repetition_signals(docs, carry_cols=("lang", "text")).filter(
        F.col("keep") == 1
    )
    # both persists: the repetition Arrow stage + score expr otherwise
    # re-evaluate per branch of each downstream decomposition (3x in the
    # top-fraction select, 2x more in pack_chunks)
    gated = top_fraction_select(
        rep, frac_ppm=_TOP_FRAC_PPM, carry_cols=("text",),
        persist=True, handles=handles,
    )
    out = pack_chunks(gated, _PACK_WINDOW, persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concat-and-chop every document into
    256-token windows in deterministic (hash, id) order. The exact global
    prefix sum of token counts runs as the bucket decomposition (tiny
    per-bucket histogram + broadcast below-offsets + per-bucket windows —
    4096 parallel reducers, never one global sort); the oracle is the
    naive single-window prefix sum over the same order."""
    from openccnet_spark.operators.packing import pack_chunks

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    out = pack_chunks(docs, _PACK_WINDOW, persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


_SHARD_TOKENS = 1000


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + manifest
    (operators/shards.py): shard = the packing chunk of each doc's exact
    global start offset (doc-granular, same-membership on any
    partitioning — the property a resumable training loader needs);
    manifest digests are order-free bit_xor of 60-bit doc hashes. The
    oracle is the naive single-window prefix sum grouped identically."""
    from openccnet_spark.operators.shards import shard_manifest

    docs = _read(spark, sf_dir, "documents")
    return shard_manifest(docs, _SHARD_TOKENS)


_BLOOM_M_BITS = 1 << 10  # deliberately tiny so false positives are
# actually exercised at sf0.01 (~62% fill, ~24% FP) and the oracle must
# reproduce every one; the operator's scale default is 2^20


def _q_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup with a broadcast-Bloom prefilter: batch =
    all documents, index = the 2/3 with doc_id % 3 != 0. bloom_hit is the
    deterministic bitmap answer (the oracle replays every bit via IN-tests
    on the index's position set — false positives included), is_new the
    exact verdict; bloom misses are proven new with zero shuffle and only
    the hit sliver touches the index (broadcast semi-join, index never
    shuffles)."""
    from openccnet_spark.operators.bloom import incremental_exact_dedup

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    out = incremental_exact_dedup(
        docs,
        docs.filter(F.col("doc_id") % 3 != 0),
        m_bits=_BLOOM_M_BITS,
        persist=True,
        handles=handles,
    )
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture rebalancing: subsample so the output
    is 40/30/20/10% of four sources — the largest total honoring every
    proportion, each stratum's prefix in (60-bit hash, id) order. The
    only collect is the per-source count rollup (bounded by #sources);
    selection reuses budget_select's histogram decomposition with unit
    weights. Oracle recomputes quotas and the hash-order ranks in SQL."""
    from openccnet_spark.operators.curation import mixture_rebalance

    docs = _read(spark, sf_dir, "documents")
    handles: list = []
    out = mixture_rebalance(docs, _MIX_TARGET_PPM, persist=True, handles=handles)
    out._persist_handles = handles  # released by the caller; see queries()
    return out


def _q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): per-doc
    char mass of repeated word n-grams as integer ppm (top 2/3/4-gram,
    duplicate 5/10-gram) plus the threshold keep flag. One narrow
    mapInPandas pass, zero shuffle; the oracle recomputes every n-gram's
    count and char mass by exploding in SQL."""
    from openccnet_spark.operators.repetition import repetition_signals

    docs = _read(spark, sf_dir, "documents")
    return repetition_signals(docs)


#: (case_id, op, input, expected) for the St/Ts char-only goldens (O10)
_ST_TS_GOLDENS = [
    (0, "st", "发", "發"),
    (1, "st", "A发😀台!", "A發😀臺!"),
    (2, "ts", "發髮後臺", "发发后台"),
    (3, "ts", "A發😀臺!", "A发😀台!"),
    (4, "st", "", ""),
]

#: custom DeTofu layer for the goldens: a file-format entry (overrides the
#: builtin 𣭲->氄) plus a direct pair (overrides the builtin 𬴂->騑) —
#: reference DeTofuWithCustomFile/Pairs semantics (Opencc.cs:2373-2451)
_DETOFU_CUSTOM_TEXT = "𣭲\t氂\tB\n"
_DETOFU_CUSTOM_PAIRS = {"𬴂": "訂"}

#: (case_id, input, normalized, detofu_b, detofu_custom)
#: — O12 pre-pass, O13 post-pass, O13 custom-override post-pass
_NORM_DETOFU_GOLDENS = [
    (0, "豈更", "豈更", "豈更", "豈更"),   # compat ideographs -> canonical
    (1, "骖𬴂", "骖𬴂", "骖騑", "骖訂"),    # ExtB fallback; custom pair wins
    (2, "plain 文本", "plain 文本", "plain 文本", "plain 文本"),
    (3, "\U0002f800", "丽", "丽", "丽"),
    (4, "𣭲毛", "𣭲毛", "氄毛", "氂毛"),    # custom file entry overrides builtin
]

#: (case_id, input, preserve_on, preserve_off) — O14 IDS preservation (t2s)
_IDS_GOLDENS = [
    (0, "⿰口馬", "⿰口馬", "⿰口马"),
    (1, "漢字結構：⿰氵漢（漢）", "汉字结构：⿰氵漢（汉）", "汉字结构：⿰氵汉（汉）"),
    (2, "沒有結構符", "没有结构符", "没有结构符"),
]

_CUSTOM_DICT_TEXT = "软件\t軟體X\n自定义词\t自訂義詞\n"
#: (case_id, input, expected) with st_phrases append of the above (O15)
_CUSTOM_GOLDENS = [
    (0, "软件", "軟體X"),
    (1, "自定义词测试", "自訂義詞測試"),
    (2, "几千只", "幾千隻"),  # base lexicon still applies
]


def _q_st_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openccnet_spark.functions import st_udf, ts_udf

    df = spark.createDataFrame(
        [(i, op, t) for i, op, t, _e in _ST_TS_GOLDENS],
        "case_id int, op string, input string",
    )
    return df.select(
        "case_id", "op",
        F.when(F.col("op") == "st", st_udf()("input"))
        .otherwise(ts_udf()("input")).alias("output"),
    )


def _q_normalize_detofu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openccnet_spark.functions import detofu_udf, normalize_compat_udf

    df = spark.createDataFrame(
        [(i, t) for i, t, _n, _d, _c in _NORM_DETOFU_GOLDENS],
        "case_id int, input string",
    )
    return df.select(
        "case_id",
        normalize_compat_udf()("input").alias("normalized"),
        detofu_udf(0)(normalize_compat_udf()("input")).alias("detofu_b"),
        detofu_udf(
            0, custom_text=_DETOFU_CUSTOM_TEXT, custom_pairs=_DETOFU_CUSTOM_PAIRS
        )(normalize_compat_udf()("input")).alias("detofu_custom"),
    )


def _q_ids_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openccnet_spark.functions import convert_udf

    df = spark.createDataFrame(
        [(i, t) for i, t, _on, _off in _IDS_GOLDENS], "case_id int, input string"
    )
    return df.select(
        "case_id",
        convert_udf("t2s", preserve_ids=True)("input").alias("preserve_on"),
        convert_udf("t2s", preserve_ids=False)("input").alias("preserve_off"),
    )


def _q_custom_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from openccnet_spark.functions import convert_udf

    df = spark.createDataFrame(
        [(i, t) for i, t, _e in _CUSTOM_GOLDENS], "case_id int, input string"
    )
    custom = [("st_phrases", "append", _CUSTOM_DICT_TEXT)]
    return df.select(
        "case_id", convert_udf("s2t", custom=custom)("input").alias("output")
    )


def _q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup pairs -> components ->
    cluster-keyed deterministic 90/5/5 draw, so a document and its
    near-duplicates can never straddle splits (the eval-leakage bug).
    The oracle walks the same components via the recursive CTE and
    replays the hash draw — a single doc split apart from its mutant
    hash-fails."""
    from openccnet_spark.operators.components import canonical_documents
    from openccnet_spark.operators.curation import leakage_safe_split
    from openccnet_spark.operators.dedup import minhash_near_duplicates

    docs = _mutant_docs(spark, sf_dir)
    pair_handles: list = []
    comp_handles: list = []
    pairs = minhash_near_duplicates(docs, persist=True, handles=pair_handles)
    lab = canonical_documents(
        pairs, docs, reliable=True, checkpoint_interval=4, handles=comp_handles
    )
    out = leakage_safe_split(lab).select("doc_id", "component", "split")
    for h in pair_handles:
        h.unpersist()
    out._persist_handles = comp_handles
    return out


def _q_conv_fold_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-turn folding (operators/conversations.py): tool turns merge
    into the assistant and consecutive same-role runs collapse via ONE
    JVM aggregate fold over the per-conv sorted array — the text payload
    shuffles exactly once on conv_id (conversation-bounded state). The
    oracle is the independent lag-window/string_agg formulation."""
    from openccnet_spark.operators.conversations import fold_tool_turns

    return fold_tool_turns(spark_transcripts(spark, n_conv_for_sf(sf_dir)))


def _q_conv_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level quality gate: per-turn keep labels from the
    real pipeline aggregate to a per-conv decision (integer-exact kept
    fraction, no-assistant beats low-fraction). Pure groupBy counters —
    the exchange carries four scalars per conversation."""
    from openccnet_spark.operators.conversations import conversation_gate

    df = spark_transcripts(spark, n_conv_for_sf(sf_dir))
    labeled = quality_filter(df, config="t2s", salt_partitions=32).select(
        "conv_id", "role", "keep"
    )
    return conversation_gate(labeled)


def _q_conv_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact conversation dedup: ordered length-prefixed (role, text)
    serialization -> 60-bit fingerprint -> min-conv_id election. After
    the one conv_id shuffle everything exchanged is scalar-per-conv; the
    synthetic corpus is heavily duplicated (~3000 convs -> ~600 distinct
    at sf0.01), so a wrong ordering or serialization hash-fails loudly."""
    from openccnet_spark.operators.conversations import conversation_fingerprints

    return conversation_fingerprints(spark_transcripts(spark, n_conv_for_sf(sf_dir)))


def _q_conv_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: fold tool turns, then serialize each conversation to
    one <|role|>-tagged training string (the packing.pack_chunks input).
    The oracle nests the fold SQL inside the render SQL."""
    from openccnet_spark.operators.conversations import (
        fold_tool_turns,
        render_chat_template,
    )

    folded = fold_tool_turns(spark_transcripts(spark, n_conv_for_sf(sf_dir)))
    return render_chat_template(folded)


def _replay_n_conv(sf_dir: str) -> int:
    """Conversation count for the streaming replay fixture — a slice of the
    transcripts scale so the stream stays a few-second job at the harness
    scale factors."""
    return max(n_conv_for_sf(sf_dir) // 5, 60)


def _q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming replay dedup END TO END, driver-visible: the deterministic
    transcripts table is written TWICE (an at-least-once upstream's
    replayed batch), read back as a file stream in multiple micro-batches
    (maxFilesPerTrigger=8 over 10 files), deduplicated on
    (conv_id, turn_idx) by `streaming_dedup_turns`'s watermark state, and
    written to a parquet sink with an availableNow trigger. The returned
    frame is the FINAL SINK TABLE; the oracle regenerates the transcripts
    in SQL — exactly-once output means sink == one copy of the source.
    The watermark is sized past the fixture's event-time span so replayed
    whole-history batches are deduplicated, not dropped as late."""
    import shutil

    from openccnet_spark.streaming import replay_dedup_run

    n_conv = _replay_n_conv(sf_dir)
    base = spark_transcripts(spark, n_conv)
    root = tempfile.mkdtemp(prefix="openccnet-replay-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = os.path.join(root, "src")
    base.repartition(6).write.parquet(os.path.join(src, "a"))
    base.repartition(4).write.parquet(os.path.join(src, "b"))
    watermark_days = n_conv * 211 // 86_400 + 2  # > max event-time span
    final = replay_dedup_run(
        spark,
        src + "/*",
        os.path.join(root, "sink"),
        os.path.join(root, "ckpt"),
        watermark=f"{watermark_days} days",
    )
    return final.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _q_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier's CORE pipeline (conversion + langid + ppl + heuristics +
    scrub) run INCREMENTALLY: the deterministic transcripts table is
    written as 8 parquet files, read back as a file stream in multiple
    micro-batches (maxFilesPerTrigger=4 -> 2 batches; fewer, larger
    micro-batches amortize the per-batch scheduler + sink-commit cost,
    the streaming analog of guide §2.2's fewer-larger-partitions rule,
    while still exercising incremental execution), passed through the SAME
    `quality_filter` the batch query uses (the gate is stateless per
    turn, so it lifts to streaming unchanged), and appended to a parquet
    sink under an availableNow trigger with a streaming checkpoint. The
    returned frame is the FINAL SINK TABLE and the oracle is the batch
    pipeline's pool-literal oracle UNCHANGED — incremental execution must
    produce byte-identical per-turn output to the batch plan."""
    import shutil

    from openccnet_spark.streaming import (
        read_transcripts_stream,
        streaming_quality_filter,
    )

    base = spark_transcripts(spark, n_conv_for_sf(sf_dir))
    root = tempfile.mkdtemp(prefix="openccnet-sqf-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = os.path.join(root, "src")
    base.repartition(8).write.parquet(src)
    stream = read_transcripts_stream(spark, src, max_files_per_trigger=4)
    out = streaming_quality_filter(stream, config="t2s").select(
        "conv_id", "turn_idx", "keep", "drop_reason", "lang",
        "text_converted", "text_scrubbed",
        F.floor(F.col("ppl") * 1000).cast("long").alias("ppl_milli"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", os.path.join(root, "sink"))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(root, "sink"))


def _q_zho_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script detection (O11) at table scale over synthesized transcripts."""
    from openccnet_spark.functions import zho_check_udf

    df = spark_transcripts(spark, n_conv_for_sf(sf_dir))
    return (
        df.withColumn("zho", zho_check_udf()("text"))
        .groupBy("zho")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver's CORRECTNESS gate checks the FIRST 50
    # keys in definition order. The first-50 window therefore rotates per
    # round to prioritize (a) queries that have never had a driver entry,
    # (b) queries whose implementation changed this round, then (c) one
    # representative per long-green family. Everything past position 50 is
    # still covered by tests/test_entry_contract.py's oracle replay.
    #
    # _persist_handles: a query that caches intermediate frames sets this
    # attribute on the frame it returns, and whoever materializes that frame
    # unpersists the handles afterwards — the harness driver, and here
    # tests/test_entry_contract.py, test_determinism.py, test_plan_hygiene.py
    # and test_training_ops.py.
    return {
        # -- flagship + conversion representatives (long-green) ------------
        "pipeline_transcripts": _armed(_q_pipeline),
        "convert_goldens": _armed(_q_convert_goldens),
        **(
            {"bundle_zstd_convert": _armed(_q_bundle_zstd_convert)}
            if os.path.exists(_ZSTD_BUNDLE)
            else {}
        ),
        # -- never driver-checked (registered at r7 tail positions 88-95;
        #    rotated in per the r7 verdict's standing fix) ------------------
        "dedup_substring": _armed(_q_dedup_substring),
        "conv_pack": _armed(_q_conv_pack),
        "html_boilerplate": _armed(_q_html_boilerplate),
        "snapshot_time_travel": _armed(_q_snapshot_time_travel),
        # -- operators whose internals changed in round 8 (persists,
        #    band-key packing, fused Arrow passes, components init,
        #    LSH pair-first verify) — the driver must re-certify these ----
        "dedup_minhash": _armed(_q_dedup_minhash),
        "dedup_simhash": _armed(_q_dedup_simhash),
        "dedup_passage": _armed(_q_dedup_passage),
        "dedup_components": _armed(_q_dedup_components),
        "dedup_components_star": _armed(_q_dedup_components_star),
        "dedup_canonical": _armed(_q_dedup_canonical),
        "split_leakage_safe": _armed(_q_split_leakage_safe),
        "dedup_incremental": _armed(_q_dedup_incremental),
        "quality_top_fraction": _armed(_q_quality_top_fraction),
        "budget_select": _armed(_q_budget_select),
        "mixture_rebalance": _armed(_q_mixture_rebalance),
        "pack_chunks": _armed(_q_pack_chunks),
        "curation_e2e": _armed(_q_curation_e2e),
        "streaming_quality_filter": _armed(_q_streaming_quality_filter),
        "streaming_dedup_replay": _armed(_q_streaming_dedup_replay),
        # -- per-turn shared-code consumers (langid/ppl/scrub micro-opts;
        #    outputs bit-identical but the driver should prove it) ---------
        "quality_documents": _armed(_q_quality_documents),
        "conv_fold_tools": _armed(_q_conv_fold_tools),
        "conv_gate": _armed(_q_conv_gate),
        "conv_dedup_exact": _armed(_q_conv_dedup_exact),
        "conv_render": _armed(_q_conv_render),
        # -- long-green family representatives ------------------------------
        "dedup_exact": _armed(_q_dedup_exact),
        "dedup_bloom_prefilter": _armed(_q_dedup_bloom_prefilter),
        "pdf_reflow_convert": _armed(_q_pdf_reflow_convert),
        "office_convert": _armed(_q_office_convert),
        # -- driver-green history (r5-r7) ------------------------------------
        "zho_check_goldens": _armed(_q_zho_check),
        "st_ts_goldens": _armed(_q_st_ts),
        "normalize_detofu_goldens": _armed(_q_normalize_detofu),
        "textfiles_encodings": _armed(_q_textfiles_encodings),
        "ids_preserve_goldens": _armed(_q_ids_preserve),
        "custom_dict_convert": _armed(_q_custom_dict),
        "shard_manifest": _armed(_q_shard_manifest),
        "zho_check_transcripts": _armed(_q_zho_transcripts),
        "dedup_exact_prehash": _armed(_q_dedup_exact_prehash),
        "dedup_ngram_jaccard": _armed(_q_dedup_ngram_jaccard),
        "textstats": _armed(_q_textstats),
        "quality_quantiles": _armed(_q_quality_quantiles),
        "decontaminate_ngram": _armed(_q_decontaminate_ngram),
        "sample_stratified": _armed(_q_sample_stratified),
        "quality_repetition": _armed(_q_quality_repetition),
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _pipeline_oracle(sf_dir_sf: str = "sf0.01") -> str:
    """Pool-literal oracle: regenerate the identical transcripts table in
    SQL, then look up the expected label of each turn by pool index. The
    labels are computed by the pure-Python *reference path* — this is the
    F1/byte-exactness gate of BASELINE.json, executed by the driver."""
    cc = Converter()
    keeps, reasons, langs, convs, scrubs, ppls, reps = [], [], [], [], [], [], []
    for i, (base, rep) in enumerate(POOL):
        full = reference_label(pool_text(i), "t2s", converter=cc)
        keeps.append("true" if full["keep"] else "false")
        reasons.append(_sq(full["drop_reason"]))
        langs.append(_sq(full["lang"]) if full["lang"] is not None else "NULL")
        ppls.append(
            str(math.floor(full["ppl"] * 1000)) if full["ppl"] is not None else "NULL"
        )
        reps.append(str(rep))
        if full["text_converted"] is None:
            convs.append("NULL")
            scrubs.append("NULL")
            continue
        # converted/scrubbed of (base*rep) must equal (converted/scrubbed of
        # base)*rep so the SQL can use repeat(); guaranteed because every
        # rep>1 entry ends with a delimiter (no cross-junction match) —
        # assert here so a pool edit can't silently break the oracle.
        base_ref = reference_label(base, "t2s", converter=cc)
        assert full["text_converted"] == base_ref["text_converted"] * rep, i
        assert full["text_scrubbed"] == base_ref["text_scrubbed"] * rep, i
        convs.append(_sq(base_ref["text_converted"]))
        scrubs.append(_sq(base_ref["text_scrubbed"]))
    n_conv = n_conv_for_sf(sf_dir_sf)
    return f"""
WITH t AS ({transcripts_sql(n_conv)})
SELECT conv_id, turn_idx,
       ([{', '.join(keeps)}])[pool_idx + 1] AS keep,
       ([{', '.join(reasons)}])[pool_idx + 1] AS drop_reason,
       ([{', '.join(langs)}])[pool_idx + 1] AS lang,
       repeat(([{', '.join(convs)}])[pool_idx + 1],
              ([{', '.join(reps)}])[pool_idx + 1]) AS text_converted,
       repeat(([{', '.join(scrubs)}])[pool_idx + 1],
              ([{', '.join(reps)}])[pool_idx + 1]) AS text_scrubbed,
       ([{', '.join(ppls)}])[pool_idx + 1]::BIGINT AS ppl_milli
FROM t
"""


def _convert_goldens_oracle() -> str:
    rows = ", ".join(
        f"({i}, {_sq(c)}, {_sq(e)})" for i, (c, _p, _t, e) in enumerate(CONVERT_GOLDENS)
    )
    return (
        "SELECT case_id::INT AS case_id, config, output "
        f"FROM (VALUES {rows}) AS v(case_id, config, output)"
    )


def _zho_oracle() -> str:
    rows = ", ".join(f"({i}, {e})" for i, (_t, e) in enumerate(ZHO_CHECK_GOLDENS))
    return f"SELECT case_id::INT AS case_id, zho::INT AS zho FROM (VALUES {rows}) AS v(case_id, zho)"


def _quality_documents_oracle() -> str:
    t = "coalesce(text, '')"
    return f"""
SELECT doc_id,
       length({t})::BIGINT AS char_len,
       len(string_split({t}, ' '))::BIGINT AS word_cnt,
       floor({Q.sql_uniq_ratio(t)} * 1000)::BIGINT AS uniq_milli,
       floor({Q.sql_symbol_ratio(t)} * 1000)::BIGINT AS symbol_milli,
       {Q.sql_drop_reason(t)} AS drop_reason,
       {Q.sql_lang_simple(t)} AS lang_simple,
       {Q.sql_scrub(t)} AS text_scrubbed
FROM documents
"""


def oracle_sql() -> dict[str, str]:
    return {
        "pipeline_transcripts": _pipeline_oracle("sf0.01"),
        # incremental execution must equal the batch plan byte-for-byte,
        # so the streaming query shares the batch pipeline's oracle
        "streaming_quality_filter": _pipeline_oracle("sf0.01"),
        "quality_documents": _quality_documents_oracle(),
        "convert_goldens": _convert_goldens_oracle(),
        # the zstd-loaded bundle must produce the SAME goldens (the
        # expected literals ARE the independent check — they were written
        # against the reference's own outputs)
        **(
            {"bundle_zstd_convert": _convert_goldens_oracle()}
            if os.path.exists(_ZSTD_BUNDLE)
            else {}
        ),
        "zho_check_goldens": _zho_oracle(),
        "dedup_exact": """
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents
)
SELECT min(doc_id) AS canonical_id, count(*)::BIGINT AS n_copies
FROM d GROUP BY text
""",
        "dedup_passage": _passage_oracle(),
        "dedup_substring": _substring_oracle(),
        "conv_pack": _conv_pack_oracle("sf0.01"),
        "html_boilerplate": _boilerplate_oracle(),
        "snapshot_time_travel": _snapshot_oracle(),
        "dedup_minhash": _dedup_minhash_oracle(),
        "dedup_ngram_jaccard": _dedup_minhash_oracle(),
        "dedup_components": _dedup_components_oracle(),
        "split_leakage_safe": _split_leakage_oracle(),
        "dedup_components_star": _dedup_components_oracle(),
        "dedup_canonical": _dedup_canonical_oracle(),
        "dedup_incremental": _dedup_incremental_oracle(),
        "textstats": _textstats_oracle(),
        "quality_quantiles": _quality_quantiles_oracle(),
        # full replay of curation.decontaminate: same 13-grams, same
        # md5-prefix 60-bit hashes, same distinct-hit counts
        "decontaminate_ngram": """
WITH corpus AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bench AS (SELECT string_split(text, ' ')[1:30] AS w
          FROM documents WHERE doc_id % 37 = 5),
bp AS (SELECT w, unnest(generate_series(1, len(w) - 12)) AS i FROM bench),
bng AS (SELECT DISTINCT
          ('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), 1, 15))::BIGINT AS ng
        FROM bp),
cp AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 12)) AS i FROM corpus),
cng AS (SELECT DISTINCT doc_id,
          ('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), 1, 15))::BIGINT AS ng
        FROM cp)
SELECT c.doc_id, count(*)::BIGINT AS n_hits
FROM cng c JOIN bng b USING (ng)
GROUP BY 1
""",
        # exact replay of the deterministic per-stratum Bernoulli draw
        "sample_stratified": f"""
WITH d AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5('strat:' || doc_id), 1, 15))::BIGINT % 1000000
           AS sample_ppm
  FROM documents
)
SELECT doc_id, lang, sample_ppm FROM d
WHERE sample_ppm < CASE lang
  {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_STRAT_RATES_PPM.items()))}
  ELSE {_STRAT_DEFAULT_PPM} END
""",
        # the NAIVE full-window spec of budget_select — the Spark side's
        # histogram/cutoff-bucket decomposition must equal it exactly
        "budget_select": f"""
WITH d AS (
  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tokens,
         ('0x' || substr(md5('budget:' || doc_id), 1, 15))::BIGINT AS hkey,
         (CASE lang
            {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_TOKEN_BUDGETS.items()))}
            ELSE 0 END)::BIGINT AS budget
  FROM documents
),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY hkey, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
SELECT doc_id, lang, n_tokens FROM c WHERE cum <= budget
""",
        "quality_top_fraction": _top_fraction_oracle(),
        "quality_repetition": _repetition_oracle(),
        "mixture_rebalance": _mixture_oracle(),
        "dedup_bloom_prefilter": _bloom_oracle(),
        "pack_chunks": _pack_oracle(),
        "shard_manifest": _shard_manifest_oracle(),
        "curation_e2e": _curation_e2e_oracle(),
        "st_ts_goldens": _values_oracle(
            [(i, op, e) for i, op, _t, e in _ST_TS_GOLDENS],
            "case_id::INT AS case_id, op, output",
            "case_id, op, output",
        ),
        "normalize_detofu_goldens": _values_oracle(
            [(i, n, d, c) for i, _t, n, d, c in _NORM_DETOFU_GOLDENS],
            "case_id::INT AS case_id, normalized, detofu_b, detofu_custom",
            "case_id, normalized, detofu_b, detofu_custom",
        ),
        "ids_preserve_goldens": _values_oracle(
            [(i, on, off) for i, _t, on, off in _IDS_GOLDENS],
            "case_id::INT AS case_id, preserve_on, preserve_off",
            "case_id, preserve_on, preserve_off",
        ),
        "custom_dict_convert": _values_oracle(
            [(i, e) for i, _t, e in _CUSTOM_GOLDENS],
            "case_id::INT AS case_id, output",
            "case_id, output",
        ),
        "streaming_dedup_replay": _streaming_replay_oracle("sf0.01"),
        "zho_check_transcripts": _zho_transcripts_oracle("sf0.01"),
        "conv_fold_tools": _conv_fold_oracle("sf0.01"),
        "conv_gate": _conv_gate_oracle("sf0.01"),
        "conv_dedup_exact": _conv_dedup_oracle("sf0.01"),
        "conv_render": _conv_render_oracle("sf0.01"),
        "dedup_exact_prehash": """
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents
)
SELECT min(doc_id) AS canonical_id, count(*)::BIGINT AS n_copies
FROM d GROUP BY text
""",
        "pdf_reflow_convert": _values_oracle(
            [(i, e) for i, _p, _b, _k, e in _PDF_GOLDENS],
            "case_id::INT AS case_id, text",
            "case_id, text",
        ),
        "office_convert": _values_oracle(
            [(i, e) for i, _f, _n, _x, _c, _k, e in _OFFICE_GOLDENS],
            "case_id::INT AS case_id, part_xml",
            "case_id, part_xml",
        ),
        "textfiles_encodings": _values_oracle(
            [
                (i, ln, line)
                for i, _enc, lines in _TEXTFILE_GOLDENS
                for ln, line in enumerate(lines)
            ],
            "case_id::INT AS case_id, line_no::INT AS line_no, text",
            "case_id, line_no, text",
        ),
        "dedup_simhash": _dedup_simhash_oracle(),
    }


def _values_oracle(rows: list, select: str, names: str) -> str:
    formatted = ", ".join(
        "(" + ", ".join(_sq(v) if isinstance(v, str) else str(v) for v in row) + ")"
        for row in rows
    )
    return f"SELECT {select} FROM (VALUES {formatted}) AS v({names})"


def _streaming_replay_oracle(sf_dir_sf: str) -> str:
    """Exactly-once contract: the final sink table of the replayed stream
    equals ONE copy of the deterministic transcripts source."""
    n_conv = _replay_n_conv(sf_dir_sf)
    return f"""
WITH t AS ({transcripts_sql(n_conv)})
SELECT conv_id, turn_idx, role, text, tool,
       floor(epoch(ts))::BIGINT AS ts_epoch
FROM t
"""


def _zho_transcripts_oracle(sf_dir_sf: str) -> str:
    cc = Converter()
    zhos = [str(cc.zho_check(pool_text(i))) for i in range(len(POOL))]
    n_conv = n_conv_for_sf(sf_dir_sf)
    return f"""
WITH t AS ({transcripts_sql(n_conv)})
SELECT ([{', '.join(zhos)}])[pool_idx + 1]::INT AS zho,
       count(*) AS n_turns
FROM t GROUP BY 1
"""


def _conv_fold_oracle(sf_dir_sf: str) -> str:
    from openccnet_spark.operators.conversations import sql_fold_tool_turns

    t = f"(SELECT * FROM ({transcripts_sql(n_conv_for_sf(sf_dir_sf))}) raw) tt"
    return sql_fold_tool_turns(t)


def _conv_gate_oracle(sf_dir_sf: str) -> str:
    """Pool-literal per-turn keep labels (the reference path) aggregated
    to the gate decision in SQL — replays conversation_gate exactly."""
    cc = Converter()
    keeps = [
        "true" if reference_label(pool_text(i), "t2s", converter=cc)["keep"] else "false"
        for i in range(len(POOL))
    ]
    n_conv = n_conv_for_sf(sf_dir_sf)
    return f"""
WITH t AS ({transcripts_sql(n_conv)}),
lab AS (
  SELECT conv_id,
         ([{', '.join(keeps)}])[pool_idx + 1] AS keep,
         turn_idx % 3 = 1 AS is_assistant
  FROM t
), agg AS (
  SELECT conv_id, count(*)::BIGINT AS n_turns,
         sum(keep::INT)::BIGINT AS n_kept,
         sum((keep AND is_assistant)::INT)::BIGINT AS n_assistant_kept
  FROM lab GROUP BY conv_id
)
SELECT conv_id, n_turns, n_kept, n_assistant_kept,
       (n_kept * 1000 // n_turns)::BIGINT AS kept_milli,
       CASE WHEN n_assistant_kept < 1 THEN false
            WHEN n_kept * 1000 // n_turns < 600 THEN false
            ELSE true END AS conv_keep,
       CASE WHEN n_assistant_kept < 1 THEN 'no_assistant'
            WHEN n_kept * 1000 // n_turns < 600 THEN 'low_kept_fraction'
            ELSE 'none' END AS drop_reason
FROM agg
"""


def _conv_dedup_oracle(sf_dir_sf: str) -> str:
    from openccnet_spark.operators.conversations import sql_conversation_fingerprints

    t = f"(SELECT * FROM ({transcripts_sql(n_conv_for_sf(sf_dir_sf))}) raw) tt"
    return sql_conversation_fingerprints(t)


def _conv_render_oracle(sf_dir_sf: str) -> str:
    """Render SQL nested over the fold SQL — same composition as the
    Spark query."""
    from openccnet_spark.operators.conversations import (
        sql_fold_tool_turns,
        sql_render_chat_template,
    )

    t = f"(SELECT * FROM ({transcripts_sql(n_conv_for_sf(sf_dir_sf))}) raw) tt"
    return sql_render_chat_template(f"({sql_fold_tool_turns(t)}) folded")


def _passage_oracle() -> str:
    """Naive window form of passage dedup over the doubled corpus."""
    from openccnet_spark.operators.passages import sql_passage_dedup

    doubled = (
        "(SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 100000, text FROM documents)"
    )
    return sql_passage_dedup(doubled)


def _snapshot_oracle() -> str:
    """The three snapshot probes resolve to doc_id predicates on the
    source table (v2 live set = %3 in (0,1); the (1,2] increment = %3==1;
    v3 overwrote to %3==2) — the digests pin the exact file sets."""
    digest = "bit_xor(('0x' || substr(md5('snap:' || doc_id), 1, 15))::BIGINT)::BIGINT"
    return f"""
SELECT 'time_travel_v2' AS probe, count(*)::BIGINT AS n_rows, {digest} AS id_digest
FROM documents WHERE doc_id % 3 IN (0, 1)
UNION ALL
SELECT 'incremental_1_2', count(*)::BIGINT, {digest}
FROM documents WHERE doc_id % 3 = 1
UNION ALL
SELECT 'current_v3', count(*)::BIGINT, {digest}
FROM documents WHERE doc_id % 3 = 2
"""


def _boilerplate_oracle() -> str:
    """Block classifier replayed in DuckDB over the same synth pages."""
    from openccnet_spark.operators.boilerplate import (
        sql_extract_main_text,
        sql_synth_page,
    )

    page = sql_synth_page("coalesce(text, '')")
    return sql_extract_main_text(f"(SELECT doc_id, {page} AS html FROM documents)")


def _conv_pack_oracle(sf_dir_sf: str) -> str:
    """Naive single-window prefix-sum replay of the conversation packer
    over the identical synthesized transcripts."""
    from openccnet_spark.operators.conversations import sql_conversation_pack

    return sql_conversation_pack(2048, f"({transcripts_sql(n_conv_for_sf(sf_dir_sf))})")


def _substring_oracle() -> str:
    """Naive window form of duplicated-substring removal over the
    doubled corpus."""
    from openccnet_spark.operators.substrings import sql_substring_dedup

    doubled = (
        "(SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 100000, text FROM documents)"
    )
    return sql_substring_dedup(doubled)


def _dedup_minhash_oracle() -> str:
    """Brute-force exact-Jaccard >= 0.7 pairs over the same mutant corpus.
    Matching this also proves LSH recall is total at the configured banding."""
    from openccnet_spark.operators.dedup import JACCARD_THRESHOLD

    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         substring(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1)
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(w) - 2, 0)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d)
), ne AS (SELECT * FROM sh WHERE len(s) > 0)
SELECT a.doc_id AS a, b.doc_id AS b,
       floor(len(list_intersect(a.s, b.s))::DOUBLE
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) * 1000)::BIGINT
         AS jaccard_milli
FROM ne a JOIN ne b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s))::DOUBLE
      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= {JACCARD_THRESHOLD}
"""


def _dedup_incremental_oracle() -> str:
    """Brute-force recompute of the incremental decision from the two
    tables: batch 1 = even doc_ids (the persisted index's content),
    batch 2 = odd docs + mutants of evens (+100000) + mutants of odds
    (+200000). 'index' dups = any >=threshold pair against batch 1;
    'batch' dups = any >=threshold pair against a SMALLER-id batch-2 doc
    (the operator's greedy rule); 'index' wins when both apply. Matching
    this also proves the banded index join's recall, same as
    dedup_minhash."""
    from openccnet_spark.operators.dedup import JACCARD_THRESHOLD

    mut = "substring(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1)"
    shingle = """
  SELECT doc_id,
         list_distinct(list_transform(
            generate_series(1, greatest(len(w) - 2, 0)),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})"""
    jacc = (
        "len(list_intersect(a.s, b.s))::DOUBLE"
        " / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
    )
    return f"""
WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, {mut} FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + 200000, {mut} FROM documents WHERE doc_id % 2 = 1
),
sh_o AS (SELECT * FROM ({shingle.format(src='old')}) WHERE len(s) > 0),
sh_b AS (SELECT * FROM ({shingle.format(src='batch')}) WHERE len(s) > 0),
di AS (
  SELECT DISTINCT a.doc_id FROM sh_b a JOIN sh_o b ON {jacc} >= {JACCARD_THRESHOLD}
),
db AS (
  SELECT DISTINCT a.doc_id FROM sh_b a
  JOIN sh_b b ON a.doc_id > b.doc_id AND {jacc} >= {JACCARD_THRESHOLD}
)
SELECT bd.doc_id,
       (di.doc_id IS NULL AND db.doc_id IS NULL) AS keep,
       CASE WHEN di.doc_id IS NOT NULL THEN 'index'
            WHEN db.doc_id IS NOT NULL THEN 'batch' END AS dup_src
FROM batch bd
LEFT JOIN di ON bd.doc_id = di.doc_id
LEFT JOIN db ON bd.doc_id = db.doc_id
"""


def _components_walk_sql() -> str:
    """Shared recursive-CTE body: MinHash pair list -> symmetric edges ->
    transitive closure (walk) -> min reachable id per node. UNION (not
    UNION ALL) dedups rows so the recursion terminates on the finite
    closure."""
    return f"""
p AS (SELECT a, b FROM ({_dedup_minhash_oracle()})),
edges AS (SELECT a AS src, b AS dst FROM p UNION SELECT b, a FROM p),
walk(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.node = e.dst
),
comp AS (SELECT node, min(label)::BIGINT AS component FROM walk GROUP BY node)
"""


def _dedup_components_oracle() -> str:
    return f"""
WITH RECURSIVE {_components_walk_sql()}
SELECT node, component FROM comp
"""


def _dedup_canonical_oracle() -> str:
    return f"""
WITH RECURSIVE {_components_walk_sql()},
d AS (SELECT doc_id FROM documents UNION ALL SELECT doc_id + 100000 FROM documents),
lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM d LEFT JOIN comp c ON d.doc_id = c.node
),
sizes AS (SELECT component, count(*) AS n, min(doc_id) AS canon
          FROM lab GROUP BY component)
SELECT l.doc_id, l.component, (l.doc_id = s.canon) AS is_canonical,
       s.n::BIGINT AS n_members
FROM lab l JOIN sizes s ON l.component = s.component
"""


def _split_leakage_oracle() -> str:
    from openccnet_spark.operators.curation import sql_leakage_safe_split

    lab = f"""(
WITH RECURSIVE {_components_walk_sql()},
d AS (SELECT doc_id FROM documents UNION ALL SELECT doc_id + 100000 FROM documents)
SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
FROM d LEFT JOIN comp c ON d.doc_id = c.node
) lab"""
    return sql_leakage_safe_split(lab)


def _dedup_simhash_oracle(banded: bool = True) -> str:
    """Recompute the 60-bit md5-based SimHash per document in DuckDB.

    ``banded=True`` (the driver oracle) replays the Spark side's 4x15-bit
    pigeonhole banding INCLUDING the SIMHASH_MAX_BUCKET degenerate-bucket
    guard, so the oracle stays hash-identical at ANY oracle scale — even
    one where a band bucket exceeds the cap and whole buckets are dropped.
    ``banded=False`` emits ALL pairs with hamming <= 3 brute-force; the
    two are equal whenever no bucket is oversized (pigeonhole totality:
    a hamming<=3 pair leaves at least one of the 4 bands untouched) —
    pinned at test scale by
    tests/test_training_ops.py::test_simhash_banded_oracle_equals_brute."""
    from openccnet_spark.operators.dedup import (
        SIMHASH_BANDS,
        SIMHASH_BITS,
        SIMHASH_MAX_BUCKET,
    )

    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> "
        f"CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    band_mask = (1 << band_bits) - 1
    base = f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         substring(text, 1, length(text) - length(string_split(text, ' ')[-1]) - 1)
  FROM documents
), hashed AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
                        w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs
  FROM d
), sigs AS (
  SELECT doc_id, ({bit_terms})::BIGINT AS sig FROM hashed
)"""
    if not banded:
        return base + """
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""
    return base + f""",
bands AS (
  SELECT s.doc_id, s.sig, i.i AS band_i,
         (s.sig >> (i.i * {band_bits})) & {band_mask} AS band_v
  FROM sigs s CROSS JOIN generate_series(0, {SIMHASH_BANDS - 1}) AS i(i)
),
surv AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band_i, band_v) <= {SIMHASH_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM surv a JOIN surv b ON a.band_i = b.band_i AND a.band_v = b.band_v
                       AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def _quality_quantiles_oracle() -> str:
    from openccnet_spark.operators import textstats as T

    q = T.sql_quality_score_milli("coalesce(text, '')")
    return f"""
WITH s AS (SELECT lang, {q} AS q, doc_id FROM documents),
r AS (SELECT lang, q,
             row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s)
SELECT lang,
       min(CASE WHEN rn = ceil(0.5 * n) THEN q END)::BIGINT AS p50_milli,
       min(CASE WHEN rn = ceil(0.9 * n) THEN q END)::BIGINT AS p90_milli,
       min(CASE WHEN rn = ceil(0.99 * n) THEN q END)::BIGINT AS p99_milli
FROM r GROUP BY lang
"""


def _top_fraction_oracle() -> str:
    """The NAIVE spec of curation.top_fraction_select: rank each language
    by (score DESC, doc_id) and keep rank <= ceil(n * frac / 1e6), the
    ceil in pure integer arithmetic. The Spark side's histogram/cutoff
    decomposition must equal this exactly at any partitioning."""
    from openccnet_spark.operators import textstats as T

    q = T.sql_quality_score_milli("coalesce(text, '')")
    return f"""
WITH d AS (SELECT doc_id, lang, ({q})::BIGINT AS score FROM documents),
r AS (SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM d)
SELECT doc_id, lang, score FROM r
WHERE rn <= least(n, (n * {_TOP_FRAC_PPM} + 999999) // 1000000)
"""


def _shard_manifest_oracle() -> str:
    from openccnet_spark.operators.shards import sql_shard_manifest

    return sql_shard_manifest(_SHARD_TOKENS)


def _pack_oracle() -> str:
    from openccnet_spark.operators.packing import sql_pack_chunks

    return sql_pack_chunks(_PACK_WINDOW)


def _curation_e2e_oracle() -> str:
    """The three stage specs chained as CTEs: repetition keep -> naive
    per-language top-fraction rank -> naive single-window prefix sum."""
    from openccnet_spark.operators import textstats as T
    from openccnet_spark.operators.repetition import sql_repetition_signals

    q = T.sql_quality_score_milli("coalesce(text, '')")
    return f"""
WITH rep AS ({sql_repetition_signals("documents")}),
kept AS (SELECT d.doc_id, d.lang, d.text
         FROM documents d JOIN rep ON rep.doc_id = d.doc_id AND rep.keep = 1),
sc AS (SELECT doc_id, lang, ({q})::BIGINT AS score,
              len(string_split(text, ' '))::BIGINT AS n_tokens,
              ('0x' || substr(md5('pack:' || doc_id), 1, 15))::BIGINT AS hkey
       FROM kept),
r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM sc),
sel AS (SELECT doc_id, n_tokens, hkey FROM r
        WHERE rn <= least(n, (n * {_TOP_FRAC_PPM} + 999999) // 1000000)),
c AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY hkey, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0)::BIGINT AS start_offset
      FROM sel WHERE n_tokens > 0)
SELECT doc_id, n_tokens, start_offset,
       (start_offset // {_PACK_WINDOW})::BIGINT AS first_chunk,
       ((start_offset + n_tokens - 1) // {_PACK_WINDOW})::BIGINT AS last_chunk,
       ((start_offset + n_tokens - 1) // {_PACK_WINDOW}
        - start_offset // {_PACK_WINDOW} + 1)::BIGINT AS n_chunks
FROM c
"""


def _bloom_oracle() -> str:
    from openccnet_spark.operators.bloom import sql_incremental_exact

    return sql_incremental_exact(
        batch_where="TRUE",
        index_where="doc_id % 3 <> 0",
        m_bits=_BLOOM_M_BITS,
    )


def _mixture_oracle() -> str:
    """Replay of curation.mixture_rebalance: integer quota math + the
    per-source (hash, id) rank selection, naive-window form."""
    vals = ", ".join(
        f"('{s}', {f})" for s, f in sorted(_MIX_TARGET_PPM.items())
    )
    return f"""
WITH t(source, f) AS (VALUES {vals}),
cnt AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
ntot AS (SELECT min((coalesce(c.n, 0) * 1000000) // t.f)::BIGINT AS n_total
         FROM t LEFT JOIN cnt c USING (source) WHERE t.f > 0),
q AS (SELECT t.source,
             (((SELECT n_total FROM ntot) * t.f) // 1000000)::BIGINT AS quota
      FROM t WHERE t.f > 0),
d AS (SELECT doc_id, source,
             ('0x' || substr(md5('mix:' || doc_id), 1, 15))::BIGINT AS hkey
      FROM documents),
r AS (SELECT d.doc_id, d.source, q.quota,
             row_number() OVER (PARTITION BY d.source ORDER BY d.hkey, d.doc_id) AS rn
      FROM d JOIN q USING (source))
SELECT doc_id, source FROM r WHERE rn <= quota
"""


def _repetition_oracle() -> str:
    from openccnet_spark.operators.repetition import sql_repetition_signals

    return sql_repetition_signals("documents")


def _textstats_oracle() -> str:
    from openccnet_spark.operators import textstats as T

    t = "coalesce(text, '')"
    return f"""
SELECT doc_id,
       len(string_split({t}, ' '))::BIGINT AS ws_tokens,
       {T.sql_regex_token_count(t)}::BIGINT AS re_tokens,
       {T.sql_quality_score_milli(t)} AS quality_milli,
       {T.sql_fingerprint64(t)}::BIGINT AS fingerprint
FROM documents
"""
