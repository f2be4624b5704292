"""Multimodal columns: opaque binary payloads + real image decode.

Image payloads are ``binary`` columns with a small typed metadata struct.
Feature extraction is a narrow ``mapInPandas`` pass: the payload is
sniffed by magic and, for PNG/BMP, decoded with the repo's self-contained
pure-Python codec (``openccnet_spark.imagecodec`` — zlib inflate + all
five PNG filters + palette/gray/alpha modes, BMP BI_RGB), emitting real
width/height/channels/mode plus exact per-channel pixel sums. Payloads
that are not images (arbitrary blobs) degrade honestly to byte-level
features with ``format='opaque'`` and NULL media fields — a documented
fallback, not a stub.

Scale notes: payloads never shuffle — extraction is narrow over the scan;
the output is a slim typed frame that IS safe to shuffle/join downstream.
``spark.sql.files.maxPartitionBytes`` sizes tasks and Arrow batches cap
worker memory via ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..imagecodec import ImageDecodeError, decode_image, encode_bmp, encode_png

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, checksum long, format string, mode string, "
    "width int, height int, channels int, sum_r long, sum_g long, sum_b long"
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test harness: derive a binary payload column from text (UTF-8 bytes).

    Real pipelines read payloads from ``spark.read.format('binaryFile')``
    or an Iceberg table with a binary column; this adapter exists so the
    plumbing is exercisable on the driver's text-only tables. Text bytes
    are not images, so these payloads take the ``opaque`` path.
    """
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


# -- deterministic synthetic images (driver fixtures / bench) ---------------


def synth_image_payload(doc_id: int) -> bytes:
    """Deterministic synthetic image for ``doc_id``: size, container format
    (PNG-RGB / PNG-gray / BMP), PNG row filter, and every pixel value are
    closed-form functions of ``doc_id`` — so an oracle can recompute the
    expected decoded features in pure SQL (see __spark_entry__
    ``multimodal_decode``). Pixel formula:

        v(x, y, c) = (doc_id*7 + 3*x + 5*y + 11*c) mod 256
    """
    w = 16 + doc_id % 93
    h = 12 + doc_id % 61
    kind = doc_id % 3
    channels = 1 if kind == 1 else 3
    base = doc_id * 7
    px = bytearray(w * h * channels)
    i = 0
    for y in range(h):
        ry = base + 5 * y
        for x in range(w):
            v = ry + 3 * x
            for c in range(channels):
                px[i] = (v + 11 * c) % 256
                i += 1
    if kind == 0:
        return encode_png(w, h, bytes(px), "RGB", filter_type=doc_id % 5)
    if kind == 1:
        return encode_png(w, h, bytes(px), "L", filter_type=doc_id % 5)
    return encode_bmp(w, h, bytes(px), top_down=bool(doc_id % 2))


def with_synth_image_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Narrow mapInPandas pass materializing ``synth_image_payload`` per id.
    Distributed — no driver-side image building, no shuffle."""

    def _synth(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": [synth_image_payload(int(d)) for d in pdf[id_col]],
                }
            )

    return df.select(id_col).mapInPandas(_synth, f"{id_col} long, payload binary")


def _features_one(doc_id, payload: bytes) -> tuple:
    n = len(payload)
    crc = zlib.crc32(payload)
    try:
        img = decode_image(payload)
    except ImageDecodeError:
        return (doc_id, n, crc, "opaque", None, None, None, None, None, None, None)
    r, g, b = img.channel_sums()
    return (
        doc_id, n, crc, img.format, img.mode,
        img.width, img.height, img.channels, r, g, b,
    )


def extract_image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Narrow mapInPandas pass: payload -> decoded image features.

    One Arrow round-trip; no shuffle; real PNG/BMP decode (imagecodec),
    ``opaque`` fallback for non-image payloads. Output is a slim typed
    frame safe to shuffle/join downstream (payloads stay in the scan).
    """

    def _extract(batches):
        for pdf in batches:
            rows = [
                _features_one(did, p if p is not None else b"")
                for did, p in zip(pdf[id_col], pdf["payload"])
            ]
            out = pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_bytes", "checksum", "format", "mode",
                    "width", "height", "channels", "sum_r", "sum_g", "sum_b",
                ],
            )
            yield out

    return df.select(id_col, "payload").mapInPandas(_extract, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-style frame sampling plumbing: expand (doc_id, n_frames) into
    sampled frame indexes WITHOUT decoding (pure column math). n_frames
    is derived from payload length (the decode-free plan shape)."""
    return (
        df.withColumn("n_frames", (F.length("payload") % 300 + 1).cast("int"))
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))),
        )
        .select("doc_id", "n_frames", "frame_idx")
    )
