"""Multimodal (image/audio/video) column operators.

Beyond-parity module (SURVEY §7 phase 5): media travels as opaque
``binary`` columns next to a typed metadata struct — the lakehouse
pattern for 100 TB multimodal training data. The Spark-side plumbing
(schemas, partition-preserving ``mapInPandas``, Arrow batch shapes,
UDF signatures) is real and tested, and the codec layer is REAL for
uncompressed formats (round 5): ``decode_image`` handles PPM/PGM/BMP
and ``decode_audio`` PCM WAV via the zero-dependency numpy/stdlib
codecs in ``operators/codecs.py``; ``resize_images`` produces real
thumbnails. Standard PNG decodes with the built-in numpy codecs;
JPEG and the remaining variants stay behind the Pillow
import-try gate — absent in this container, those rows decode as NULLs.
``fake_decode_image`` / ``audio_stats_col`` stay as the deterministic
stand-ins the DuckDB oracle can verify (no SQL engine decodes BMP).

Schema conventions:

    media(media_id BIGINT, kind STRING, data BINARY,
          meta STRUCT<mime STRING, n_bytes BIGINT, fps DOUBLE,
                      duration_ms BIGINT>)

Frame sampling is pure Catalyst (sequence + explode over metadata) —
no Python touches the hot path; only per-byte codec work drops to
Arrow-batched pandas.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pragma: no cover - not installed in this container
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("data", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("fps", T.DoubleType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("byte_sum", T.LongType(), True),
    ]
)

FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic media table derived from the documents
    corpus (the container ships no real media): payload = utf-8 text
    bytes, metadata from payload length. Every downstream 'decode' is a
    pure function of these bytes, keeping the pipeline oracle-checkable.
    """
    data = F.encode(F.col("text"), "UTF-8")
    n = F.octet_length(data).cast("long")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        data.alias("data"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            n.alias("n_bytes"),
            F.lit(10.0).alias("fps"),
            (n * 4).alias("duration_ms"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# Decode (mapInPandas — Arrow-batched; the real-codec slot)
# ---------------------------------------------------------------------------


def fake_decode_dims(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for a JPEG decode: dims and a byte
    checksum derived purely from the payload."""
    n = len(payload)
    return (n % 512 + 64, (n * 7) % 512 + 64, 3, sum(payload) % 1_000_003)


def fake_decode_image(media: DataFrame) -> DataFrame:
    """'Decode' image payloads via mapInPandas: binary in → per-image
    properties out, Arrow-batched, schema fixed up front. Swap the body
    for Pillow when available — the plumbing does not change."""
    narrow = media.select("media_id", "data")  # column-prune before Python

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                fake_decode_dims(bytes(p)) if p is not None else (None,) * 4
                for p in pdf["data"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "byte_sum": [d[3] for d in dims],
                }
            )

    return narrow.mapInPandas(decode, DECODED_IMAGE_SCHEMA)


def decode_image(media: DataFrame) -> DataFrame:
    """REAL decode path over ``mapInPandas`` — same plumbing as
    ``fake_decode_image``, but the body runs the built-in numpy codecs
    (PPM/PGM/BMP + zlib-based PNG, ``operators/codecs.py``) on each
    payload. Formats the built-ins can't handle (JPEG; 16-bit or
    interlaced PNG) dispatch to Pillow when importable; otherwise those
    rows decode as NULLs (the import-try gate, visible in the output
    rather than an exception so one bad payload can't kill a 100 TB
    scan). ``byte_sum`` = sum of decoded pixel values mod 1,000,003 —
    a content checksum downstream dedup can group on."""
    from . import codecs

    narrow = media.select("media_id", "data")  # column-prune before Python

    def one(p) -> tuple:
        if p is None:
            return (None,) * 4
        payload = bytes(p)
        try:
            arr = codecs.decode_image_array(payload)
        except codecs.CodecError:
            if HAVE_PIL and codecs.sniff_format(payload) in ("jpeg", "png"):
                import io

                import numpy as np

                with Image.open(io.BytesIO(payload)) as im:
                    arr = np.asarray(im.convert("RGB"))
            else:
                return (None,) * 4
        h, w, ch = arr.shape
        return (w, h, ch, int(arr.sum()) % 1_000_003)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [one(p) for p in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "byte_sum": [d[3] for d in dims],
                }
            )

    return narrow.mapInPandas(decode, DECODED_IMAGE_SCHEMA)


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL audio decode for PCM WAV payloads (stdlib ``wave`` + numpy,
    ``operators/codecs.py``); non-WAV payloads yield NULL rows. Emits
    framing plus RMS amplitude — the stats a quality-filter stage gates
    on before a (model-based) feature extractor runs."""
    from . import codecs

    narrow = media.select("media_id", "data")

    def one(p) -> tuple:
        if p is None:
            return (None,) * 4
        try:
            arr, rate = codecs.decode_wav(bytes(p))
        except codecs.CodecError:
            return (None,) * 4
        rms = float((arr.astype("float64") ** 2).mean() ** 0.5) if arr.size else 0.0
        return (rate, arr.shape[1], arr.shape[0], round(rms, 6))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [one(p) for p in pdf["data"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [r[0] for r in rows],
                    "n_channels": [r[1] for r in rows],
                    "n_frames": [r[2] for r in rows],
                    "rms": [r[3] for r in rows],
                }
            )

    return narrow.mapInPandas(decode, DECODED_AUDIO_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("thumb", T.BinaryType(), True),
    ]
)


def resize_images(media: DataFrame, width: int = 16, height: int = 16) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode (PPM) thumbnail
    column, all inside one Arrow batch pass — the shape of a real
    thumbnailing stage (decode and transform co-located so pixels never
    cross a stage boundary). Undecodable payloads → NULL thumb."""
    from . import codecs

    narrow = media.select("media_id", "data")

    def one(p):
        if p is None:
            return None
        try:
            arr = codecs.decode_image_array(bytes(p))
        except codecs.CodecError:
            return None
        return codecs.encode_ppm(codecs.resize_nearest(arr, width, height))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "thumb": [one(p) for p in pdf["data"]]}
            )

    return narrow.mapInPandas(run, RESIZED_SCHEMA)


def extract_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Feature extraction stub: deterministic pseudo-embedding from the
    payload's md5 (the slot where a vision/audio model batch-infers).
    Arrow-batched pandas; output is a dense array<float> column ready
    for the similarity/dedup operators."""
    narrow = media.select("media_id", "data")

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(p) -> list[float] | None:
            if p is None:
                return None
            digest = hashlib.md5(bytes(p)).digest()
            return [round(digest[i] / 255.0 * 2 - 1, 6) for i in range(dim)]

        for pdf in batches:
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "feature": [one(p) for p in pdf["data"]]}
            )

    return narrow.mapInPandas(feats, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Frame sampling (pure Catalyst — no Python)
# ---------------------------------------------------------------------------


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """One row per sampled frame for video media: frame index + its
    timestamp, from metadata alone (sequence + explode; the payload
    column is never touched, so nothing big shuffles)."""
    vids = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.col("meta.fps").alias("fps"),
    )
    return (
        vids.withColumn(
            "frame_ts_ms",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
            ),
        )
        .select(
            "media_id",
            "frame_ts_ms",
            F.floor(F.col("frame_ts_ms") / 1000.0 * F.col("fps")).cast("long").alias("frame_index"),
        )
    )


DECODED_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_index", T.IntegerType(), True),
        T.StructField("frame_ts_ms", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("pixel_sum", T.LongType(), True),
    ]
)


def decode_video_frames(
    media: DataFrame, every_ms: int | None = None
) -> DataFrame:
    """REAL frame extraction for animated GIF payloads (`operators/
    gif.py`, pure numpy LZW): one row per (sampled) frame with its
    timestamp (cumulative delays) and a pixel checksum. ``every_ms``
    keeps only the first frame at or after each sampling tick — the
    frame-sample stage of a video-training pipeline, but on actual
    pixels rather than metadata arithmetic. Non-GIF / corrupt payloads
    yield a single NULL row per media_id (mapInPandas-safety contract:
    one bad payload never kills the scan)."""
    from . import gif as gif_codec
    from .codecs import CodecError

    narrow = media.select("media_id", "data")

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["data"]):
                if payload is None:
                    rows.append((media_id, None, None, None, None, None))
                    continue
                try:
                    frames, delays = gif_codec.decode_gif(bytes(payload))
                except CodecError:
                    rows.append((media_id, None, None, None, None, None))
                    continue
                ts = 0
                next_tick = 0
                for fi in range(frames.shape[0]):
                    take = every_ms is None or ts >= next_tick
                    if take:
                        h, w = frames.shape[1:3]
                        rows.append(
                            (
                                media_id,
                                fi,
                                ts,
                                w,
                                h,
                                int(frames[fi].sum()) % 1_000_003,
                            )
                        )
                        if every_ms is not None:
                            # Next tick is the first grid point STRICTLY
                            # after this frame's timestamp — a frame
                            # whose delay spans several ticks must not
                            # cause later frames to be taken for ticks
                            # that frame already covered.
                            next_tick = (ts // every_ms + 1) * every_ms
                    ts += delays[fi]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_index", "frame_ts_ms",
                    "width", "height", "pixel_sum",
                ],
            )

    return narrow.mapInPandas(explode_frames, DECODED_FRAME_SCHEMA)


def audio_stats_col(meta: Column) -> Column:
    """Fake audio stats from metadata (sample count at a nominal 16 kHz
    mono 8-bit): where soundfile would decode, this derives from bytes."""
    return F.struct(
        (meta["n_bytes"]).alias("n_samples"),
        (meta["n_bytes"].cast("double") / 16000.0).alias("seconds"),
    )
