"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference keeps images as metadata-only rows (bbox, name, width, height
— reference pdf_parser.py:78-95) and never touches pixels. A training-data
pipeline at 100 TB needs the payload path too, so this module defines it
Spark-first:

- media table schema: ``(media_id string, conv_id string, turn_idx int,
  kind string, payload binary, meta struct<mime,width,height,duration_ms,
  sample_rate,n_bytes>)`` — payloads are opaque ``BinaryType`` columns,
  metadata is typed (never a stringly map), so Catalyst prunes ``payload``
  away whenever a query touches only metadata.
- compute over payloads runs in ``mapInPandas`` over Arrow record batches:
  payload bytes stream executor-side in columnar batches, nothing ever
  collects to the driver.
- the image/audio codec LIBRARIES are not in this container, but PNG
  needs none: ``decode_image``'s default path decodes PNG with the
  stdlib codec (functions/png.py, zlib + the five scanline filters) and
  runs end-to-end here; non-PNG formats route to PIL, whose absence
  becomes a per-row ok=false error row (honestly gated, never a task
  failure). ``payload_features`` computes real, deterministic byte-level
  features (size, digest, entropy, a fake width/height parsed from the
  deterministic synthetic header) with no codec at all.
- ``frame_sample_plan`` (video) is pure column expressions over metadata:
  planning which frames to sample needs no pixels at all.

Synthetic payloads come from ``synth_media`` (seeded, no external data):
a 16-byte header ``b"PPSM" + kind_code + width + height + duration_ms``
followed by md5-stream filler — enough structure for the fake decode to
parse real values back out.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

MAGIC = b"PPSM"
_KINDS = ("image", "audio", "video")

META_SCHEMA = StructType([
    StructField("mime", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_bytes", LongType()),
])

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta", META_SCHEMA),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("digest", StringType()),
    StructField("byte_entropy", DoubleType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
])

_MIME = {"image": "image/x-ppsm", "audio": "audio/x-ppsm",
         "video": "video/x-ppsm"}


def _fake_payload(seed_key: str, kind: str, width: int, height: int,
                  duration_ms: int, n_filler: int) -> bytes:
    head = MAGIC + struct.pack(">BHHI", _KINDS.index(kind), width, height,
                               duration_ms)
    filler = bytearray()
    i = 0
    while len(filler) < n_filler:
        filler.extend(hashlib.md5(f"{seed_key}:{i}".encode()).digest())
        i += 1
    return head + bytes(filler[:n_filler])


def parse_header(payload: bytes) -> tuple[str, int, int, int]:
    """(kind, width, height, duration_ms) from the synthetic header."""
    if payload[:4] != MAGIC:
        raise ValueError("not a PPSM payload")
    kind_code, w, h, dur = struct.unpack(">BHHI", payload[4:13])
    return _KINDS[kind_code], w, h, dur


def synth_media(spark: SparkSession, n_rows: int = 60, seed: int = 42,
                ) -> DataFrame:
    """Deterministic synthetic media table (no external data)."""
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        kind = _KINDS[i % 3]
        w = rng.choice([0, 320, 640, 1280]) if kind == "image" else 0
        h = (w * 3) // 4
        dur = rng.randrange(500, 60000) if kind != "image" else 0
        sr = 16000 if kind == "audio" else 0
        payload = _fake_payload(f"{seed}:{i}", kind, w, h, dur,
                                n_filler=rng.randrange(64, 2048))
        rows.append((f"m{i:05d}", f"conv_{seed}_{i % 7:06d}", i % 11, kind,
                     payload, (_MIME[kind], w, h, dur, sr, len(payload))))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_png_media(spark: SparkSession, n_rows: int = 12, seed: int = 7,
                    ) -> DataFrame:
    """Deterministic REAL PNG payloads (spec-valid, stdlib-encoded) —
    the media table the default decode path is tested on. Pixel values
    are a seeded affine pattern so every (data, seed) pair is
    bit-reproducible with no external images."""
    from pdf_parser_spark.functions.png import encode_png
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(n_rows):
        w = rng.choice([3, 17, 64, 120])
        h = max((w * 3) // 4, 1)
        rgb = bytes((x * 7 + y * 13 + i * 29 + c * 97) % 256
                    for y in range(h) for x in range(w) for c in range(3))
        payload = encode_png(w, h, rgb)
        rows.append((f"png{i:04d}", f"conv_png_{i % 5:04d}", i % 11,
                     "image", payload,
                     ("image/png", w, h, 0, 0, len(payload))))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _entropy(b: bytes) -> float:
    if not b:
        return 0.0
    counts: dict[int, int] = {}
    for x in b:
        counts[x] = counts.get(x, 0) + 1
    n = len(b)
    return round(-sum(c / n * math.log2(c / n) for c in counts.values()), 6)


def payload_features(media: DataFrame) -> DataFrame:
    """Byte-level feature extraction over the binary column (mapInPandas).

    Real distributed plumbing: Arrow batches of binary payloads, one pandas
    iteration per batch, typed output schema. The "decode" is the synthetic
    header parse; a real codec slots into the same function.
    """
    cols = [f.name for f in FEATURE_SCHEMA.fields]

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"],
                                          pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    _, w, h, dur = parse_header(b)
                except (ValueError, struct.error):
                    w = h = dur = 0
                out.append((mid, kind, len(b),
                            hashlib.md5(b).hexdigest(), _entropy(b),
                            w, h, dur))
            yield pd.DataFrame(out, columns=cols)

    return (media.select("media_id", "kind", "payload")
            .mapInPandas(feats, FEATURE_SCHEMA))


THUMBNAIL_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("src_width", IntegerType()),
    StructField("src_height", IntegerType()),
    StructField("thumb_width", IntegerType()),
    StructField("thumb_height", IntegerType()),
    StructField("pixels", BinaryType()),     # raw RGB, thumb_w*thumb_h*3
    StructField("ok", BooleanType()),
    StructField("error", StringType()),
])


def _pil_decoder(payload: bytes):
    """PIL decoder for non-PNG formats (gated — pillow absent in this
    container; vendoring attempted rounds 3-4: no outbound network, see
    the environment-gate log in BASELINE.md). Returns an object with the
    ``.size`` / ``.convert`` / ``.resize`` / ``.tobytes`` protocol the
    thumbnail pipeline below drives."""
    import io

    from PIL import Image
    return Image.open(io.BytesIO(payload))


def _default_decoder(payload: bytes):
    """The DEFAULT codec: PNG decodes via the stdlib codec
    (functions/png.py — zlib inflate + the five scanline filters, no
    external library), everything else goes to PIL. Where PIL is absent
    (this container), a non-PNG payload raises ``NotImplementedError``
    — which the per-row error accounting in :func:`decode_image` turns
    into an ok=false row, so a mixed PNG/JPEG table still decodes every
    PNG instead of failing the stage."""
    from pdf_parser_spark.functions.png import PNG_SIG, PngImage
    if payload[:8] == PNG_SIG:
        return PngImage.open(payload)
    try:
        return _pil_decoder(payload)
    except ImportError as e:
        raise NotImplementedError(
            "non-PNG image decode requires pillow, which is not installed "
            "in this container and cannot be vendored (no network); PNG "
            "payloads decode via the stdlib codec") from e


def decode_image(media: DataFrame, max_side: int = 256,
                 decoder=None) -> DataFrame:
    """Decode + downscale images to bounded thumbnails (the codec path).

    The FULL distributed pipeline is implemented and tested: mapInPandas
    over Arrow batches of payload bytes, per-row decode -> RGB -> aspect-
    preserving downscale to ``max_side`` -> raw-byte thumbnail rows with
    typed error accounting (a corrupt payload yields ok=false + error,
    never a task failure — one bad image in 10^9 must not kill a stage).
    Only the codec itself is injected: ``decoder(payload)`` must return a
    PIL-Image-like object (``.size``, ``.convert('RGB')``,
    ``.resize((w, h))``, ``.tobytes()``). The DEFAULT decoder handles PNG
    via the stdlib codec (functions/png.py) — executable in this
    container end-to-end, test-pinned on spec-valid synthetic PNGs — and
    routes every other format to PIL, whose absence becomes a per-row
    ok=false error row (the JPEG path stays honestly gated: there is no
    stdlib DCT decoder worth hand-rolling).
    """
    if decoder is None:
        decoder = _default_decoder

    cols = [f.name for f in THUMBNAIL_SCHEMA.fields]

    def thumbs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    img = decoder(bytes(payload) if payload is not None
                                  else b"")
                    w, h = img.size
                    scale = min(1.0, max_side / max(w, h, 1))
                    tw, th = max(int(w * scale), 1), max(int(h * scale), 1)
                    px = img.convert("RGB").resize((tw, th)).tobytes()
                    out.append((mid, w, h, tw, th, px, True, None))
                except Exception as e:  # corrupt payload -> error row
                    out.append((mid, 0, 0, 0, 0, b"", False,
                                f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(out, columns=cols)

    return (media.where(F.col("kind") == "image")
            .select("media_id", "payload")
            .mapInPandas(thumbs, THUMBNAIL_SCHEMA))


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plan: (media_id, frame_ts_ms) rows, one per
    sampled timestamp — pure JVM expressions over metadata, payload pruned
    from the scan entirely."""
    n = F.greatest((F.col("meta.duration_ms") / every_ms).cast("int"),
                   F.lit(0))
    return (media.where(F.col("kind") == "video")
            .select("media_id",
                    F.explode(F.sequence(F.lit(0), n)).alias("frame_no"))
            .select("media_id",
                    (F.col("frame_no") * every_ms).alias("frame_ts_ms")))


def media_dedup_groups(media: DataFrame) -> DataFrame:
    """Exact payload dedup: md5 over the binary column, JVM-side."""
    return (media.groupBy(F.md5("payload").alias("payload_hash"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("media_id").alias("survivor_id")))
