"""Multimodal columns — opaque binary payloads with typed metadata.

Large-scale training pipelines carry images/audio/video as `binary`
columns beside typed metadata; the engine's job is the Spark-side
plumbing: stable schemas, Arrow-batched `mapInPandas` kernels (payload
bytes never cross a row-at-a-time Python boundary), and partition-size
hygiene (payload columns dominate bytes, so batches are bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` and partitions by
`maxPartitionBytes`, not row counts).

The actual codec work (JPEG decode, PCM resample, H.264 frame extract) is
STUBBED: this container has no image/audio libraries. Each kernel first
tries the real library (`PIL`, etc.); without it, it computes a
CLEARLY-MARKED deterministic fake derived from md5(payload) — the same
formulas the DuckDB oracle reproduces, so the plumbing (schemas, batch
shapes, joins, explodes) is verified end-to-end by value even though no
real pixels are decoded. Swapping the fake for the real decoder changes
no plan shape.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

_MODALITIES = ("image", "audio", "video")
_MIMES = {"image": "image/jpeg", "audio": "audio/wav", "video": "video/mp4"}


def synthesize_payloads(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Deterministic opaque payloads from any corpus (no external data):
    payload = UTF-8 bytes of the text, modality round-robins by id."""
    mod = F.element_at(
        F.array(*[F.lit(m) for m in _MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"))
    return docs.select(
        F.col(id_col).alias("id"),
        mod.alias("modality"),
        F.element_at(
            F.create_map(*[F.lit(x) for kv in _MIMES.items() for x in kv]),
            mod).alias("mime"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def _h32(data: bytes, salt: str) -> int:
    """Deterministic 32-bit value from md5(salt || payload) — the fake
    decoder's randomness source, reproducible in SQL as
    ('0x' || substr(md5(salt || payload), 1, 8))::BIGINT."""
    return int(hashlib.md5(salt.encode() + data).hexdigest()[:8], 16)


def _try_real_image_decode(payload: bytes):
    """Real decoder hook: returns (width, height) or None. PIL is absent
    in this container, so the fake path below runs; with PIL installed
    this becomes a real decode with zero plan changes."""
    try:
        import io

        from PIL import Image  # noqa: F401
    except ImportError:
        return None
    try:
        with Image.open(io.BytesIO(payload)) as im:
            return im.size
    except Exception:
        raise NotImplementedError(
            "real image decode failed; payload is not an actual image")


_META_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("byte_len", T.LongType(), False),
    T.StructField("payload_sha", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),       # image/video
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),    # audio/video
    T.StructField("sample_rate", T.IntegerType(), True),  # audio
])


def decode_meta(mm: DataFrame) -> DataFrame:
    """Typed metadata per payload (the 'decode' stage). Arrow-batched;
    per-batch vectorized except the per-payload hash (O(bytes), the same
    cost a real codec would pay)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, mod, payload in zip(pdf["id"], pdf["modality"],
                                         pdf["payload"]):
                data = bytes(payload)
                real = _try_real_image_decode(data) if mod == "image" else None
                if real is not None:
                    w, h = real
                else:
                    # DETERMINISTIC FAKE (no codec libs in container):
                    # dimensions/duration derived from md5(payload)
                    w = 64 + _h32(data, "w") % 4032 if mod != "audio" else None
                    h = 64 + _h32(data, "h") % 2096 if mod != "audio" else None
                dur = (1000 + _h32(data, "d") % 600000
                       if mod in ("audio", "video") else None)
                sr = (8000 + (_h32(data, "r") % 5) * 8000
                      if mod == "audio" else None)
                rows.append((int(rid), mod, len(data),
                             hashlib.sha256(data).hexdigest(), w, h, dur, sr))
            yield pd.DataFrame(rows, columns=[f.name for f in _META_SCHEMA])

    return mm.mapInPandas(kernel, _META_SCHEMA)


_FEAT_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("feat", T.ArrayType(T.DoubleType()), False),
])


def image_features(mm: DataFrame, dim: int = 16) -> DataFrame:
    """Feature-extraction stage (a real pipeline would resize + run a
    vision tower here). Fake: dim floats in [0,1) from successive md5
    chunks of the payload — stable, unit-testable, and shaped exactly like
    an embedding column for the ANN operators downstream."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, feats = [], []
            for rid, payload in zip(pdf["id"], pdf["payload"]):
                data = bytes(payload)
                feats.append([
                    (_h32(data, f"f{i}") % 10**6) / 10**6 for i in range(dim)
                ])
                ids.append(int(rid))
            yield pd.DataFrame({"id": ids, "feat": feats})

    return (mm.where(F.col("modality") == "image")
            .mapInPandas(kernel, _FEAT_SCHEMA))


_FRAME_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_sha", T.StringType(), False),
])


def frame_sample(mm: DataFrame, every_ms: int = 10000,
                 max_frames: int = 16) -> DataFrame:
    """Frame-sampling stage for video: one output row per sampled frame
    (UDTF shape — explode happens INSIDE the kernel so frame payloads
    never materialize as a single giant row). Fake frames: sha of
    (payload, frame index)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, payload in zip(pdf["id"], pdf["payload"]):
                data = bytes(payload)
                dur = 1000 + _h32(data, "d") % 600000
                n = min(max(dur // every_ms, 1), max_frames)
                for i in range(int(n)):
                    rows.append((
                        int(rid), i,
                        hashlib.sha256(data + str(i).encode()).hexdigest(),
                    ))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in _FRAME_SCHEMA])

    return (mm.where(F.col("modality") == "video")
            .mapInPandas(kernel, _FRAME_SCHEMA))
