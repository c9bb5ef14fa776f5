"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched functions over ``mapInPandas`` so each executor
processes whole record batches (the shape a real decoder wants).

The actual codecs are NOT in this container, so the decode kernels are
STUBBED: ``decode_media(..., real=True)`` raises NotImplementedError at
the first batch; the default deterministic fake derives pseudo-features
from the payload bytes so schema, partitioning, batch shape, and
downstream joins are fully real and tested.

``attach_binary`` lifts the flat text testdata into this shape
deterministically (payload = utf-8 bytes of the text), which also gives
the driver an oracle-checkable query over octet lengths / magic bytes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MODALITIES = ("image", "audio", "video")

FEATURE_SCHEMA = (
    "doc_id long, modality string, n_bytes int, feat_dim int, "
    "width int, height int, duration_ms int, frames int"
)


def attach_binary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, body: binary, meta: struct) — modality assigned
    deterministically by doc_id % 3; payload = utf-8 bytes of text."""
    body = F.encode(F.col(text_col), "utf-8")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    meta = F.struct(
        modality.alias("modality"),
        F.octet_length(body).cast("int").alias("n_bytes"),
        F.substring(F.hex(body), 1, 8).alias("magic"),
    )
    return docs.select("doc_id", body.alias("body"), meta.alias("meta"))


def attach_binary_sql(table: str = "documents") -> str:
    """Oracle for the metadata projection of ``attach_binary``."""
    mods = ", ".join(f"'{m}'" for m in MODALITIES)
    return f"""
        SELECT doc_id,
               [{mods}][(doc_id % 3 + 1)::INT] AS modality,
               octet_length(encode(text))::INT AS n_bytes,
               substr(upper(hex(encode(text))), 1, 8) AS magic
        FROM {table}
        ORDER BY doc_id
    """


def binary_meta(media: DataFrame) -> DataFrame:
    """Flatten the metadata struct (the oracle-checked projection)."""
    return media.select(
        "doc_id",
        F.col("meta.modality").alias("modality"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.magic").alias("magic"),
    )


def _fake_features(doc_id: int, modality: str, payload: bytes) -> dict:
    """Deterministic stand-in for a real decoder: pseudo-dimensions from
    payload length/content. Clearly fake; replaced by real codecs
    (PIL/ffmpeg/torchaudio) outside this sandbox."""
    n = len(payload or b"")
    base = {"doc_id": doc_id, "modality": modality, "n_bytes": n, "feat_dim": 64,
            "width": None, "height": None, "duration_ms": None, "frames": None}
    if modality == "image":
        base["width"] = 16 + n % 1024
        base["height"] = 16 + (n * 7) % 1024
    elif modality == "audio":
        base["duration_ms"] = 100 + n % 60_000
    else:
        base["duration_ms"] = 1000 + n % 600_000
        base["frames"] = 1 + n % 2400
    return base


def decode_media(media: DataFrame, real: bool = False) -> DataFrame:
    """Decode/feature-extract stage over mapInPandas.

    real=True is the integration point for actual codecs and raises
    NotImplementedError here (libs not in container). The fake path is
    deterministic so tests pin exact outputs.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                raise NotImplementedError(
                    "real media decoding requires image/audio codecs not present "
                    "in this container; use real=False for the deterministic stub"
                )
            rows = [
                _fake_features(int(r.doc_id), r.meta["modality"], r.body)
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows, columns=[f.split(" ")[0] for f in FEATURE_SCHEMA.split(", ")])

    return media.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample(features: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling plan for video rows: expands to one row per sampled
    frame index. Native sequence/explode — the decoder only ever sees
    per-frame work items, which is what distributes."""
    vids = features.filter(F.col("modality") == "video")
    return vids.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )


RESIZE_TARGET = 224  # canonical vision-encoder input side


def resize_plan(features: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """Aspect-preserving resize + letterbox plan for image rows.

    The pixel resample itself belongs to the stubbed decoder stage
    (PIL/ffmpeg outside this sandbox); everything a batch resizer needs
    to be TOLD is exact integer arithmetic and computed here natively:

      out_w = max(1, (width  * target) DIV max(width, height))
      out_h = max(1, (height * target) DIV max(width, height))
      pads  = target - out_{w,h}, split left/right and top/bottom
              (extra pixel goes to the right/bottom, the PIL convention)
      scale_ppm = target * 1e6 DIV max(width, height)

    One narrow projection, no UDF, no shuffle — the plan column rides
    with the frame/image work items into the decode stage, so executors
    never re-derive geometry per batch.
    """
    imgs = features.filter(F.col("modality") == "image")
    fitted = imgs.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(width * {target}) DIV greatest(width, height)"),
        ).alias("out_w"),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"(height * {target}) DIV greatest(width, height)"),
        ).alias("out_h"),
    )
    return fitted.select(
        "doc_id", "width", "height", "out_w", "out_h",
        F.expr(f"({target} - out_w) DIV 2").alias("pad_left"),
        F.expr(f"{target} - out_w - ({target} - out_w) DIV 2").alias("pad_right"),
        F.expr(f"({target} - out_h) DIV 2").alias("pad_top"),
        F.expr(f"{target} - out_h - ({target} - out_h) DIV 2").alias("pad_bottom"),
        F.expr(f"{target} * 1000000 DIV greatest(width, height)").alias("scale_ppm"),
    )


def resize_plan_sql(table: str = "documents", target: int = RESIZE_TARGET) -> str:
    """Oracle: reconstructs the fake-decoder image geometry (width =
    16 + n % 1024, height = 16 + 7n % 1024, n = payload octets) for the
    image-modality slice, then the identical integer resize plan."""
    return f"""
        WITH media AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS n
          FROM {table} WHERE doc_id % 3 = 0  -- image slice of attach_binary
        ),
        dims AS (
          SELECT doc_id, (16 + n % 1024)::BIGINT AS width,
                 (16 + (n * 7) % 1024)::BIGINT AS height
          FROM media
        ),
        fitted AS (
          SELECT *, greatest(width, height) AS long_side,
                 greatest(1, (width * {target}) // greatest(width, height)) AS out_w,
                 greatest(1, (height * {target}) // greatest(width, height)) AS out_h
          FROM dims
        )
        SELECT doc_id, width, height, out_w, out_h,
               (({target} - out_w) // 2)::BIGINT AS pad_left,
               ({target} - out_w - ({target} - out_w) // 2)::BIGINT AS pad_right,
               (({target} - out_h) // 2)::BIGINT AS pad_top,
               ({target} - out_h - ({target} - out_h) // 2)::BIGINT AS pad_bottom,
               ({target} * 1000000 // long_side)::BIGINT AS scale_ppm
        FROM fitted
        ORDER BY doc_id
    """


def audio_segment_plan(
    features: DataFrame,
    segment_ms: int = 30_000,
    overlap_ms: int = 0,
    sample_rate: int = 16_000,
) -> DataFrame:
    """ASR-style segmentation plan for audio rows: one row per chunk.

    The audio sibling of :func:`frame_sample` — a transcription/encoder
    stage consumes fixed windows (the 30 s Whisper convention), so the
    plan expands each audio document into per-segment work items with
    exact integer geometry: ``start_ms`` strides by
    ``segment_ms - overlap_ms``, ``end_ms`` clamps to the duration, and
    ``n_samples`` is the decoder's output length at ``sample_rate``.
    The sample resample itself belongs to the stubbed codec stage; this
    is everything the batch worker needs to be TOLD.

    Native sequence + posexplode — per-segment rows distribute across
    executors exactly like frame work items; no UDF, no shuffle.
    """
    stride = segment_ms - overlap_ms
    if stride <= 0:
        raise ValueError("overlap_ms must be smaller than segment_ms")
    aud = features.filter(F.col("modality") == "audio")
    segs = aud.select(
        "doc_id",
        F.col("duration_ms").cast("long").alias("duration_ms"),
        F.posexplode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(stride))
        ).alias("seg_idx", "start_ms"),
    )
    end_ms = F.least(F.col("start_ms") + segment_ms, F.col("duration_ms"))
    return segs.select(
        "doc_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.col("start_ms").cast("long").alias("start_ms"),
        end_ms.cast("long").alias("end_ms"),
        F.expr(
            f"CAST((least(start_ms + {segment_ms}, duration_ms) - start_ms)"
            f" * {sample_rate} DIV 1000 AS BIGINT)"
        ).alias("n_samples"),
    )


def audio_segment_plan_sql(
    table: str = "documents",
    segment_ms: int = 30_000,
    overlap_ms: int = 0,
    sample_rate: int = 16_000,
) -> str:
    """Oracle: reconstructs the fake-decoder audio duration
    (100 + n % 60000, n = payload octets, audio slice doc_id % 3 = 1)
    then the identical integer segmentation."""
    stride = segment_ms - overlap_ms
    return f"""
        WITH media AS (
          SELECT doc_id, octet_length(encode(text))::BIGINT AS n
          FROM {table} WHERE doc_id % 3 = 1
        ),
        aud AS (SELECT doc_id, (100 + n % 60000)::BIGINT AS duration_ms FROM media),
        segs AS (
          SELECT doc_id, duration_ms, u.seg_idx, u.start_ms
          FROM aud, LATERAL (
            SELECT unnest(
              list_transform(range(0, duration_ms, {stride}),
                             (x, i) -> {{'seg_idx': i - 1, 'start_ms': x}}),
              recursive := true)
          ) u
        )
        SELECT doc_id, seg_idx::BIGINT AS seg_idx, start_ms::BIGINT AS start_ms,
               least(start_ms + {segment_ms}, duration_ms)::BIGINT AS end_ms,
               ((least(start_ms + {segment_ms}, duration_ms) - start_ms)
                 * {sample_rate} // 1000)::BIGINT AS n_samples
        FROM segs
        ORDER BY doc_id, seg_idx
    """
