"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas``.

Decode paths (functions/media_worker.py — a pyspark-free module, so Python
workers never pay the pyspark import):
- FMM1, the deterministic fake container (magic b"FMM1", BE uint16 header,
  raw frame payloads) — parseable, so header parsing, frame sampling and
  byte-level feature extraction run for real, and the id-derived variant is
  fully oracle-checked end-to-end;
- binary PGM (P5), a REAL image format with a stdlib-only decoder, so
  ``use_real_codecs=True`` is a tested branch (PIL/ffmpeg for richer
  formats would dispatch from media_worker.decode_frame; this container
  image has neither).

Reference analog: the repo treats sensor payloads as opaque arrays decoded
by fixed-layout parsers (data_loaders.py load_GM_data); here the payloads
are binary media columns of a web-scale table.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_engineering_spark.functions.media_worker import (
    MAGIC as _MAGIC,
)
from feature_engineering_spark.functions.media_worker import (
    make_media_features_mapper,
    make_media_from_ids_mapper,
    parse_header as _parse_header,  # noqa: F401  (re-export for tests)
)

MEDIA_SCHEMA = (
    "media_id long, media_type string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, codec:string>"
)

def synthesize_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (pytest/bench fixture)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = int(rng.integers(4, 17)), int(rng.integers(4, 17))
        nf = int(rng.integers(1, 6))
        frames = rng.integers(0, 256, size=w * h * nf, dtype=np.uint8).tobytes()
        payload = _MAGIC + struct.pack(">HHH", w, h, nf) + frames
        rows.append(
            (
                i,
                ["image", "audio", "video"][i % 3],
                payload,
                {"width": w, "height": h, "n_frames": nf, "codec": "fmm1"},
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def synthesize_media_from_ids(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic FMM1 containers derived from an id column — the
    oracle-checkable fixture. Every byte is a closed-form function of the
    id (w = 4 + id%13, h = 4 + 3*id%13, nf = 1 + id%5, pixel[i] =
    (id*31 + i*7) % 256), so a SQL oracle can independently re-derive what
    the DECODED features must be without parsing the blob — which makes the
    whole Spark path (byte construction -> header parse -> frame sampling
    -> resize -> stats) an end-to-end checked black box."""
    return df.select(id_col).mapInPandas(
        make_media_from_ids_mapper(id_col),
        schema="media_id long, media_type string, payload binary",
    )


def media_features(
    df: DataFrame,
    frame_stride: int = 2,
    use_real_codecs: bool = False,
) -> DataFrame:
    """Decode + per-media byte/frame features via one mapInPandas pass.

    Output: media_id, media_type, width, height, n_frames, sampled_frames,
    mean_intensity, std_intensity, resized_checksum (8x8 nearest-neighbor
    resize of frame 0). The default decodes FMM1 only;
    ``use_real_codecs=True`` additionally decodes real PGM(P5) payloads
    (stdlib parser in media_worker.py), threaded to the workers as a
    closure argument."""
    out_schema = (
        "media_id long, media_type string, width int, height int, "
        "n_frames int, sampled_frames int, mean_intensity double, "
        "std_intensity double, resized_checksum long"
    )
    # binary payloads are large: repartition so Arrow batches stay bounded
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n_parts, "media_id").mapInPandas(
        make_media_features_mapper(frame_stride, use_real_codecs),
        schema=out_schema,
    )


def media_metadata_stats(df: DataFrame) -> DataFrame:
    """Typed-metadata aggregation — pure JVM on the struct column (no
    payload read: column pruning keeps the binary out of the scan)."""
    return df.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("meta.width") * F.col("meta.height")).alias("avg_pixels"),
        F.sum("meta.n_frames").alias("total_frames"),
    )
