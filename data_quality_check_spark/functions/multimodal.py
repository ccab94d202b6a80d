"""Multimodal column plumbing: binary image payloads + typed metadata.

Images travel as opaque `binary` columns. Decode / feature-extraction runs inside
Arrow-batched pandas UDFs (`mapInPandas`-compatible shapes); the per-element codec
call is inherent to decoding (same as PIL/fastText in production). Real image
libraries are absent in this sandbox, so the codec is the deterministic in-repo
family (`pipeline/codecs.py`) with PIL auto-detected (`codecs.HAVE_PIL`) as the
production hook.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_quality_check_spark.pipeline import codecs

DECODE_SCHEMA = StructType(
    [
        StructField("decode_ok", BooleanType()),
        StructField("dec_w", IntegerType()),
        StructField("dec_h", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


@F.pandas_udf(DECODE_SCHEMA)
def decode_check_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Decode validation + basic features per Arrow batch of encoded bytes."""
    for blobs in batches:
        ok, ws, hs, luma = [], [], [], []
        for b in blobs:
            arr = codecs.decode(b)
            if arr is None:
                ok.append(False)
                ws.append(None)
                hs.append(None)
                luma.append(None)
            else:
                ok.append(True)
                hs.append(int(arr.shape[0]))
                ws.append(int(arr.shape[1]))
                luma.append(float(arr.astype(np.float64).mean()))
        yield pd.DataFrame(
            {"decode_ok": ok, "dec_w": pd.array(ws, dtype="Int32"),
             "dec_h": pd.array(hs, dtype="Int32"), "mean_luma": luma}
        )


def grid_luma_features(arr: np.ndarray, grid: int = 4) -> list[float]:
    """Grid-block mean-luma feature kernel (length grid², values in [0,1]) —
    the SINGLE definition shared by the Spark UDF (`feature_vector_udf`) and
    the driver-side oracle twin (oracles.image_embedding_neardup_sql), so both
    engines embed every image identically (same policy as
    similarity.srp_band_chunks)."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.arange(grid + 1) * h // grid
    xs = np.arange(grid + 1) * w // grid
    return [
        float(
            gray[
                ys[i] : max(ys[i + 1], ys[i] + 1),
                xs[j] : max(xs[j + 1], xs[j] + 1),
            ].mean()
            / 255.0
        )
        for i in range(grid)
        for j in range(grid)
    ]


def feature_vector_udf(grid: int = 4):
    """Decode → grid-block mean-luma feature vector (`array<float>`, length
    grid², values in [0,1]) — the image-side input to the similarity operators
    (`cosine_topk` / `ann_ivf_topk` / `neardup_pairs_blocked`): re-encoded or
    lightly-degraded copies land at cosine ≈ 1. Map-side only; swap the decode
    for PIL/CLIP-style embedders in production, the plumbing is identical."""

    @F.pandas_udf("array<float>")
    def _feat(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for blobs in batches:
            out = []
            for b in blobs:
                arr = codecs.decode(b)
                out.append(None if arr is None else grid_luma_features(arr, grid))
            yield pd.Series(out)

    return _feat


def decode_health(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt"
) -> DataFrame:
    """Per-format decode-health audit over an encoded-image table: how much
    of each format's slice actually decodes — the pre-flight between "crawler
    wrote bytes" and any pixel-touching stage (a corrupt-shard or
    codec-version problem shows up as one format's decode rate cratering,
    and every later stage mis-spends cluster time re-discovering it row by
    row).

    Output per `fmt_col`: (fmt, n_images, n_decode_ok, n_decode_failed,
    total_pixels) with total_pixels = Σ decoded w·h over the OK rows —
    all exact int64, so the audit is value-hashable cross-engine.

    Scale: ONE Arrow decode projection (`decode_check_udf` — bytes are read
    map-side and never shuffled; only the struct of per-row results survives)
    folded by ONE map-side-combined agg on the ≤|formats| key. The decode
    UDF is marked nondeterministic for the same optimizer-fence reason as
    the fused model stage (functions/fused.py)."""
    dec = decode_check_udf.asNondeterministic()(F.col(bytes_col))
    proj = df.select(F.col(fmt_col).alias("_grp"), dec.alias("_dec"))
    ok = F.col("_dec.decode_ok")
    return (
        proj.groupBy(F.col("_grp").alias(fmt_col))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(ok.cast("bigint")).alias("n_decode_ok"),
            F.sum((~ok).cast("bigint")).alias("n_decode_failed"),
            F.sum(
                F.when(
                    ok,
                    F.col("_dec.dec_w").cast("bigint") * F.col("_dec.dec_h"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("total_pixels"),
        )
        .orderBy(fmt_col)
    )
