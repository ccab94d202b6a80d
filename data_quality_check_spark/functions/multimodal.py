"""Multimodal column plumbing: binary image/video payloads + typed metadata.

Images and videos travel as opaque `binary` columns. Decode / feature-extraction runs inside
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


FRAME_SAMPLE_SCHEMA = "video_id string, frame_idx int, frame_bytes binary"


def sample_frames(
    df: DataFrame,
    n_frames: int = 3,
    id_col: str = "video_id",
    bytes_col: str = "video_bytes",
) -> DataFrame:
    """Uniform deterministic frame sampling from binary video containers:
    1 video row → ≤ n_frames rows (video_id, frame_idx, frame_bytes).

    `mapInPandas` because the fan-out is per-row variable; the projection keeps
    ONLY (id, bytes) on the Python boundary, so Arrow never ships columns the
    sampler doesn't need. Frame blobs come out still image-encoded (the
    container walk reads length prefixes, no pixel decode) — downstream stages
    (`decode_check_udf`, `feature_vector_udf`) decide what to decode. Undecodable
    or empty containers yield zero rows, the dataflow analogue of try-cast."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            idxs: list[int] = []
            blobs: list = []
            for vid, data in zip(pdf[id_col], pdf[bytes_col]):
                n = codecs.video_frame_count(data)
                if not n:
                    continue
                take = np.unique(np.linspace(0, n - 1, min(n_frames, n)).astype(int))
                frames = codecs.video_frames_at(data, [int(i) for i in take])
                for i in sorted(frames):
                    ids.append(vid)
                    idxs.append(i)
                    blobs.append(frames[i])
            yield pd.DataFrame(
                {
                    "video_id": pd.array(ids, dtype="string"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_bytes": blobs if blobs else pd.array([], dtype=object),
                }
            )

    return df.select(F.col(id_col), F.col(bytes_col)).mapInPandas(
        gen, FRAME_SAMPLE_SCHEMA
    )


def bilinear_resize(arr: np.ndarray, th: int, tw: int) -> np.ndarray:
    """Vectorized bilinear resample to (th, tw) — pure numpy, no PIL.

    Pixel-center aligned sampling (the PIL/OpenCV convention): output pixel i
    samples source coordinate (i+0.5)·scale − 0.5, so resizing to the SAME
    size is the exact identity and down/upsampling has no half-pixel shift.
    All four corner gathers + the weighted blend are single array ops.
    Accepts (h, w, channels) or plain (h, w) grayscale — without the explicit
    2-D branch the channel-shaped weight axes would broadcast a (h,w) input
    into (th,tw,tw) garbage."""
    if arr.ndim == 2:
        return bilinear_resize(arr[:, :, None], th, tw)[:, :, 0]
    h, w = arr.shape[:2]
    ys = (np.arange(th) + 0.5) * (h / th) - 0.5
    xs = (np.arange(tw) + 0.5) * (w / tw) - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    a = arr[np.ix_(y0, x0)].astype(np.float64)
    b = arr[np.ix_(y0, x1)].astype(np.float64)
    c = arr[np.ix_(y1, x0)].astype(np.float64)
    d = arr[np.ix_(y1, x1)].astype(np.float64)
    out = a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx + c * wy * (1 - wx) + d * wy * wx
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def resize_udf(target: int = 8, fmt: str = "png"):
    """Decode → bilinear resize to target×target → re-encode, as an
    Arrow-batched pandas UDF (the decode/transform/re-encode shape every
    image-preprocessing stage uses; the per-blob loop is inherent to
    variable-size codec work, the resample itself is vectorized numpy).
    Undecodable blobs yield NULL — same degrade-to-absent contract as
    decode_check_udf."""

    @F.pandas_udf("binary")
    def _resize(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for blobs in batches:
            out = []
            for b in blobs:
                arr = codecs.decode(b)
                if arr is None:
                    out.append(None)
                    continue
                out.append(codecs.encode(bilinear_resize(arr, target, target), fmt))
            yield pd.Series(out)

    return _resize


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
