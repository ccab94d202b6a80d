"""Cross-modal caption↔image alignment scoring (CLIP-style gate, stub encoder).

A multimodal quality filter needs one score the unimodal flag families cannot
produce: does the caption describe THIS image? Production systems compute it as
the cosine between a text-encoder and an image-encoder embedding (CLIP). The
real encoders are models this container does not carry, so — per the brief's
multimodal-stub rule — the two encoders here are deterministic fakes with the
REAL Spark-side shape: the text side is a hashed char-trigram bag (the same
`textmodel` n-gram hashing the langid/perplexity stages use, one contiguous
buffer per Arrow batch, no per-row Python), the image side is the 60-bit
perceptual hash mapped to a ±1 vector (one dimension per bit). Swapping in real
encoders changes ONLY the two `*_embedding` kernels; the UDF signature, Arrow
batching, plan shape (map-side projection, no shuffle), and threshold gate are
the production article.

Batch invariance (required because the DuckDB oracle twin runs the same kernel
driver-side over ONE batch while Spark streams many): every step is per-row —
trigram bucketing accumulates with `np.add.at` inside each row, and all
reductions are `np.sum(axis=1)` over the fixed ALIGN_DIM width, so a row's
score never depends on its Arrow-batch neighbours (property-tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from data_quality_check_spark.functions.textmodel import (
    _encode_batch,
    _trigram_ids,
    boundary_valid_mask,
)

ALIGN_DIM = 60  # one text-embedding dimension per phash bit
# The missing-modality sentinel: a row where EITHER side is absent — a caption
# with no trigrams (<3 bytes), or a NULL phash — has an undefined cosine, and
# a sentinel BELOW every real cosine keeps `aligned = score >= threshold`
# false at ANY threshold. (With 0.0, the old definition, a caption-less image
# sailed through the default τ=0 gate as "aligned"; and a null phash scored
# against a fabricated all-(-1) image vector could pass loose thresholds.)
EMPTY_CAPTION_SCORE = -1.0  # kernel-side: caption with no trigrams
UNALIGNED_SENTINEL = EMPTY_CAPTION_SCORE  # with_alignment: null phash too


def caption_embedding(texts) -> np.ndarray:
    """(n, ALIGN_DIM) float64 hashed-trigram counts, one row per caption.

    Trigrams spanning a string boundary in the concatenated batch buffer are
    left out exactly as `textmodel._segment_sums` leaves them out, so the
    counts are a pure function of each caption alone.
    """
    buf, offsets = _encode_batch(texts)
    ids = _trigram_ids(buf)
    n = len(offsets) - 1
    out = np.zeros((n, ALIGN_DIM), dtype=np.float64)
    if len(ids) == 0:
        return out
    pos = np.nonzero(boundary_valid_mask(len(ids), offsets))[0]
    # greatest s with offsets[s] <= pos: empty strings repeat an offset and
    # side='right' skips past them to the segment that actually owns the byte
    row = np.searchsorted(offsets, pos, side="right") - 1
    np.add.at(out, (row, ids[pos] % ALIGN_DIM), 1.0)
    return out


def image_embedding(phashes: np.ndarray) -> np.ndarray:
    """(n, ALIGN_DIM) ±1.0 vector from the low ALIGN_DIM bits of each phash."""
    shifts = np.arange(ALIGN_DIM, dtype=np.int64)[None, :]
    bits = (phashes.astype(np.int64)[:, None] >> shifts) & 1
    return bits.astype(np.float64) * 2.0 - 1.0


def alignment_scores(texts, phashes: np.ndarray) -> np.ndarray:
    """Per-row cosine between the two embeddings; EMPTY_CAPTION_SCORE (-1.0,
    below any real cosine) for captions with no trigrams, so such rows are
    unaligned at every threshold."""
    c = caption_embedding(texts)
    img = image_embedding(phashes)
    dot = np.sum(c * img, axis=1)
    cn = np.sqrt(np.sum(c * c, axis=1))
    denom = cn * np.sqrt(float(ALIGN_DIM))
    return np.where(
        cn > 0.0, dot / np.where(denom == 0.0, 1.0, denom), EMPTY_CAPTION_SCORE
    )


@F.pandas_udf(DoubleType())
def alignment_udf(
    batches: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.Series]:
    for texts, phashes in batches:
        # the phash column MUST reach this UDF non-null (with_alignment
        # coalesces JVM-side): a batch containing ANY null arrives from Arrow
        # as float64, and >=2^53 hashes would already have lost their low bits
        # before this body could intervene. The strict int64 conversion below
        # raises on a float batch instead of silently scoring corrupted bits.
        if phashes.dtype.kind == "f":
            raise TypeError(
                "alignment_udf received a float phash batch (nulls present?) — "
                "coalesce the column to a non-null BIGINT first "
                "(with_alignment does this)"
            )
        ph = phashes.to_numpy(np.int64)
        yield pd.Series(alignment_scores(texts.fillna("").tolist(), ph))


def with_alignment(
    df: DataFrame,
    caption_col: str = "caption",
    phash_col: str = "phash",
    threshold: float = 0.0,
) -> DataFrame:
    """Adds `align_score` (double) and `aligned` (score ≥ threshold).

    Map-side only: one Arrow projection over (caption, phash), no shuffle —
    the plan a 10^12-row scoring stage needs (the score lands next to the row
    it scores; any later filter/agg sees it as an ordinary column).
    asNondeterministic fences the UDF so the derived boolean reuses the one
    evaluation instead of re-running the kernel per reference.
    """
    # coalesce BEFORE the Arrow boundary: a null in the batch would demote the
    # whole int64 column to float64 and corrupt >=2^53 hashes. The coalesced 0
    # keeps the UDF's input pure int64; the null row's SCORE is then overridden
    # with the missing-modality sentinel — a null phash must not masquerade as
    # a real all-zero-bits image and pass a loose threshold.
    raw = alignment_udf.asNondeterministic()(
        F.col(caption_col),
        F.coalesce(F.col(phash_col).cast("long"), F.lit(0).cast("long")),
    )
    score = F.when(
        F.col(phash_col).isNull(), F.lit(UNALIGNED_SENTINEL)
    ).otherwise(raw)
    return df.withColumn("align_score", score).withColumn(
        "aligned", F.col("align_score") >= F.lit(float(threshold))
    )
