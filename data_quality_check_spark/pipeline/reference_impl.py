"""Pure pandas/numpy golden-label implementation of the quality-filter pipeline.

Computes, per input row: heuristic flags, language + confidence, perplexity,
dedup-winner status, the final keep/drop decision, the drop reason, and the
scrubbed caption — with NO Spark involvement. The Spark pipeline in
`pipeline/run.py` must agree at F1≥0.99 on `keep` and exactly on
`scrubbed_caption` (BASELINE.json metric); both call the same numpy text kernels
and share heuristic constants, so agreement is exact by construction and any drift
is a bug the tests catch.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from data_quality_check_spark.functions.scrub import scrub_text
from data_quality_check_spark.functions.textmodel import default_model
from data_quality_check_spark.operators.profiler import FAKE_NULLS
from data_quality_check_spark.pipeline import codecs
from data_quality_check_spark.pipeline.heuristics import (
    ALPHA_CLASS,
    WS_CHARS,
    BYTES_SLACK_BASE,
    BYTES_SLACK_PER_16K,
    MAX_ASPECT,
    MAX_CAPTION_CHARS,
    MAX_REPETITION,
    MIN_ALPHA_RATIO,
    MIN_CAPTION_CHARS,
    REPETITION_MIN_TOKENS,
)

_ALPHA_RX = re.compile(ALPHA_CLASS)
_WS_RX = re.compile(f"[{WS_CHARS}]+")  # ASCII class == Java \\s, NOT Python unicode \\s

DROP_PRIORITY = [
    "caption_missing",
    "fake_null",
    "too_short",
    "too_long",
    "low_alpha",
    "repetitive",
    "bad_dims",
    "bytes_implausible",
    "decode_failed",
    "language",
    "perplexity",
    "duplicate",
]


def _caption_flags_row(c) -> dict:
    if c is None or (isinstance(c, float) and pd.isna(c)):
        return {"caption_missing": True}
    t = c.strip(WS_CHARS)
    if t == "":
        return {"caption_missing": True}
    out = {"caption_missing": False}
    out["fake_null"] = t.lower() in set(FAKE_NULLS)
    out["untrimmed"] = c != t
    out["too_short"] = len(t) < MIN_CAPTION_CHARS
    out["too_long"] = len(c) > MAX_CAPTION_CHARS
    texty = len(_ALPHA_RX.sub("", c))
    out["low_alpha"] = len(c) > 0 and texty / len(c) < MIN_ALPHA_RATIO
    toks = _WS_RX.split(t)
    out["repetitive"] = (
        len(toks) >= REPETITION_MIN_TOKENS and len(set(toks)) / len(toks) < MAX_REPETITION
    )
    return out


def compute_golden(
    pdf: pd.DataFrame,
    target_langs: list[str] | None = None,
    min_lang_conf: float = 0.15,
    max_ppl: float = 30_000.0,
) -> pd.DataFrame:
    """Returns pdf + [keep, drop_reason, scrubbed_caption, lang, lang_conf, ppl]."""
    model = default_model()
    target = set(target_langs or model.langs)

    caps = pdf["caption"].tolist()
    langs, conf, _ = model.predict(["" if c is None else c for c in caps])
    ppl = model.perplexity(["" if c is None else c for c in caps], langs)

    n = len(pdf)
    flags = [_caption_flags_row(c) for c in caps]

    w = pdf["w"].to_numpy()
    h = pdf["h"].to_numpy()
    blen = pdf["bytes"].map(lambda b: 0 if b is None else len(b)).to_numpy()
    bad_dims = (w <= 0) | (h <= 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        aspect = np.where(bad_dims, 0.0, w / np.maximum(h, 1))
        bad_dims = bad_dims | (w / np.maximum(h, 1) > MAX_ASPECT) | (h / np.maximum(w, 1) > MAX_ASPECT)
    raw = w.astype(np.int64) * h.astype(np.int64) * 3
    slack = BYTES_SLACK_BASE + BYTES_SLACK_PER_16K * (raw // 16384 + 1)
    bytes_implausible = (blen < 16) | (blen > raw + slack)

    # decode failure = undecodable bytes OR decoded dims ≠ metadata
    # (mirrors functions/fused._decode_flags)
    decode_failed = np.zeros(n, dtype=bool)
    for i, (b, wi, hi) in enumerate(zip(pdf["bytes"], w, h)):
        arr = codecs.decode(b)
        decode_failed[i] = arr is None or arr.shape[1] != wi or arr.shape[0] != hi

    # dedup winners: per phash group, min image_id wins (image_id-level label)
    winner = pdf.groupby("phash")["image_id"].transform("min")
    duplicate = (pdf["image_id"] != winner).to_numpy()

    keep = np.ones(n, dtype=bool)
    reason = np.array([None] * n, dtype=object)
    for i in range(n):
        fl = dict(flags[i])
        fl["bad_dims"] = bool(bad_dims[i])
        fl["bytes_implausible"] = bool(bytes_implausible[i])
        fl["decode_failed"] = bool(decode_failed[i])
        fl["language"] = not (langs[i] in target and conf[i] >= min_lang_conf)
        fl["perplexity"] = bool(ppl[i] > max_ppl)
        fl["duplicate"] = bool(duplicate[i])
        for r in DROP_PRIORITY:
            if fl.get(r, False):
                keep[i] = False
                reason[i] = r
                break

    scrubbed = [
        scrub_text(c.strip(WS_CHARS)) if (k and c is not None) else None
        for c, k in zip(caps, keep)
    ]
    out = pdf.copy()
    out["lang"] = langs
    out["lang_conf"] = conf
    out["ppl"] = ppl
    out["keep"] = keep
    out["drop_reason"] = reason
    out["scrubbed_caption"] = scrubbed
    return out
