"""Hashed char-n-gram language models: fastText-style language ID and a
KenLM-style character-trigram perplexity score, implemented with batched n-gram
hashing over contiguous byte buffers (numpy end to end — no per-row Python in the
scoring path, as mandated by BASELINE.json input_hint).

The model is trained deterministically at first use from the built-in seed corpus
(functions/wordlists.py): seeded synthetic sentences per language → trigram counts →
add-k-smoothed log-probabilities over 2^16 hash buckets. Both the Spark pandas-UDF
path and the pure-pandas golden-label path call these same numpy kernels, so label
agreement is exact.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from data_quality_check_spark.functions.wordlists import LANGS, VOCAB

N_BUCKETS = 1 << 16
_MUL = 65599  # classic multiplicative string-hash constant
TRAIN_SEED = 1234
TRAIN_SENTENCES = 400
TRAIN_WORDS_PER_SENT = 12
SMOOTH_K = 0.5


def _encode_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """Lowercase + utf-8 encode a batch into one contiguous uint8 buffer.

    Returns (buffer, offsets) with offsets of length len(texts)+1. NUL separators
    are NOT inserted; validity masks below prevent trigrams spanning strings.
    """
    bs = [(t or "").lower().encode("utf-8", "ignore") for t in texts]
    offsets = np.zeros(len(bs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bs], out=offsets[1:])
    buf = np.frombuffer(b"".join(bs), dtype=np.uint8)
    return buf, offsets


def _trigram_ids(buf: np.ndarray) -> np.ndarray:
    """Hashed trigram ids for every position in the buffer (vectorized)."""
    if len(buf) < 3:
        return np.empty(0, dtype=np.int64)
    b = buf.astype(np.int64)
    return (b[:-2] * (_MUL * _MUL) + b[1:-1] * _MUL + b[2:]) % N_BUCKETS


def boundary_valid_mask(n_values: int, offsets: np.ndarray) -> np.ndarray:
    """Validity mask over per-position trigram values: False where a trigram
    would span the boundary between two concatenated strings. THE single
    definition of the batch-invariance-critical rule — shared by
    `CharTrigramLM.train` and `alignment.caption_embedding`, so a fix to the
    masking can never desynchronize the two kernels (`_segment_sums` excludes
    the same positions by summing each string's own trigram slice)."""
    valid = np.ones(n_values, dtype=bool)
    boundary = offsets[1:-1]
    for d in (1, 2):
        idx = boundary - d
        idx = idx[(idx >= 0) & (idx < n_values)]
        valid[idx] = False
    return valid


def _segment_sums(values: np.ndarray, offsets: np.ndarray):
    """Per-string sums of `values` (one value per trigram position), where trigram i
    belongs to string s iff it lies fully inside [offsets[s], offsets[s+1])."""
    n = len(offsets) - 1
    # valid trigram start positions per string: offsets[s] .. offsets[s+1]-3
    counts = np.maximum(offsets[1:] - offsets[:-1] - 2, 0)
    if len(values) == 0:
        return np.zeros(n, dtype=np.float64), counts
    # Each string is summed over exactly its own [start, start+count) slice:
    # interleaved start/end indices make reduceat's even slots those sums. A
    # slice that also held boundary-spanning positions, even masked to +0.0,
    # would change its length and with it numpy's pairwise-summation grouping,
    # so a caption's score would depend on what followed it in the Arrow
    # batch (asserted exactly by a hypothesis property test). The one
    # trailing 0.0 makes an end index of len(values) valid.
    starts = offsets[:-1]
    bounds = np.minimum(np.column_stack([starts, starts + counts]).ravel(), len(values))
    seg = np.add.reduceat(np.append(values, 0.0), bounds)[::2]
    # an empty slice (count 0) yields the value at its start, not 0
    return np.where(counts > 0, seg, 0.0), counts


class CharTrigramLM:
    """Per-language add-k-smoothed trigram log-prob tables over hashed buckets."""

    def __init__(self, logprob: np.ndarray, langs: list[str]):
        self.logprob = logprob  # shape (L, N_BUCKETS), float64
        self.langs = langs
        self.lang_index = {l: i for i, l in enumerate(langs)}

    # ---- training ----

    @staticmethod
    def train(langs: list[str] | None = None) -> "CharTrigramLM":
        langs = langs or LANGS
        rng = np.random.RandomState(TRAIN_SEED)
        counts = np.zeros((len(langs), N_BUCKETS), dtype=np.float64)
        for li, lang in enumerate(langs):
            vocab = VOCAB[lang]
            sents = [
                " ".join(rng.choice(vocab, size=TRAIN_WORDS_PER_SENT))
                for _ in range(TRAIN_SENTENCES)
            ]
            buf, offsets = _encode_batch(sents)
            ids = _trigram_ids(buf)
            # drop boundary-spanning trigrams the same way scoring does
            np.add.at(counts[li], ids[boundary_valid_mask(len(ids), offsets)], 1.0)
        total = counts.sum(axis=1, keepdims=True)
        logprob = np.log((counts + SMOOTH_K) / (total + SMOOTH_K * N_BUCKETS))
        return CharTrigramLM(logprob, list(langs))

    # ---- scoring (batched, numpy only) ----

    def loglik_matrix(self, texts) -> tuple[np.ndarray, np.ndarray]:
        """(n_texts, n_langs) summed trigram log-likelihood + trigram counts."""
        buf, offsets = _encode_batch(texts)
        ids = _trigram_ids(buf)
        out = np.zeros((len(texts), len(self.langs)), dtype=np.float64)
        counts = None
        for li in range(len(self.langs)):
            out[:, li], counts = self._sum_for_lang(li, ids, offsets)
        return out, counts

    def _sum_for_lang(self, li: int, ids: np.ndarray, offsets: np.ndarray):
        values = self.logprob[li][ids] if len(ids) else np.empty(0)
        return _segment_sums(values, offsets)

    def predict(self, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Returns (lang_codes: object array, confidence: softmax prob of argmax,
        n_trigrams). Texts with <1 trigram get lang='und', confidence 0."""
        ll, counts = self.loglik_matrix(texts)
        # normalize by length so confidence is comparable across lengths
        safe = np.maximum(counts, 1)[:, None]
        norm = ll / safe
        best = np.argmax(norm, axis=1)
        # softmax over per-gram average log-likelihoods
        z = norm - norm.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        conf = p[np.arange(len(texts)), best]
        langs = np.array(self.langs, dtype=object)[best]
        empty = counts < 1
        langs[empty] = "und"
        conf = np.where(empty, 0.0, conf)
        return langs, conf, counts

    def score(self, texts) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Fused predict + perplexity: (langs, conf, counts, ppl) in ONE encode +
        trigram + gather pass. `perplexity(texts, predict(texts))` recomputes the
        exact per-text log-lik sum that `predict` already built — ppl for the
        argmax language is just exp(-ll[i, best]/counts[i]) — so the fused form
        is bit-identical (asserted against the two-call path in tests) at half
        the cost. The golden-label path deliberately keeps the two-call form,
        cross-validating the fusion end to end."""
        ll, counts = self.loglik_matrix(texts)
        safe = np.maximum(counts, 1)
        norm = ll / safe[:, None]
        best = np.argmax(norm, axis=1)
        z = norm - norm.max(axis=1, keepdims=True)
        p = np.exp(z)
        p /= p.sum(axis=1, keepdims=True)
        conf = p[np.arange(len(texts)), best]
        langs = np.array(self.langs, dtype=object)[best]
        empty = counts < 1
        langs[empty] = "und"
        conf = np.where(empty, 0.0, conf)
        ppl = np.exp(-ll[np.arange(len(texts)), best] / safe)
        ppl = np.where(empty, 1e9, ppl)
        return langs, conf, counts, ppl

    def perplexity(self, texts, langs) -> np.ndarray:
        """Per-text char-trigram perplexity under each text's assigned language.
        exp(-mean log P(gram|lang)); inf-free: texts with no trigrams → large ppl."""
        buf, offsets = _encode_batch(texts)
        ids = _trigram_ids(buf)
        li = np.array([self.lang_index.get(l, 0) for l in langs], dtype=np.int64)
        n = len(texts)
        sums = np.zeros(n, dtype=np.float64)
        counts = np.maximum(offsets[1:] - offsets[:-1] - 2, 0)
        # gather per-language rows: do one pass per distinct language present
        for lang_i in np.unique(li):
            sel = li == lang_i
            values = self.logprob[lang_i][ids] if len(ids) else np.empty(0)
            seg, _ = _segment_sums(values, offsets)
            sums[sel] = seg[sel]
        with np.errstate(divide="ignore", invalid="ignore"):
            ppl = np.exp(-sums / np.maximum(counts, 1))
        ppl = np.where(counts < 1, 1e9, ppl)
        return ppl


@lru_cache(maxsize=1)
def default_model() -> CharTrigramLM:
    """Process-wide singleton; trained deterministically on first use (~0.2 s)."""
    return CharTrigramLM.train()
