"""Fused model stage: decode-check + language-ID + perplexity in ONE Python
crossing.

This is the package's only model-scoring path. Chained column UDFs (decode
check → language ID → perplexity) would be one ArrowEvalPython node each: the
rowset would cross the JVM↔Python boundary once per stage per task, and
per-crossing overhead (worker round-trip, Arrow [de]serialization) dominates
wall time long before CPU does. `with_model_scores_fused` (the filter job)
computes all three in one crossing, `with_text_scores` (the text-only gate
queries) language ID + perplexity in one; both call `CharTrigramLM.score`
once per batch, and their output matches the python golden
(`reference_impl.compute_golden`, `oracles.model_scores_sql`; tested).

Shape matters as much as count: this is a *struct-returning pandas_udf*, NOT a
`mapInPandas` over full rows — with mapInPandas the multi-KB `bytes` column
would be Arrow-serialized into Python AND back out again (measured ~2× the
cost of the whole scoring pass at 2M rows). As a column UDF, `bytes` crosses
into Python exactly once and the JVM row it came from keeps the original.

The built-in char-trigram model set is small enough for every python worker
to hold (`default_model()`, cached per worker), so the stage is map-side: no
language-keyed shuffle, hence no skewed language key to salt.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BooleanType, DoubleType, StringType, StructField, StructType

from data_quality_check_spark.pipeline import codecs

_TEXT_FIELDS = [
    StructField("lang", StringType()),
    StructField("lang_conf", DoubleType()),
    StructField("ppl", DoubleType()),
]
TEXT_SCHEMA = StructType(_TEXT_FIELDS)
FUSED_SCHEMA = StructType(
    [
        StructField("flag_decode_failed", BooleanType()),
        *_TEXT_FIELDS,
        # scrub_text(caption.strip()) for EVERY row (keep-masking happens later,
        # JVM-side): the caption is already in Python for the language model, so
        # scrubbing here costs one compiled-re trigger scan instead of a JVM
        # regexp_replace chain over all kept rows (~12s → ~1s, 32c / 8M rows)
        StructField("scrubbed", StringType()),
    ]
)


def _decode_flags(blobs: pd.Series, ws: pd.Series, hs: pd.Series) -> list[bool]:
    flags = []
    for b, w, h in zip(blobs, ws, hs):
        arr = codecs.decode(b)
        bad = (
            arr is None
            or pd.isna(w)
            or pd.isna(h)
            or arr.shape[0] != int(h)
            or arr.shape[1] != int(w)
        )
        flags.append(bool(bad))
    return flags


@F.pandas_udf(FUSED_SCHEMA)
def fused_scores_udf(
    batches: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    from data_quality_check_spark.functions.scrub import scrub_series
    from data_quality_check_spark.functions.textmodel import default_model

    model = default_model()  # cached per worker process
    for blobs, ws, hs, captions in batches:
        flags = _decode_flags(blobs, ws, hs)
        texts = captions.fillna("").tolist()
        langs, conf, _, ppl = model.score(texts)  # one encode+gather pass
        yield pd.DataFrame(
            {
                "flag_decode_failed": flags,
                "lang": langs,
                "lang_conf": conf,
                "ppl": ppl,
                "scrubbed": scrub_series(captions),
            }
        )


@F.pandas_udf(TEXT_SCHEMA)
def text_scores_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    from data_quality_check_spark.functions.textmodel import default_model

    model = default_model()  # cached per worker process
    for texts in batches:
        langs, conf, _, ppl = model.score(texts.fillna("").tolist())
        yield pd.DataFrame({"lang": langs, "lang_conf": conf, "ppl": ppl})


def with_text_scores(df: DataFrame, text_col: str) -> DataFrame:
    """Adds lang, lang_conf and ppl from `text_col` — one python crossing,
    map-side (no shuffle). The asNondeterministic fence is the one
    `with_model_scores_fused` explains: a downstream filter or second
    reference must not duplicate the UDF evaluation."""
    m = text_scores_udf.asNondeterministic()(F.col(text_col))
    return df.withColumn("_m", m).select("*", "_m.lang", "_m.lang_conf", "_m.ppl").drop("_m")


def with_model_scores_fused(
    df: DataFrame,
    bytes_col: str = "bytes",
    w_col: str = "w",
    h_col: str = "h",
    caption_col: str = "caption",
) -> DataFrame:
    """Adds flag_decode_failed, lang, lang_conf, ppl, and `_scrubbed_all`
    (the scrubbed caption of every row, which `run.finalize` keep-masks) —
    one python crossing, `bytes` inbound-only, map-side (no shuffle).

    Same kernel as `with_text_scores` and the python golden
    (`reference_impl.compute_golden`).
    """
    # asNondeterministic is an optimizer fence, not a semantics statement: the
    # UDF is pure, but without the fence Catalyst pushes the downstream keep/
    # row_selected filter through this projection and DUPLICATES the UDF call —
    # two ArrowEvalPython nodes, the whole decode+langid+ppl stage run twice per
    # row (visible in explain(); ~2x the dominant cost). The fence pins the
    # filter above the single evaluation. The job's partition-prune filter runs
    # structurally before this stage, so nothing needed pushdown through it.
    udf = fused_scores_udf.asNondeterministic()
    m = udf(F.col(bytes_col), F.col(w_col), F.col(h_col), F.col(caption_col))
    return (
        df.withColumn("_m", m)
        .select("*", "_m.flag_decode_failed", "_m.lang", "_m.lang_conf", "_m.ppl")
        .withColumn("_scrubbed_all", F.col("_m.scrubbed"))
        .drop("_m")
    )
