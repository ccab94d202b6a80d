"""Language-ID + perplexity as Arrow-vectorized pandas UDFs.

Iterator-form `pandas_udf` so the trigram model is materialized once per executor
python worker, then reused across Arrow batches (the fastText-style pattern from
SURVEY.md §2.10). No per-row Python: each batch is scored by the numpy kernels in
`functions/textmodel.py` over one contiguous byte buffer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

LANGID_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("lang_conf", DoubleType()),
    ]
)


@F.pandas_udf(LANGID_SCHEMA)
def langid_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    from data_quality_check_spark.functions.textmodel import default_model

    model = default_model()  # cached per python worker
    for texts in batches:
        langs, conf, _ = model.predict(texts.fillna("").tolist())
        yield pd.DataFrame({"lang": langs, "lang_conf": conf})


@F.pandas_udf(DoubleType())
def perplexity_udf(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
    from data_quality_check_spark.functions.textmodel import default_model

    model = default_model()
    for texts, langs in batches:
        ppl = model.perplexity(texts.fillna("").tolist(), langs.fillna("und").tolist())
        yield pd.Series(ppl)


def with_langid(df, caption_col: str = "caption"):
    """Adds `lang` and `lang_conf` columns (map-side; no shuffle).

    asNondeterministic = optimizer fence (pure UDF): stops Catalyst pushing a
    downstream filter through this projection and re-evaluating the model UDF
    once per reference (see fused.py for the measured 2x)."""
    s = langid_udf.asNondeterministic()(F.col(caption_col))
    return df.withColumn("_lid", s).select("*", "_lid.lang", "_lid.lang_conf").drop("_lid")


def with_perplexity(df, caption_col: str = "caption", lang_col: str = "lang"):
    """Adds `ppl` (map-side; per-language model rows are all in the broadcast-free
    in-process table)."""
    return df.withColumn(
        "ppl", perplexity_udf.asNondeterministic()(F.col(caption_col), F.col(lang_col))
    )

