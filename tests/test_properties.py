"""Property tests (SURVEY.md §5.2): score bounds on arbitrary data; engine
invariance under row order and partition count; model-stage invariance under
partition count (the scale property — `local[8]` and `local[32]` runs of the
same input must agree row-for-row).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from data_quality_check_spark.operators.profiler import ProfileConfig, profile

DIMS = [
    "completeness",
    "uniqueness",
    "freshness",
    "consistency",
    "distribution",
    "validity",
    "correlation",
    "volumetry",
    "standardization",
]

_cell_num = st.one_of(
    st.none(), st.integers(min_value=-10**6, max_value=10**6).map(float), st.just(float("nan"))
)
_cell_str = st.one_of(
    st.none(), st.sampled_from(["a", "B", " x ", "n/a", "", "dup", "user@x.co", "bad@@"])
)


@st.composite
def _frames(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    amount = [draw(_cell_num) for _ in range(n)]
    email = [draw(_cell_str) for _ in range(n)]
    note = [draw(_cell_str) for _ in range(n)]
    return pd.DataFrame({"amount": amount, "email": email, "note": note})


def _score_dict(ts):
    return {d: getattr(ts, d) for d in DIMS} | {"global": ts.global_score}


@given(pdf=_frames())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_scores_bounded_and_order_invariant(spark, pdf):
    cfg = ProfileConfig(table_name="t", email_columns=["email"])
    df = spark.createDataFrame(pdf)
    base = _score_dict(profile(df, cfg).table_score)
    for v in base.values():
        assert not math.isnan(v) and 0.0 <= v <= 100.0
    # row order must not matter (every metric is order-insensitive)
    perm = spark.createDataFrame(pdf.iloc[::-1].reset_index(drop=True))
    assert _score_dict(profile(perm, cfg).table_score) == base


def test_scores_partition_invariant(spark, sf_dir):
    import os

    df = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cfg = ProfileConfig(table_name="customer")
    one = _score_dict(profile(df.repartition(1), cfg).table_score)
    many = _score_dict(profile(df.repartition(13), cfg).table_score)
    assert one == many


def test_model_stage_partition_invariant(spark, tmp_path):
    """langid/ppl/scrub must be pure per-row: any partitioning of the same
    input yields identical per-id outputs (what makes N vs 4N executors agree)."""
    from data_quality_check_spark.pipeline.fixtures import write_images_parquet
    from data_quality_check_spark.functions.fused import with_model_scores_fused

    fix = str(tmp_path / "images")
    write_images_parquet(fix, n=300, num_files=3)
    src = spark.read.parquet(fix)

    def run(parts):
        out = with_model_scores_fused(src.repartition(parts)).select(
            "image_id", "lang", "lang_conf", "ppl"
        )
        rows = out.collect()
        return sorted((r["image_id"], r["lang"], round(r["lang_conf"], 9), round(r["ppl"], 6)) for r in rows)

    assert run(2) == run(11)


@given(
    texts=st.lists(
        st.sampled_from(
            ["já seus dos de com só suas têm está", "", "a", "ab", "the cat sat",
             "le chat noir", None, "xyz qwerty", "é", "um dois três quatro cinco",
             " ".join(["the quick brown fox jumps over the lazy dog"] * 5)]
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_langid_scores_batch_composition_invariant(texts):
    """A text's (lang, conf, count, ppl) must not depend on its neighbors in the
    Arrow batch, to the last bit. Regressions: the reduceat-based segment sum
    truncated the second-to-last segment whenever a batch ended in a <3-byte
    string; later, the last segment absorbed the batch's trailing masked
    positions, which changed the pairwise-summation grouping of a long
    caption's sum (hence the 45-word caption in the pool)."""
    from data_quality_check_spark.functions.textmodel import default_model

    m = default_model()
    langs, conf, counts = m.predict(texts)
    _, _, _, ppl = m.score(texts)
    for i, t in enumerate(texts):
        l1, c1, n1 = m.predict([t])
        _, _, _, p1 = m.score([t])
        assert langs[i] == l1[0]
        assert counts[i] == n1[0]
        assert conf[i] == c1[0]
        assert ppl[i] == p1[0]


# ───────────────────── curation properties ─────────────────────

from data_quality_check_spark.operators import curation as CU  # noqa: E402

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "longword"])
_doc = st.lists(_word, min_size=0, max_size=8).map(" ".join)


@st.composite
def _corpus(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    return pd.DataFrame({
        "doc_id": range(n),
        "lang": [draw(st.sampled_from(["en", "fr", "zh"])) for _ in range(n)],
        "text": [draw(_doc) for _ in range(n)],
    })


@given(pdf=_corpus(), quota=st.integers(min_value=1, max_value=5))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_quota_sample_properties(spark, pdf, quota):
    df = spark.createDataFrame(pdf)
    out = CU.quota_sample(df, "doc_id", "lang", quota).toPandas()
    sizes = pdf.groupby("lang").size()
    got = out.groupby("lang").size()
    # every group keeps exactly min(quota, its size); ids come from the group
    for lang, n in sizes.items():
        assert got.get(lang, 0) == min(quota, n)
    merged = out.merge(pdf, on="doc_id", suffixes=("", "_src"))
    assert (merged["lang"] == merged["lang_src"]).all()


@given(pdf=_corpus(), budget=st.integers(min_value=0, max_value=30))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_pack_token_budget_properties(spark, pdf, budget):
    df = spark.createDataFrame(pdf)
    out = CU.pack_token_budget(df, "doc_id", "lang", "text", budget).toPandas()
    assert (out["cum_tokens"] <= budget).all()
    # maximality: for each group, the FIRST excluded doc (in the seeded order)
    # would have overflowed the budget
    key = (pdf["doc_id"] % 2_147_483_648 * 1103515245 + 12345) % 2_147_483_648
    pdf = pdf.assign(okey=key, ntok=pdf["text"].str.strip().str.split().str.len())
    pdf["ntok"] = pdf["ntok"].where(pdf["text"].str.strip() != "", 0)
    for lang, grp in pdf.sort_values(["okey", "doc_id"]).groupby("lang"):
        kept = set(out[out["lang"] == lang]["doc_id"])
        run = 0
        for r in grp.itertuples():
            if run + r.ntok <= budget:
                run += r.ntok
                assert r.doc_id in kept, (lang, r.doc_id)
            else:
                assert r.doc_id not in kept
                break  # greedy prefix stops at the first overflow


@given(pdf=_corpus(), budget=st.integers(min_value=0, max_value=30),
       kb=st.sampled_from([2, 4, 1024]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_pack_scalable_equals_window_on_arbitrary_corpora(spark, pdf, budget, kb):
    """The bucket decomposition is EXACT for any corpus, budget, and bucket
    count — tiny key_buckets force every group through the boundary-window
    path repeatedly."""
    df = spark.createDataFrame(pdf)
    a = CU.pack_token_budget(df, "doc_id", "lang", "text", budget).toPandas()
    b = CU.pack_token_budget_scalable(
        df, "doc_id", "lang", "text", budget, key_buckets=kb
    ).toPandas()
    key = ["doc_id", "lang", "n_tokens", "cum_tokens"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


@given(
    texts=st.lists(
        st.sampled_from(
            ["the cat sat on the mat", "", "a", "ab", "é", None,
             "já seus dos de com", "um dois três", "xyz qwerty 123"]
        ),
        min_size=1,
        max_size=8,
    ),
    cut=st.integers(min_value=0, max_value=8),
)
@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_alignment_scores_batch_composition_invariant(texts, cut):
    """A caption's alignment score must not depend on its Arrow-batch
    neighbours (the oracle twin scores one driver batch, Spark streams many) —
    the same invariance class as the langid property above, including the
    <3-byte-trailing-string boundary shapes."""
    import numpy as np

    from data_quality_check_spark.functions.alignment import alignment_scores

    texts = [t for t in texts]
    hashes = np.arange(1, len(texts) + 1, dtype=np.int64) * 982_451_653 % (1 << 60)
    full = alignment_scores([t or "" for t in texts], hashes)
    cut = min(cut, len(texts))
    parts = np.concatenate(
        [
            alignment_scores([t or "" for t in texts[:cut]], hashes[:cut]),
            alignment_scores([t or "" for t in texts[cut:]], hashes[cut:]),
        ]
    )
    assert np.array_equal(full, parts)


def test_score_rounding_boundary_agrees_across_engines(spark, tmp_path):
    """A completeness ratio engineered onto a .X5 rounding boundary
    (29 nulls / 200 rows / 10 cols → 98.55): DuckDB's plain round() on DOUBLE
    is binary-scaled and gives 98.5, Spark's F.round gives 98.6 — the
    generated twin must use the shortest-decimal-repr HALF_UP emulation."""
    import duckdb
    import pandas as pd

    from data_quality_check_spark.plans.quality_scores import (
        ScoreSpec,
        scores_df,
        scores_duck_sql,
    )

    pdf = pd.DataFrame({f"c{i}": [float(r) for r in range(200)] for i in range(10)})
    flat = [(i, c) for c in pdf.columns for i in range(200)]
    for i, c in flat[:29]:
        pdf.loc[i, c] = None
    # completeness/uniqueness only — no numeric/string metric columns
    spec = ScoreSpec(columns=list(pdf.columns), numeric_cols=[], string_cols=[])
    got = scores_df(spark.createDataFrame(pdf), spec).toPandas()
    assert got["completeness"].iloc[0] == 98.6  # Spark HALF_UP on '98.55'
    p = tmp_path / "b.parquet"
    pdf.to_parquet(p)
    duckdb.sql(f"CREATE VIEW bt AS SELECT * FROM '{p}'")
    want = duckdb.sql(scores_duck_sql("bt", spec)).df()
    assert want["completeness"].iloc[0] == 98.6
    assert (got.values == want[got.columns].values).all()
