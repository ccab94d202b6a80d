"""Curation operators: quota sampling, keep-best election, contamination.

Oracle parity at sf0.001 is covered by tests/test_entry_oracle.py (the gate
parametrizes over every registered query); here we pin the semantic
invariants and the physical-plan properties the 100 TB design depends on.
"""

import os

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark import record
from data_quality_check_spark.operators import curation as CU
from data_quality_check_spark.operators import dedup as DD

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quota_sample_caps_each_group(spark, docs):
    out = CU.quota_sample(docs, "doc_id", "lang", 5).toPandas()
    per_group = out.groupby("lang").size()
    assert (per_group <= 5).all()
    assert (out["quota_rank"] >= 1).all() and (out["quota_rank"] <= 5).all()
    # groups smaller than the quota survive whole
    totals = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, kept in per_group.items():
        assert kept == min(5, totals[lang])


def test_quota_sample_is_partitioning_invariant(spark, docs):
    a = CU.quota_sample(docs, "doc_id", "lang", 7).toPandas()
    b = CU.quota_sample(docs.repartition(13), "doc_id", "lang", 7).toPandas()
    key = ["doc_id", "lang", "quota_rank"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_quota_sample_pushes_group_limit_map_side(spark, docs):
    # Spark >=3.5 InferWindowGroupLimit: row_number() <= k becomes a partial
    # WindowGroupLimit BEFORE the shuffle, so each map task forwards at most
    # `quota` rows per group — the property that bounds the shuffle at 100 TB.
    plan = _plan(CU.quota_sample(docs, "doc_id", "lang", 5))
    # partial (map-side) + final — two WindowGroupLimit nodes around the shuffle
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_keep_best_elects_one_max_quality_winner(spark, docs):
    clusters = DD.neardup_clusters(docs, "doc_id", "text", 0.6, ngram=3)
    out = CU.keep_best(docs, clusters, "doc_id", "n_chars").toPandas()
    if out.empty:
        pytest.skip("no near-dup clusters at this SF")
    by_comp = out.groupby("component")
    assert (by_comp["keep"].sum() == 1).all()
    for _, grp in by_comp:
        winner = grp[grp["keep"]].iloc[0]
        assert winner["n_chars"] == grp["n_chars"].max()
        ties = grp[grp["n_chars"] == winner["n_chars"]]
        assert winner["doc_id"] == ties["doc_id"].min()
    # every clustered row is present exactly once (drop set = rows where ~keep)
    assert out["doc_id"].is_unique


def test_contamination_broadcasts_eval_side(spark, docs):
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    df = CU.contamination_overlap(train, ev, "doc_id", "text", ngram=3)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_flags_a_planted_eval_copy(spark, docs):
    # plant a train doc that IS an eval doc's text → 100% shingle overlap
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    planted = ev.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text").union(
        planted
    )
    out = CU.contamination_overlap(train, ev, "doc_id", "text", ngram=3).toPandas()
    row = out[out["doc_id"] >= 1_000_000]
    assert len(row) == 1 and bool(row.iloc[0]["contaminated"])
    assert row.iloc[0]["n_shared"] == row.iloc[0]["n_tok"]


def test_pack_token_budget_respects_budget_and_greedy_order(spark, docs):
    out = CU.pack_token_budget(docs, "doc_id", "lang", "text", 800).toPandas()
    assert not out.empty
    assert (out["cum_tokens"] <= 800).all()
    for _, grp in out.groupby("lang"):
        g = grp.sort_values("cum_tokens")
        # running total is consistent: cum = prefix sum of n_tokens
        assert (g["n_tokens"].cumsum().values == g["cum_tokens"].values).all()


def test_pack_token_budget_is_partitioning_invariant(spark, docs):
    a = CU.pack_token_budget(docs, "doc_id", "lang", "text", 800).toPandas()
    b = CU.pack_token_budget(
        docs.repartition(17), "doc_id", "lang", "text", 800
    ).toPandas()
    key = ["doc_id", "lang", "n_tokens", "cum_tokens"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_repetition_stats_zero_token_and_repeat_edge(spark):
    rows = [
        (1, "a b a b a b a b"),          # heavy 2-gram repetition
        (2, ""),                          # empty → all zeros
        (3, None),                        # null → all zeros
        (4, "all distinct words here"),  # no repeats
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        CU.repetition_stats(df, "doc_id", "text")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "n_words"] == 8 and out.loc[1, "distinct_words"] == 2
    assert out.loc[1, "n_2grams"] == 7 and out.loc[1, "distinct_2grams"] == 2
    assert bool(out.loc[1, "repetitive"])
    for i in (2, 3):
        assert (out.loc[i, ["n_words", "distinct_words", "n_2grams",
                            "distinct_2grams", "n_3grams", "distinct_3grams"]] == 0).all()
        assert not bool(out.loc[i, "repetitive"])
    assert out.loc[4, "distinct_words"] == out.loc[4, "n_words"] == 4
    assert not bool(out.loc[4, "repetitive"])


def test_contamination_shuffle_fallback_same_result(spark, docs, monkeypatch):
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    a = CU.contamination_overlap(train, ev, "doc_id", "text", ngram=3).toPandas()
    # an eval universe past record.BROADCAST_ROWS comes back un-hinted (the
    # planner may still pick a broadcast when the side is small); disable
    # auto-broadcast to genuinely drive the shuffled-join path the huge-eval
    # case would take
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    monkeypatch.setattr(record, "BROADCAST_ROWS", 0)
    try:
        nob = CU.contamination_overlap(train, ev, "doc_id", "text", ngram=3)
        plan = _plan(nob)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        b = nob.toPandas()
    finally:
        DD.release_pins()
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    key = ["doc_id", "n_tok", "n_shared", "contaminated"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_pack_scalable_equals_window_variant(spark, docs):
    a = CU.pack_token_budget(docs, "doc_id", "lang", "text", 800).toPandas()
    b = CU.pack_token_budget_scalable(docs, "doc_id", "lang", "text", 800).toPandas()
    key = ["doc_id", "lang", "n_tokens", "cum_tokens"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )


def test_pack_scalable_single_giant_group(spark):
    # one group dominating the corpus — the case the decomposition exists for;
    # also exercises many boundary/full buckets and zero-token rows
    rows = [(i, "g", "w " * (i % 4)) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    a = CU.pack_token_budget(df, "doc_id", "lang", "text", 700).toPandas()
    b = CU.pack_token_budget_scalable(
        df, "doc_id", "lang", "text", 700, key_buckets=64
    ).toPandas()
    key = ["doc_id", "lang", "n_tokens", "cum_tokens"]
    assert sorted(map(tuple, a[key].values.tolist())) == sorted(
        map(tuple, b[key].values.tolist())
    )
    assert len(a) > 0 and (a["cum_tokens"] <= 700).all()


def test_pack_scalable_broadcasts_bucket_sums(spark, docs):
    # the per-(group, key-bucket) sum table must come back as a broadcast —
    # the full-width side never shuffles for the bucket classification
    plan = _plan(CU.pack_token_budget_scalable(docs, "doc_id", "lang", "text", 800))
    assert "BroadcastHashJoin" in plan


def test_dedup_survivors_size_gate_paths_identical(spark, docs, monkeypatch):
    """VERDICT r2 item 2: past record.BROADCAST_ROWS the loser/winner joins
    must take the shuffled (non-broadcast) path and produce IDENTICAL output
    — a forced gate (cap 0) exercises the fallback branch."""
    clusters = DD.neardup_clusters(docs, "doc_id", "text", 0.6, ngram=3)
    clusters = clusters.persist()
    try:
        broadcast_path = CU.dedup_survivors(
            docs, clusters, "doc_id", "n_chars"
        ).toPandas()
        monkeypatch.setattr(record, "BROADCAST_ROWS", 0)
        shuffled_path = CU.dedup_survivors(
            docs, clusters, "doc_id", "n_chars"
        ).toPandas()
    finally:
        clusters.unpersist()
        DD.release_pins()
    key = ["doc_id", "was_clustered"]
    assert sorted(map(tuple, broadcast_path[key].values.tolist())) == sorted(
        map(tuple, shuffled_path[key].values.tolist())
    )
    assert broadcast_path["was_clustered"].sum() > 0  # winners flagged on both


def test_split_thresholds_exact_hex_boundaries():
    assert CU.split_thresholds({"a": 0.5, "b": 0.5}) == [("a", "80000000")]
    ts = CU.split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    assert [t[0] for t in ts] == ["train", "val"]
    assert int(ts[0][1], 16) == int(0.9 * 16**8)
    with pytest.raises(ValueError):
        CU.split_thresholds({"only": 1.0})
    with pytest.raises(ValueError):
        CU.split_thresholds({"a": 0.7, "b": 0.2})


def test_hash_split_fractions_and_exhaustive(spark):
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    got = {r["split"]: r["n"] for r in CU.hash_split(df, "doc_id", w).groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(got) == set(w) and sum(got.values()) == 4000
    assert abs(got["train"] / 4000 - 0.9) < 0.03
    assert abs(got["val"] / 4000 - 0.05) < 0.02
    assert abs(got["test"] / 4000 - 0.05) < 0.02


def test_hash_split_append_safe_and_partitioning_invariant(spark):
    w = {"train": 0.8, "eval": 0.2}
    small = CU.hash_split(spark.range(500).withColumnRenamed("id", "doc_id"), "doc_id", w)
    big = CU.hash_split(
        spark.range(2000).withColumnRenamed("id", "doc_id").repartition(13), "doc_id", w
    ).filter(F.col("doc_id") < 500)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_hash_split_salt_rotates_assignment(spark):
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    w = {"a": 0.5, "b": 0.5}
    base = dict(CU.hash_split(df, "doc_id", w).collect())
    salted = dict(CU.hash_split(df, "doc_id", w, salt="exp2").collect())
    moved = sum(base[k] != salted[k] for k in base)
    assert 300 < moved < 700  # ~half the keys move under an independent hash


def test_hash_split_is_shuffle_free(spark):
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    plan = CU.hash_split(df, "doc_id", {"a": 0.5, "b": 0.5})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


# ── mixture (data-mix) sampling ──


def test_mixture_thresholds_rates_and_keep_all():
    from data_quality_check_spark.operators.curation import mixture_thresholds

    counts = {"en": 1000, "fr": 10, "xx": 0}
    th = mixture_thresholds(counts, {"en": 0.5, "fr": 0.5, "absent": 0.0}, 100)
    # en: rate 50/1000 = 0.05 → 0.05 * 16^8 in hex
    assert th["en"] == format(int(0.05 * 16**8), "08x")
    # fr: 50 wanted from 10 rows → rate ≥ 1 → keep-all sentinel above all hex
    assert th["fr"] == "g"
    # zero-count and zero-weight groups get no threshold at all
    assert "xx" not in th and "absent" not in th


def test_mixture_sample_mixture_and_determinism(spark):
    import pandas as pd

    from data_quality_check_spark.operators.curation import mixture_sample

    pdf = pd.DataFrame(
        {
            "doc_id": range(2000),
            "lang": ["en"] * 1400 + ["fr"] * 100 + ["de"] * 500,
        }
    )
    df = spark.createDataFrame(pdf)
    w = {"en": 0.5, "fr": 0.25, "de": 0.25}
    got = mixture_sample(df, "lang", w, 400, "doc_id").toPandas()
    by = got.groupby("lang").size()
    # fr asks 100 of 100 → rate 1 → EXACTLY all; others are Binomial around
    # the target (en: 200 of 1400, de: 100 of 500) — generous 3σ-ish bounds
    assert by["fr"] == 100
    assert 150 <= by["en"] <= 250 and 70 <= by["de"] <= 135
    # pure function of (salt, id, thresholds): identical on a re-run
    again = mixture_sample(df, "lang", w, 400, "doc_id").toPandas()
    assert sorted(got["doc_id"]) == sorted(again["doc_id"])
    # unknown-weight groups drop entirely
    none = mixture_sample(df, "lang", {"en": 1.0}, 100, "doc_id").toPandas()
    assert set(none["lang"]) == {"en"}


def test_mixture_sample_frozen_counts_is_append_stable(spark):
    import pandas as pd

    from data_quality_check_spark.operators.curation import mixture_sample

    base = pd.DataFrame({"doc_id": range(1000), "lang": ["en"] * 1000})
    counts = {"en": 1000}
    w = {"en": 1.0}
    df = spark.createDataFrame(base)
    kept = set(mixture_sample(df, "lang", w, 200, "doc_id", counts=counts).toPandas()["doc_id"])
    appended = pd.concat(
        [base, pd.DataFrame({"doc_id": range(1000, 1500), "lang": ["en"] * 500})]
    )
    kept2 = set(
        mixture_sample(
            spark.createDataFrame(appended), "lang", w, 200, "doc_id", counts=counts
        ).toPandas()["doc_id"]
    )
    # frozen counts → frozen thresholds → existing rows' membership unchanged
    assert kept <= kept2 and {i for i in kept2 if i < 1000} == kept


def test_mixture_sample_plan_is_shuffle_free(spark):
    import pandas as pd

    from data_quality_check_spark.operators.curation import mixture_sample

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(100), "lang": ["en"] * 100})
    )
    plan = (
        mixture_sample(df, "lang", {"en": 1.0}, 10, "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_and_mixture_survive_quoted_values(spark):
    """Apostrophes in salts, split labels, and DATA-derived group names must
    not break (or inject into) either engine: the Spark side builds Columns,
    the DuckDB twins escape literals."""
    import duckdb
    import pandas as pd

    from data_quality_check_spark.operators.curation import (
        hash_split,
        hash_split_case_sql,
        mixture_sample,
        mixture_thresholds,
        mixture_sample_where_sql,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(200), "lang": ["it's-en"] * 150 + ["fr"] * 50}
    )
    df = spark.createDataFrame(pdf)
    w = {"tr'ain": 0.5, "te'st": 0.5}
    got = hash_split(df, "doc_id", w, salt="q'1").toPandas()
    assert set(got["split"]) == set(w)
    duckdb.register("t", pdf)
    dsql = duckdb.sql(
        f"SELECT doc_id, {hash_split_case_sql('doc_id', w, salt=chr(113)+chr(39)+'1')} FROM t"
    ).df()
    m = got.set_index("doc_id")["split"]
    assert (dsql.set_index("doc_id")["split"] == m).all()

    mix = mixture_sample(
        df, "lang", {"it's-en": 0.5, "fr": 0.5}, 100, "doc_id", salt="s'alt"
    ).toPandas()
    assert set(mix["lang"]) <= {"it's-en", "fr"} and len(mix) > 0
    th = mixture_thresholds(
        {"it's-en": 150, "fr": 50}, {"it's-en": 0.5, "fr": 0.5}, 100
    )
    where = mixture_sample_where_sql("lang", th, "doc_id", salt="s'alt")
    dmix = duckdb.sql(f"SELECT doc_id FROM t WHERE {where}").df()
    assert sorted(dmix["doc_id"]) == sorted(mix["doc_id"])


def test_score_threshold_sweep_exact_counts(spark):
    """Hand-computed curve: 5 rows with literal scores at steps=4; bucket
    clamping at score=1.0, empty buckets present, cumulative counts exact."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.curation import score_threshold_sweep

    df = spark.createDataFrame(
        [(0.0,), (0.24,), (0.5,), (0.5,), (1.0,)], "s double"
    )
    got = {
        r.threshold: (r.docs_kept, r.frac_kept)
        for r in score_threshold_sweep(df, F.col("s"), steps=4).collect()
    }
    assert got == {
        0.0: (5, 1.0),
        0.25: (3, 0.6),
        0.5: (3, 0.6),
        0.75: (1, 0.2),
        1.0: (1, 0.2),
    }


def test_score_threshold_sweep_shape_and_monotone(spark, sf_dir):
    """On real fixture scores: exactly steps+1 rows, kept(0) = corpus size,
    docs_kept non-increasing in threshold."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.functions.text import quality_score_col
    from data_quality_check_spark.operators.curation import score_threshold_sweep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        score_threshold_sweep(docs, quality_score_col(F.col("text"))).collect(),
        key=lambda r: r.threshold,
    )
    assert len(rows) == 21
    assert rows[0].docs_kept == docs.count()
    kept = [r.docs_kept for r in rows]
    assert all(a >= b for a, b in zip(kept, kept[1:]))


def test_score_threshold_sweep_null_and_negative_scores(spark):
    """NULL / negative scores are kept at NO threshold (a `score >= t` filter
    rejects both for t >= 0) but stay in frac_kept's denominator — the curve
    reports fractions of the WHOLE corpus, not of the scoreable subset."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.curation import score_threshold_sweep

    df = spark.createDataFrame(
        [(0.5,), (None,), (-0.25,), (1.0,)], "s double"
    )
    got = {
        r.threshold: (r.docs_kept, r.frac_kept)
        for r in score_threshold_sweep(df, F.col("s"), steps=2).collect()
    }
    assert got == {
        0.0: (2, 0.5),
        0.5: (2, 0.5),
        1.0: (1, 0.25),
    }


def test_score_threshold_sweep_grouped_matches_global_per_group(spark):
    """The grouped sweep restricted to one group must equal the global sweep
    run on that group's rows alone — including a NULL group and a group whose
    rows are all NULL-scored."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.curation import (
        score_threshold_sweep,
        score_threshold_sweep_grouped,
    )

    rows = (
        [("en", 0.2), ("en", 0.8), ("en", None)]
        + [("de", 1.0)]
        + [(None, 0.5), (None, -1.0)]
        + [("xx", None)]
    )
    df = spark.createDataFrame(rows, "g string, s double")
    grouped = score_threshold_sweep_grouped(df, F.col("s"), "g", steps=4)
    got = {
        (r.g, r.threshold): (r.docs_kept, r.frac_kept) for r in grouped.collect()
    }
    assert len(got) == 4 * 5  # 4 observed groups x (steps+1) thresholds
    for gval in ["en", "de", None, "xx"]:
        sub = df.filter(
            F.col("g").eqNullSafe(F.lit(gval)) if gval is not None else F.col("g").isNull()
        )
        want = {
            r.threshold: (r.docs_kept, r.frac_kept)
            for r in score_threshold_sweep(sub, F.col("s"), steps=4).collect()
        }
        for th, v in want.items():
            assert got[(gval, th)] == v, (gval, th, got[(gval, th)], v)


def test_filter_funnel_exact_counts_and_null_policy(spark):
    """Cumulative (not marginal) semantics: a row failing stage 1 never counts
    at stage 2 even if it passes stage 2's predicate; NULL predicate = drop;
    dropped_here telescopes back to total."""
    df = spark.createDataFrame(
        [  # (id, a, b): a fails for 2&3, b fails for 3&4, b NULL for 5
            (1, True, True),
            (2, False, True),   # drops at stage a (but passes b)
            (3, False, False),
            (4, True, False),   # drops at stage b
            (5, True, None),    # NULL b — drops at stage b by COALESCE policy
        ],
        "id long, a boolean, b boolean",
    )
    out = {r.stage_name: r for r in CU.filter_funnel(
        df, [("a", F.col("a")), ("b", F.col("b"))]
    ).collect()}
    assert (out["total"].surviving, out["a"].surviving, out["b"].surviving) == (5, 3, 1)
    assert (out["a"].dropped_here, out["b"].dropped_here) == (2, 2)
    assert out["b"].frac_of_total == 0.2
    assert [out[k].stage for k in ("total", "a", "b")] == [0, 1, 2]


def test_filter_funnel_empty_input_zero_guard(spark):
    df = spark.createDataFrame([], "id long, a boolean")
    rows = CU.filter_funnel(df, [("a", F.col("a"))]).collect()
    assert [(r.surviving, r.frac_of_total) for r in rows] == [(0, 0.0), (0, 0.0)]


# ───────────── CCNet-style per-group score buckets ─────────────


def _bucket_df(spark):
    rows = [
        # lang en: scores 1..6 → head {1,2}, middle {3,4}, tail {5,6}
        *[("en", f"d{i}", float(i)) for i in range(1, 7)],
        # lang fr: 4 rows → ntile(3) gives sizes 2,1,1
        *[("fr", f"f{i}", float(10 + i)) for i in range(1, 5)],
        # NULL lang is its own group
        (None, "n1", 0.5),
        (None, "n2", 0.7),
        (None, "n3", 0.9),
    ]
    return spark.createDataFrame(rows, "lang string, doc_id string, s double")


def test_ntile_buckets_exact_terciles(spark):
    from data_quality_check_spark.operators.curation import score_ntile_buckets

    got = {
        (r.lang, r.doc_id): r.bucket
        for r in score_ntile_buckets(
            _bucket_df(spark), F.col("s"), "lang", "doc_id"
        ).collect()
    }
    assert [got[("en", f"d{i}")] for i in range(1, 7)] == [
        "head", "head", "middle", "middle", "tail", "tail",
    ]
    # 4 rows into 3 tiles: standard ntile gives 2,1,1
    assert [got[("fr", f"f{i}")] for i in range(1, 5)] == [
        "head", "head", "middle", "tail",
    ]
    assert [got[(None, d)] for d in ("n1", "n2", "n3")] == ["head", "middle", "tail"]


def test_ntile_buckets_tie_break_is_id_not_partitioning(spark):
    from data_quality_check_spark.operators.curation import score_ntile_buckets

    rows = [("en", f"d{i}", 1.0) for i in range(9)]  # all scores tie
    df = spark.createDataFrame(rows, "lang string, doc_id string, s double")
    a = score_ntile_buckets(df.repartition(1), F.col("s"), "lang", "doc_id").collect()
    b = score_ntile_buckets(df.repartition(7), F.col("s"), "lang", "doc_id").collect()
    assert {(r.doc_id, r.bucket) for r in a} == {(r.doc_id, r.bucket) for r in b}
    # d0..d2 head, d3..d5 middle, d6..d8 tail by the doc_id tie-break
    got = {r.doc_id: r.bucket for r in a}
    assert got["d0"] == "head" and got["d4"] == "middle" and got["d8"] == "tail"


def test_ntile_buckets_label_arity_checked(spark):
    import pytest

    from data_quality_check_spark.operators.curation import (
        score_ntile_buckets,
        score_ntile_buckets_sql,
    )

    with pytest.raises(ValueError):
        score_ntile_buckets(_bucket_df(spark), F.col("s"), "lang", "doc_id", n=4)
    with pytest.raises(ValueError):
        score_ntile_buckets_sql("t", "s", "lang", "doc_id", n=2)


def test_bucket_thresholds_apply_matches_ntile_off_ties(spark):
    """The frozen-thresholds row-local path agrees with exact ntile everywhere
    score ties don't straddle a cut (here scores are distinct → exact match),
    and unknown groups surface as NULL buckets instead of a guess."""
    from data_quality_check_spark.operators.curation import (
        apply_bucket_thresholds,
        bucket_thresholds,
        score_ntile_buckets,
    )

    df = _bucket_df(spark)
    th = bucket_thresholds(df, F.col("s"), "lang")
    labeled = apply_bucket_thresholds(df, F.col("s"), "lang", th)
    want = {
        (r.lang, r.doc_id): r.bucket
        for r in score_ntile_buckets(df, F.col("s"), "lang", "doc_id").collect()
    }
    got = {(r.lang, r.doc_id): r.bucket for r in labeled.collect()}
    assert got == want

    # a group absent from the frozen table → NULL bucket, row preserved
    th_en_only = th.filter(F.col("lang") == "en")
    out = {
        (r.lang, r.doc_id): r.bucket
        for r in apply_bucket_thresholds(df, F.col("s"), "lang", th_en_only).collect()
    }
    assert out[("en", "d1")] == "head" and out[("fr", "f1")] is None
    assert len(out) == 13


def test_apply_bucket_thresholds_plan_is_broadcast_no_sort(spark):
    from data_quality_check_spark.operators.curation import (
        apply_bucket_thresholds,
        bucket_thresholds,
    )

    df = _bucket_df(spark)
    # the production shape: thresholds are a FROZEN K-row artifact read back
    # from a table, not a live aggregation subtree
    live = bucket_thresholds(df, F.col("s"), "lang")
    th = spark.createDataFrame(live.collect(), live.schema)
    plan = (
        apply_bucket_thresholds(df, F.col("s"), "lang", th)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Sort" not in plan.replace("SortMergeJoin", "")
    assert "hashpartitioning" not in plan  # corpus side never shuffles


def test_domain_profile_normalization_and_blocklist(spark):
    """Host normalization (lowercase, :port strip, one leading www. strip),
    first-URL-only capture, URL-less docs absent, blocklist verdict."""
    rows = [
        (1, "x http://Ads.Example/a http://other.example/b"),  # first URL wins
        (2, "y https://www.Ads.Example:8080/path?q=1"),        # www+port → same domain
        (3, "z http://clean.example/ok"),
        (4, "no url here"),
        (5, None),
        (6, "tricky http://www.www.example/x"),                # strips ONE www.
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["domain"]: r
        for r in CU.domain_profile(df, "text", ["ads.example"], "doc_id").collect()
    }
    assert set(out) == {"ads.example", "clean.example", "www.example"}
    assert out["ads.example"]["n_docs"] == 2
    assert out["ads.example"]["example_doc_id"] == 1
    assert out["ads.example"]["blocked"] is True
    assert out["clean.example"]["blocked"] is False
    assert out["www.example"]["blocked"] is False


def test_domain_profile_plan_is_joinless_single_agg(spark):
    """Blocklist membership is a literal IN riding the agg — no join, no
    Python, one partial+final agg pair."""
    df = spark.createDataFrame([(1, "http://a.example/x")], "doc_id long, text string")
    plan = (
        CU.domain_profile(df, "text", ["a.example"], "doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") <= 2


def test_domain_profile_empty_blocklist_audit_only(spark):
    """Audit-only mode: empty blocklist yields blocked=False everywhere in
    BOTH engines (the Spark isin() zero-arg crash and the SQL IN () syntax
    error are each guarded)."""
    import duckdb

    df = spark.createDataFrame([(1, "http://a.example/x")], "doc_id long, text string")
    out = CU.domain_profile(df, "text", [], "doc_id").collect()
    assert len(out) == 1 and out[0]["blocked"] is False

    con = duckdb.connect()
    con.execute("CREATE VIEW docs AS SELECT 1 AS doc_id, 'http://a.example/x' AS text")
    sql = CU.domain_profile_sql("docs", "text", [], "doc_id")
    row = con.execute(sql).fetchall()
    assert len(row) == 1 and row[0][3] is False


def test_decision_eval_hand_case(spark):
    """Confusion cells, PRF from the cells, NULL-exclusion policy."""
    from data_quality_check_spark.operators import curation as CU

    rows = [
        # (pred, label, grp)
        (True, True, "a"), (True, True, "a"), (True, False, "a"),
        (False, True, "a"), (False, False, "a"),
        (None, True, "a"),  # unlabeled: excluded from the cells
        (True, None, "b"), (False, False, "b"),
    ]
    df = spark.createDataFrame(rows, ["p", "l", "g"])
    got = {r["g"]: r.asDict() for r in CU.decision_eval(df, "p", "l", "g").collect()}
    a = got["a"]
    assert (a["tp"], a["fp"], a["fn"], a["tn"]) == (2, 1, 1, 1)
    assert a["n_rows"] == 6 and a["n_unlabeled"] == 1
    assert a["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert a["recall"] == pytest.approx(2 / 3, abs=1e-6)
    assert a["f1"] == pytest.approx(4 / 6, abs=1e-6)  # 2tp/(2tp+fp+fn)
    assert a["accuracy"] == pytest.approx(3 / 5, abs=1e-6)
    b = got["b"]
    # no positives predicted-and-labeled: precision/recall/f1 are NULL, not 0
    assert (b["tp"], b["tn"], b["n_unlabeled"]) == (0, 1, 1)
    assert b["precision"] is None and b["recall"] is None and b["f1"] is None
    assert b["accuracy"] == 1.0


def test_decision_eval_ungrouped_single_row(spark):
    from data_quality_check_spark.operators import curation as CU

    df = spark.createDataFrame([(True, True), (False, True)], ["p", "l"])
    out = CU.decision_eval(df, "p", "l").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["tp"], r["fn"]) == (1, 1) and r["recall"] == 0.5


def test_threshold_sweep_nan_and_inf_policy(spark):
    """NaN scores are unusable -> sentinel (kept at NO threshold, still in
    the denominator); +Inf passes every `score >= t` filter -> top bucket.
    Neither crashes the ANSI cast."""
    from data_quality_check_spark.operators import curation as CU

    rows = [(0.5,), (float("nan"),), (float("inf"),), (None,), (-0.2,)]
    df = spark.createDataFrame(rows, "s double")
    out = {r["threshold"]: r["docs_kept"] for r in
           CU.score_threshold_sweep(df, F.col("s"), steps=4).collect()}
    # kept at t=0: only 0.5 and Inf (NaN/None/negative are sentinel rows)
    assert out[0.0] == 2
    # kept at t=1.0: only Inf
    assert out[1.0] == 1
    # denominator counts ALL 5 rows
    full = CU.score_threshold_sweep(df, F.col("s"), steps=4).collect()
    assert all(abs(r["frac_kept"] - r["docs_kept"] / 5) < 1e-9 for r in full)


def test_compression_stats_matches_zlib_and_handles_edges(spark):
    """compression_stats: per-doc DEFLATE sizes must equal a direct zlib
    recomputation (same kernel both sides — the oracle contract); repetitive
    text ratios sit far below natural prose, which sits below random hex;
    NULL text yields NULLs and empty text a NULL ratio."""
    import zlib

    from data_quality_check_spark.functions.text import (
        ZLIB_LEVEL,
        compression_stats,
    )

    import base64
    import hashlib

    # doc-length texts: deflate's ~11-byte header dominates sub-100-char
    # strings and inverts the redundancy ordering there
    spam = "buy now limited offer " * 40
    prose = (
        "the quick brown fox jumps over one lazy dog near a quiet river while "
        "morning light settles across the valley and distant farms wake slowly "
        "with smoke rising from their chimneys into a pale and cloudless sky "
    ) * 4
    rand = base64.b64encode(
        b"".join(hashlib.sha256(bytes([i])).digest() for i in range(24))
    ).decode()  # ~1 KB of incompressible base64
    rows = [
        (1, spam),
        (2, prose),
        (3, rand),
        (4, None),
        (5, ""),
        (6, "héllo wörld — ünïcode bytes count in UTF-8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in compression_stats(df, "doc_id", "text").collect()}

    for i, t in rows:
        if t is None:
            assert got[i]["n_bytes"] is None and got[i]["n_compressed"] is None
            assert got[i]["compression_ratio"] is None
            continue
        enc = t.encode("utf-8")
        assert got[i]["n_bytes"] == len(enc), i
        assert got[i]["n_compressed"] == len(zlib.compress(enc, ZLIB_LEVEL)), i
    assert got[5]["compression_ratio"] is None  # 0 raw bytes -> nothing to measure
    # redundancy ordering: spam << prose < random hex
    assert got[1]["compression_ratio"] < got[2]["compression_ratio"] < got[3]["compression_ratio"]
    assert got[1]["compression_ratio"] < 0.2  # template spam collapses
    assert got[3]["compression_ratio"] > 0.7  # high-entropy text doesn't
