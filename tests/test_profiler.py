"""Unit tests for the fused profiler against hand-computed expectations."""

import re

import numpy as np
import pandas as pd
import pytest

from data_quality_check_spark.operators import scoring
from data_quality_check_spark.operators.detector import detect_config
from data_quality_check_spark.operators.profiler import (
    EMAIL_RE,
    FAKE_NULLS,
    PHONE_RE,
    ProfileConfig,
    profile,
)
from data_quality_check_spark.pipeline.demo_fixture import demo_ecommerce_pdf


def _expected_scores(pdf: pd.DataFrame, cfg: ProfileConfig) -> dict:
    """Independent pandas/numpy computation of the 9 dimension scores, following
    the Spark-engine semantics (all int/float widths numeric, Spark phone regex,
    exact distincts)."""
    rows, cols = len(pdf), len(pdf.columns)
    out = {}

    total_nulls = int(pdf.isnull().sum().sum())
    out["completeness"] = round((1 - total_nulls / (rows * cols)) * 100, 1)

    dup = int(pdf.duplicated().sum())
    out["uniqueness"] = round(max(0, 100 - dup / rows * 100 * 2), 1)

    # consistency: negative keyword numeric cols only (no custom rules here)
    v = c = 0
    for col in pdf.select_dtypes(include=[np.number]).columns:
        if any(k in col.lower() for k in ["price", "prix", "amount", "montant", "age", "qty", "quantity", "stock"]):
            v += int((pdf[col] < 0).sum())
            c += rows
    out["consistency"] = 90.0 if c == 0 else round(max(0, (1 - v / c) * 100), 1)

    # distribution: exact quantiles, IQR fence 3x
    ratios = []
    for col in pdf.select_dtypes(include=[np.number]).columns:
        s = pdf[col].dropna()
        q1, q3 = s.quantile(0.25), s.quantile(0.75)
        iqr = q3 - q1
        if iqr == 0:
            continue
        outl = int(((s < q1 - 3 * iqr) | (s > q3 + 3 * iqr)).sum())
        ratios.append(outl / len(s))
    out["distribution"] = 90.0 if not ratios else round(max(0, 100 - np.mean(ratios) * 500), 1)

    # validity: email + phone regexes (fullmatch == anchored rlike semantics)
    v = c = 0
    er, pr = re.compile(EMAIL_RE), re.compile(PHONE_RE)
    for col, rx in (("email", er), ("phone", pr)):
        s = pdf[col].dropna().astype(str)
        c += len(s)
        v += int((~s.map(lambda x: bool(rx.search(x)))).sum())
    out["validity"] = 90.0 if c == 0 else round(max(0, (1 - v / c) * 100), 1)

    out["correlation"] = 90.0
    out["volumetry"] = 80.0

    # standardization over string cols
    v = c = 0
    for col in ["email", "phone", "status", "country", "created_at"]:
        s = pdf[col].dropna().astype(str)
        if not len(s):
            continue
        c += len(s)
        v += int((s != s.str.strip()).sum())
        v += int(s.str.lower().str.strip().isin(FAKE_NULLS).sum())
        nu = s.nunique()
        nl = s.str.lower().str.strip().nunique()
        if 2 <= nu <= 50 and nl < nu:
            v += (nu - nl) * 10
    out["standardization"] = 90.0 if c == 0 else round(max(0, min(100, (1 - v / c) * 100)), 1)
    return out


@pytest.fixture(scope="module")
def demo(spark):
    pdf = demo_ecommerce_pdf()
    return pdf, spark.createDataFrame(pdf)


def test_detector_roles(demo):
    _, df = demo
    det = detect_config(df)
    assert "email" in det["email_columns"]
    assert "phone" in det["phone_columns"]
    assert "created_at" in det["date_columns"]


def test_profile_dimension_scores(demo):
    pdf, df = demo
    cfg = ProfileConfig(
        table_name="demo",
        email_columns=["email"],
        phone_columns=["phone"],
        date_columns=["created_at"],
    )
    res = profile(df, cfg, now=pd.Timestamp("2026-01-01").to_pydatetime())
    ts = res.table_score
    exp = _expected_scores(pdf, cfg)
    for dim, want in exp.items():
        got = getattr(ts, dim)
        assert got == pytest.approx(want, abs=0.11), f"{dim}: got {got}, want {want}"
    # freshness: data ends 2024 → lag >> 24h → score 0
    assert ts.freshness == 0.0
    # global score is the weighted sum
    dims = {d: getattr(ts, d) for d in scoring.DIMENSIONS}
    assert ts.global_score == scoring.global_score(dims)
    assert ts.row_count == len(pdf)
    assert len(ts.columns) == len(pdf.columns)


def test_profile_custom_rules(demo):
    pdf, df = demo
    cfg = ProfileConfig(
        custom_rules=[
            {"name": "age >= 0", "condition": "`age` >= 0", "severity": "high", "column": "age"},
            {"name": "price < 1e6", "condition": "`price` < 1000000", "severity": "low", "column": "price"},
        ]
    )
    res = profile(df, cfg)
    n_age_viol = int((pdf["age"] < 0).sum())
    n_neg_age = n_age_viol  # age is also a negative-keyword column
    n_neg_price = int((pdf["price"] < 0).sum())
    rows = len(pdf)
    v = n_age_viol + n_neg_age + n_neg_price
    c = rows * 4  # 2 keyword cols + 2 rules
    assert res.table_score.consistency == round(max(0, (1 - v / c) * 100), 1)
    assert res.metrics["rule__0"] == n_age_viol
    assert res.metrics["rule__1"] == 0


def test_profile_empty_and_tiny(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1]}))
    ts = profile(df).table_score
    assert ts.uniqueness == 100.0  # <2 rows
    assert ts.volumetry == 80.0


def test_column_scores(demo):
    pdf, df = demo
    res = profile(df)
    by_name = {c.name: c for c in res.table_score.columns}
    s = pdf["status"]
    cp = round((1 - s.isnull().mean()) * 100, 1)
    uq = round(s.nunique() / len(s) * 100, 1)
    assert by_name["status"].completeness == pytest.approx(cp, abs=0.11)
    assert by_name["status"].uniqueness == pytest.approx(uq, abs=0.11)
    assert by_name["status"].overall == scoring.column_overall(
        by_name["status"].completeness, by_name["status"].uniqueness
    )


def test_profile_job_count(demo, spark):
    """The whole metric set must need ≤3 Spark jobs (vs reference's O(cols+rules)).

    AQE is disabled for the assertion because it materializes each query as several
    stage-jobs; the invariant being checked is ≤3 actions (= ≤3 input scans).
    """
    _, df = demo
    df = df.cache()
    df.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("profile-job-count", "fused profile")
    profile(
        df,
        ProfileConfig(
            email_columns=["email"],
            phone_columns=["phone"],
            date_columns=["created_at"],
            custom_rules=[{"name": "r", "condition": "`age` < 200", "severity": "low"}],
        ),
    )
    jobs = tracker.getJobIdsForGroup("profile-job-count") or []
    sc.setJobGroup(None, None)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert len(jobs) <= 3, f"profile() ran {len(jobs)} jobs, expected ≤3"


def test_malformed_date_values_degrade_not_crash(spark):
    """A detector-admitted date column (70% parse-rate) legally contains
    malformed values; under Spark 4 ANSI the old F.to_timestamp aggregate
    aborted the whole fused pass. try_to_timestamp must degrade them to null
    and score freshness from the parseable values."""
    from data_quality_check_spark.operators.profiler import ProfileConfig, profile

    rows = [("2026-01-01 00:00:00",), ("2026-01-02 00:00:00",), ("N/A",), ("soon",)]
    df = spark.createDataFrame(rows, "created_at string")
    from datetime import datetime

    res = profile(
        df,
        ProfileConfig(date_columns=["created_at"]),
        now=datetime(2026, 1, 2, 12, 0, 0),
    )
    # lag = 12h vs threshold 24h -> 100 - 50 = 50.0
    assert res.table_score.freshness == 50.0


def test_runtime_failing_rule_degrades_not_crashes(spark):
    """A rule that ANALYZES but throws at runtime (ANSI cast on a bad value)
    must cost only that rule — not the whole profile (reference behavior,
    engine.py:244-246)."""
    from data_quality_check_spark.operators.profiler import ProfileConfig, profile

    df = spark.createDataFrame(
        [("200", 1.0), ("404", 2.0), ("oops", 3.0)], "code string, v double"
    )
    rules = [
        {"name": "code_ok", "condition": "cast(code as int) < 500", "severity": "high"},
        {"name": "v_pos", "condition": "v > 0", "severity": "low"},
    ]
    res = profile(df, ProfileConfig(custom_rules=rules))
    ts = res.table_score
    assert ts.row_count == 3  # pass 1 completed
    assert "rule__1" in res.metrics and res.metrics["rule__1"] == 0  # good rule counted
    assert "rule__0" not in res.metrics  # bad rule excluded, not fatal
    assert any("not evaluable" in i["message"] for i in ts.issues)

    # both skip kinds at once: an analysis-invalid rule first shifts every
    # index, and each metric still carries its rule's ORIGINAL index
    bad_col = {"name": "no_col", "condition": "no_such_col > 0", "severity": "low"}
    res = profile(df, ProfileConfig(custom_rules=[bad_col, *rules]))
    assert "rule__2" in res.metrics and res.metrics["rule__2"] == 0
    assert "rule__0" not in res.metrics and "rule__1" not in res.metrics
    assert sum("not evaluable" in i["message"] for i in res.table_score.issues) == 2


def test_freshness_capped_at_100_for_future_dates(spark):
    """Future-dated rows (negative lag) must not push freshness above 100."""
    from datetime import datetime

    from data_quality_check_spark.operators.profiler import ProfileConfig, profile
    from data_quality_check_spark.operators.scoring import freshness_score

    assert freshness_score([-48.0], 24.0) == 100.0
    df = spark.createDataFrame([("2027-06-01 00:00:00",)], "created_at string")
    res = profile(
        df,
        ProfileConfig(date_columns=["created_at"]),
        now=datetime(2026, 1, 1),
    )
    assert res.table_score.freshness == 100.0


def test_lang_guess_null_text_agrees_across_engines(spark):
    """NULL text ≡ '' (0 stopword hits → 'und') in BOTH engines; before the
    coalesce, Spark said 'und' while DuckDB's NULL list_intersect gave NULL."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.functions.text import lang_guess_col, lang_guess_sql

    pdf = pd.DataFrame({"text": [None, "", "the of and to a"]})
    got = [
        r["g"]
        for r in spark.createDataFrame(pdf)
        .select(lang_guess_col(F.col("text")).alias("g"))
        .collect()
    ]
    duckdb.register("docs_null", pdf)
    want = [r[0] for r in duckdb.sql(
        f"SELECT {lang_guess_sql('text')} FROM docs_null"
    ).fetchall()]
    assert got == want and got[0] == "und" and got[2] == "en"


def test_profile_matches_duckdb_oracle(spark, tmp_path):
    """The public API against DuckDB: profile()'s 9 dims + global score equal
    the generated oracle SQL run on the spec profile() measured."""
    from datetime import datetime

    import duckdb

    from data_quality_check_spark.plans.quality_scores import scores_duck_sql

    path = str(tmp_path / "demo.parquet")
    demo_ecommerce_pdf().to_parquet(path, index=False)
    # test_profile_custom_rules' two rules, with bare identifiers: backticks
    # are Spark-only, and the oracle runs each condition as written
    rules = [
        {"name": "age >= 0", "condition": "age >= 0", "severity": "high", "column": "age"},
        {"name": "price < 1e6", "condition": "price < 1000000", "severity": "low", "column": "price"},
    ]
    cfg = ProfileConfig(
        email_columns=["email"],
        phone_columns=["phone"],
        date_columns=["created_at"],
        custom_rules=rules,
    )
    # a clock 12.5 h after the fixture's last row, so freshness is neither 0 nor 100
    res = profile(spark.read.parquet(path), cfg, now=datetime(2024, 1, 26, 11, 30))
    assert 0.0 < res.table_score.freshness < 100.0
    con = duckdb.connect()
    con.execute(f"CREATE VIEW demo AS SELECT * FROM '{path}'")
    got = con.execute(scores_duck_sql("demo", res.spec)).df().iloc[0].to_dict()
    for dim in (*scoring.DIMENSIONS, "global_score"):
        assert getattr(res.table_score, dim) == got[dim], dim


def test_unnamed_custom_rule_with_violations_does_not_crash(spark):
    import pandas as pd

    from data_quality_check_spark.operators.profiler import ProfileConfig, profile

    df = spark.createDataFrame(pd.DataFrame({"x": [-1.0, 2.0]}))
    r = profile(df, ProfileConfig(custom_rules=[{"condition": "x > 0"}]))
    msgs = [i["message"] for i in r.table_score.issues if i["dimension"] == "consistency"]
    assert any("1 violations" in s for s in msgs)


# ── merge-able profile partials (operators/partials.py) ──


def test_partial_profile_merge_equals_direct_and_is_append_incremental(spark):
    """The operator's whole contract: (a) merged per-bucket partials equal the
    direct whole-table aggregate — exact metrics exactly, HLL estimates
    identically (sketch union is lossless); (b) an APPEND is absorbed by
    computing partials over only the new batch and re-merging — no rescan of
    the old corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.partials import (
        merge_partials,
        partial_profile,
    )

    base = pd.DataFrame(
        {
            "id": range(2000),
            "cat": [None if i % 17 == 0 else f"c{i % 250}" for i in range(2000)],
            "n": [i % 97 for i in range(2000)],
        }
    )
    batch = pd.DataFrame(
        {
            "id": range(2000, 2600),
            "cat": [f"c{i % 300}" for i in range(2000, 2600)],
            "n": [i % 97 for i in range(2000, 2600)],
        }
    )
    cols, sums = ["cat"], ["n"]

    def bucketed(pdf):
        return spark.createDataFrame(pdf).withColumn(
            "_b", (F.col("id") % 8).cast("int")
        )

    whole = pd.concat([base, batch], ignore_index=True)
    direct = (
        partial_profile(bucketed(whole), "_b", cols, sums)
        .agg(
            F.sum("rows").alias("rows"),
        )
        .collect()[0]
    )
    # (a) merge over ALL partials == direct single-table sketch/aggregates
    merged_whole = merge_partials(
        partial_profile(bucketed(whole), "_b", cols, sums), cols, sums
    ).collect()[0]
    one_shot = bucketed(whole).agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(F.col("cat").isNull()).alias("nulls__cat"),
        F.hll_sketch_estimate(F.hll_sketch_agg("cat")).alias("distinct_est__cat"),
        F.sum("n").alias("sum__n"),
        F.min("n").alias("min__n"),
        F.max("n").alias("max__n"),
    ).collect()[0]
    for k in ("row_count", "nulls__cat", "distinct_est__cat", "sum__n", "min__n", "max__n"):
        assert merged_whole[k] == one_shot[k], k
    exact_distinct = whole["cat"].dropna().nunique()
    assert abs(merged_whole["distinct_est__cat"] - exact_distinct) <= 0.02 * exact_distinct

    # (b) incremental: partials(base) ∪ partials(batch) merges to the same row
    inc_parts = partial_profile(bucketed(base), "_b", cols, sums).unionByName(
        partial_profile(bucketed(batch), "_b", cols, sums)
    )
    inc = merge_partials(inc_parts, cols, sums).collect()[0]
    assert inc.asDict() == merged_whole.asDict()
    assert direct["rows"] == len(whole)


def test_partial_profile_mergeable_quantiles(spark):
    """KLL quantile sketches merged across buckets AND an appended batch land
    within sketch error (<1.5%) of the exact percentiles — quantiles without a
    rescan, completing the mergeable metric set."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.partials import (
        merge_partials,
        partial_profile,
    )

    vals = np.concatenate([np.arange(30000), np.arange(30000, 42000)])
    pdf = pd.DataFrame({"id": range(len(vals)), "n": vals})
    df = spark.createDataFrame(pdf).withColumn("_b", (F.col("id") % 8).cast("int"))
    parts_a = partial_profile(df.filter("id < 30000"), "_b", [], quantile_cols=["n"])
    parts_b = partial_profile(df.filter("id >= 30000"), "_b", [], quantile_cols=["n"])
    got = merge_partials(
        parts_a.unionByName(parts_b), [], quantile_cols=["n"]
    ).collect()[0]
    for q, name in ((0.25, "p25__n"), (0.5, "p50__n"), (0.75, "p75__n")):
        exact = float(np.quantile(vals, q))
        assert abs(got[name] - exact) <= 0.015 * len(vals), (name, got[name], exact)


def test_partial_quantiles_degrade_on_empty_and_nan(spark):
    """Empty partials or NaN values must yield NULL quantiles / NULL-skipped
    sketches, never an ANSI abort of the merge."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.partials import (
        merge_partials,
        partial_profile,
    )

    pdf = pd.DataFrame({"id": [0, 1, 2], "x": [1.0, float("nan"), 3.0]})
    df = spark.createDataFrame(pdf).withColumn("_b", (F.col("id") % 2).cast("int"))
    row = merge_partials(
        partial_profile(df, "_b", [], quantile_cols=["x"]), [], quantile_cols=["x"]
    ).collect()[0]
    assert row["p50__x"] in (1, 2, 3)  # NaN skipped, no crash

    empty = df.filter(F.lit(False))
    row2 = merge_partials(
        partial_profile(empty, "_b", [], quantile_cols=["x"]), [], quantile_cols=["x"]
    ).collect()[0]
    assert row2["p50__x"] is None and row2["row_count"] is None or row2["p50__x"] is None


def test_partials_tree_merge_order_invariant_and_parallel(spark):
    """VERDICT r3 task 4: at 10⁴ partial rows the KLL fold must (a) leave
    every exact metric identical under any fold order / fanout, (b) keep
    quantiles within sketch error of exact, and (c) run its first-level merge
    as a PARALLEL hash aggregate, not one collect_list task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.partials import (
        merge_partials,
        partial_profile,
    )

    n = 200_000
    rng = np.random.RandomState(7)
    vals = rng.randint(0, 1_000_000, n)
    pdf = pd.DataFrame({"id": range(n), "n": vals})
    # 10⁴ buckets → 10⁴ partial rows, ~20 source rows each
    df = spark.createDataFrame(pdf).withColumn("_b", (F.col("id") % 10_000).cast("int"))
    parts = partial_profile(df, "_b", [], sum_cols=["n"], quantile_cols=["n"]).persist()
    try:
        assert parts.count() == 10_000

        def run(p, fanout):
            return merge_partials(
                p, [], sum_cols=["n"], quantile_cols=["n"], tree_fanout=fanout
            ).collect()[0]

        a = run(parts, 64)
        b = run(parts.orderBy(F.desc("bucket")), 64)     # reversed fold order
        c = run(parts.orderBy(F.rand(seed=3)), 17)       # shuffled + odd fanout
        for k in ("row_count", "sum__n", "min__n", "max__n"):
            assert a[k] == b[k] == c[k], k
        for got in (a, b, c):
            for q, name in ((0.25, "p25__n"), (0.5, "p50__n"), (0.75, "p75__n")):
                exact = float(np.quantile(vals, q))
                # KLL k=200 normalized rank error ≈ 1.65%; folded tree stays inside
                assert abs(got[name] - exact) <= 0.02 * 1_000_000, (name, got[name])

        # (c) the level-1 merge is a groupBy on a pmod key — a real parallel
        # hash aggregate with its own exchange, visible in the physical plan
        plan = merge_partials(
            parts, [], sum_cols=["n"], quantile_cols=["n"]
        )._jdf.queryExecution().executedPlan().toString()
        assert "pmod" in plan and plan.count("HashAggregate") >= 4
    finally:
        parts.unpersist()


def test_compact_partials_idempotent_and_merge_preserving(spark):
    """compact_partials re-emits partial-schema rows: compacting batches down
    to one row per bucket must not change ANY merged exact metric or HLL
    estimate, quantiles stay within sketch error, and compaction is
    idempotent."""
    import pandas as pd
    from pyspark.sql import functions as F

    from data_quality_check_spark.operators.partials import (
        compact_partials,
        merge_partials,
        partial_profile,
    )

    def mk(lo, hi):
        pdf = pd.DataFrame(
            {
                "id": range(lo, hi),
                "cat": [None if i % 13 == 0 else f"c{i % 400}" for i in range(lo, hi)],
                "n": [i % 89 for i in range(lo, hi)],
            }
        )
        return spark.createDataFrame(pdf).withColumn("_b", (F.col("id") % 8).cast("int"))

    cols, sums, qs = ["cat"], ["n"], ["n"]
    # three ingest batches → 24 partial rows across 8 buckets
    parts = (
        partial_profile(mk(0, 3000), "_b", cols, sums, qs)
        .unionByName(partial_profile(mk(3000, 5000), "_b", cols, sums, qs))
        .unionByName(partial_profile(mk(5000, 5600), "_b", cols, sums, qs))
    )
    compacted = compact_partials(parts, cols, sums, qs)
    assert compacted.count() == 8  # one row per bucket again
    assert sorted(compacted.columns) == sorted(parts.columns)

    raw = merge_partials(parts, cols, sums, qs).collect()[0]
    comp = merge_partials(compacted, cols, sums, qs).collect()[0]
    twice = merge_partials(
        compact_partials(compacted, cols, sums, qs), cols, sums, qs
    ).collect()[0]
    exact_keys = ("row_count", "nulls__cat", "distinct_est__cat",
                  "sum__n", "min__n", "max__n")
    for k in exact_keys:
        assert raw[k] == comp[k] == twice[k], k
    for name in ("p25__n", "p50__n", "p75__n"):
        assert abs(comp[name] - raw[name]) <= 0.02 * 89, name
        assert abs(twice[name] - raw[name]) <= 0.02 * 89, name
