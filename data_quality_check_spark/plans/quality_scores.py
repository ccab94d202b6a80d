"""The quality-score engine: one lazy Spark plan + its DuckDB oracle SQL twin.

The paper's profiling scores — every metric **and** the score algebra — are one
lazy Spark plan. `metrics_df` fuses the metrics into at most 3 scans of the input:

  scan 1  one `df.agg(...)` with every conditional/distinct aggregate fused
  scan 2  one array-percentile aggregate (p25, p75) over all numeric columns
  scan 3  IQR-fence outlier counts against the broadcast scan-2 fences
          (skipped when there are no numeric columns)

`_score_exprs` turns that one metric row into the 9 dimension scores and
`global_score`; `scores_df` chains the two. Every consumer runs this plan:

  * `profile()` / `run_scoring` (operators/profiler.py) collect the metric row
    and the scores together, and derive only the issues list and the
    per-column scores on the driver;
  * the driver's DuckDB oracle checks it through `scores_duck_sql`, which emits
    ANSI SQL with identical semantics, generated from the same `ScoreSpec` so
    names/semantics can't drift;
  * `grouped_scores_df` runs it per group key — the north rule's per-partition
    metric tables, with zero driver-side math.

Score formula semantics follow the reference (see operators/scoring.py citations).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F, types as T

from data_quality_check_spark.operators.scoring import WEIGHTS

# Canonical validation regexes (engine.py:477-478; the Spark engine's phone pattern
# is taken as canonical over the pandas variant — SURVEY.md §1.2).
EMAIL_RE = r"^[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}$"
# whitespace spelled as an explicit class, not \s: Java's \s includes \x0B
# while RE2's (the DuckDB twin) does not — the same Java∩RE2 rule
# pipeline/heuristics.py applies to caption whitespace
PHONE_RE = r"^\+?[\d][\d \t\n\r\f\-\.\(\)]{6,20}$"

# Values treated as "fake nulls" after lower(trim(...)) (engine.py:521).
FAKE_NULLS = ["n/a", "na", "null", "none", "-", "--", "unknown", "inconnu", "?", "nan", "nd"]

# Column-name keywords that mark a numeric column as must-be-non-negative
# (engine.py:438).
NEGATIVE_KEYWORDS = ["price", "prix", "amount", "montant", "age", "qty", "quantity", "stock"]

_NUMERIC_TYPES = (T.DoubleType, T.FloatType, T.IntegerType, T.LongType)

# Case-variance penalty applies when 2 <= distinct <= 50 (engine.py:539).
CASE_VARIANT_MIN, CASE_VARIANT_MAX = 2, 50

IQR_FENCE_K = 3.0  # fences at Q1 - 3·IQR / Q3 + 3·IQR (engine.py:466)


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)]


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


@dataclass
class ScoreSpec:
    """Dialect-neutral description of what to measure on one table."""

    columns: list[str]
    numeric_cols: list[str]
    string_cols: list[str]
    email_cols: list[str] = field(default_factory=list)
    phone_cols: list[str] = field(default_factory=list)
    date_cols: list[str] = field(default_factory=list)  # castable to timestamp
    rules: list[dict] = field(default_factory=list)  # {name, condition(SQL, both dialects), severity}
    corr_rules: list[dict] = field(default_factory=list)  # {col_a, col_b, operator}
    as_of: str = "2026-01-01 00:00:00"  # pinned clock for freshness (determinism)
    freshness_threshold_hours: float = 24.0
    neg_check_cols: list[str] = field(default_factory=list)
    # exact distinct count `nd__{c}` per listed column: the per-column
    # uniqueness of non-string columns (string columns reuse `nu__`). No score
    # reads it, so `from_df`/`from_parquet` leave it empty.
    distinct_cols: list[str] = field(default_factory=list)

    @classmethod
    def _from_schema(
        cls, columns: list[str], numeric: list[str], strings: list[str], overrides: dict
    ) -> "ScoreSpec":
        spec = cls(columns=columns, numeric_cols=numeric, string_cols=strings)
        spec.neg_check_cols = [
            c for c in numeric if any(k in c.lower() for k in NEGATIVE_KEYWORDS)
        ]
        for k, v in overrides.items():
            setattr(spec, k, v)
        return spec

    @classmethod
    def from_parquet(cls, path: str, **overrides) -> "ScoreSpec":
        """Build a spec from parquet metadata only (driver-side, no Spark needed) —
        used to generate oracle SQL in `__spark_entry__.oracle_sql()`."""
        import os

        import pyarrow.parquet as pq
        import pyarrow.types as pat

        # production tables are DIRECTORIES of part files (any part carries
        # the table schema); single-file fixtures stay supported as-is
        if os.path.isdir(path):
            parts = sorted(
                e
                for e in os.listdir(path)
                if e.endswith(".parquet") and not e.startswith(("_", "."))
            )
            if not parts:
                raise FileNotFoundError(f"no parquet part files under {path}")
            path = os.path.join(path, parts[0])
        schema = pq.read_schema(path)
        numeric, strings = [], []
        for f in schema:
            # restricted to >=32-bit so this constructor classifies EXACTLY
            # like from_df/_NUMERIC_TYPES (Int/Long/Float/Double) — an int16
            # column marked numeric here but skipped by the Spark plan would
            # give the generated oracle extra metrics to disagree on
            if (pat.is_integer(f.type) or pat.is_floating(f.type)) and f.type.bit_width >= 32:
                numeric.append(f.name)
            elif pat.is_string(f.type) or pat.is_large_string(f.type):
                strings.append(f.name)
        return cls._from_schema(list(schema.names), numeric, strings, overrides)

    @classmethod
    def from_df(cls, df: DataFrame, **overrides) -> "ScoreSpec":
        return cls._from_schema(list(df.columns), numeric_columns(df), string_columns(df), overrides)


# ─────────────────────────── Spark side ───────────────────────────


def _metric_aggs(spec: ScoreSpec) -> list[Column]:
    """Pass-1 aggregates (metrics only; no quantiles) from the spec."""
    a: list[Column] = [F.count(F.lit(1)).alias("row_count")]
    for c in spec.columns:
        a.append(F.count_if(F.col(c).isNull()).alias(f"nulls__{c}"))
    a.append(F.count_distinct(F.struct(*[F.col(c) for c in spec.columns])).alias("distinct_rows"))
    for c in spec.neg_check_cols:
        a.append(F.count_if(F.col(c) < 0).alias(f"neg__{c}"))
    for i, r in enumerate(spec.rules):
        a.append(F.count_if(~F.expr(r["condition"])).alias(f"rule__{i}"))
    for i, r in enumerate(spec.corr_rules):
        ca, cb = F.col(r["col_a"]), F.col(r["col_b"])
        both = ca.isNotNull() & cb.isNotNull()
        viol = (ca >= cb) if r.get("operator", "<") == "<" else (ca > cb)
        a.append(F.count_if(both).alias(f"corrc__{i}"))
        a.append(F.count_if(both & viol).alias(f"corrv__{i}"))
    for c in spec.email_cols:
        col = F.col(c).cast("string")
        a.append(F.count(col).alias(f"emailc__{c}"))
        a.append(F.count_if(col.isNotNull() & ~col.rlike(EMAIL_RE)).alias(f"emailv__{c}"))
    for c in spec.phone_cols:
        col = F.col(c).cast("string")
        a.append(F.count(col).alias(f"phonec__{c}"))
        a.append(F.count_if(col.isNotNull() & ~col.rlike(PHONE_RE)).alias(f"phonev__{c}"))
    for c in spec.string_cols:
        col, folded = F.col(c), F.lower(F.trim(F.col(c)))
        a.append(F.count(col).alias(f"strc__{c}"))
        a.append(F.count_if(col.isNotNull() & (col != F.trim(col))).alias(f"ws__{c}"))
        a.append(F.count_if(folded.isin(FAKE_NULLS)).alias(f"fn__{c}"))
        a.append(F.count_distinct(col).alias(f"nu__{c}"))
        a.append(F.count_distinct(folded).alias(f"nl__{c}"))
    for c in spec.date_cols:
        # try_to_timestamp: ANSI-safe null-on-malformed (the DuckDB twin already
        # uses try_cast). Emitted as epoch MICROSECONDS (a long), because
        # collect() renders a TimestampType through the driver OS time zone
        # (datetime.fromtimestamp); epoch math is time-zone-free AFTER the
        # parse. The parse itself reads wall-clock strings in
        # spark.sql.session.timeZone, as `as_of` is read — session.get_spark
        # pins UTC, and `profile()`'s `now` is naive UTC.
        a.append(F.unix_micros(F.max(F.try_to_timestamp(F.col(c)))).alias(f"maxd__{c}"))
    for c in spec.distinct_cols:
        a.append(F.count_distinct(F.col(c)).alias(f"nd__{c}"))
    return a


def _quantile_aggs(spec: ScoreSpec) -> list[Column]:
    # One array-percentile per column: a single sorted value buffer serves both
    # quantiles (measured ~1.7x faster than separate p25/p75 aggregates).
    return [
        F.percentile(F.col(c), F.array(F.lit(0.25), F.lit(0.75))).alias(f"q__{c}")
        for c in spec.numeric_cols
    ]


def _unpack_quantiles(qdf: DataFrame, spec: ScoreSpec, *keys: str) -> DataFrame:
    return qdf.select(
        *keys,
        *[F.col(f"q__{c}")[0].alias(f"q1__{c}") for c in spec.numeric_cols],
        *[F.col(f"q__{c}")[1].alias(f"q3__{c}") for c in spec.numeric_cols],
    )


def _outlier_aggs_from_fences(spec: ScoreSpec) -> list[Column]:
    """Outlier counts where fences come from joined q1__/q3__ columns."""
    a = []
    for c in spec.numeric_cols:
        q1, q3 = F.col(f"q1__{c}"), F.col(f"q3__{c}")
        iqr = q3 - q1
        a.append(
            F.count_if(
                (F.col(c) < q1 - IQR_FENCE_K * iqr) | (F.col(c) > q3 + IQR_FENCE_K * iqr)
            ).alias(f"out__{c}")
        )
    return a


def _r1(c: Column) -> Column:
    return F.round(c, 1)


def _score_exprs(spec: ScoreSpec) -> list[Column]:
    """Score algebra as Column expressions over the joined metric columns."""
    rows = F.col("row_count")
    drows = rows.cast("double")

    total_nulls = sum([F.col(f"nulls__{c}") for c in spec.columns], F.lit(0))
    completeness = F.when(rows == 0, F.lit(0.0)).otherwise(
        _r1((F.lit(1.0) - total_nulls / (drows * len(spec.columns))) * 100.0)
    )

    dup_pct = (drows - F.col("distinct_rows")) / drows * 100.0
    uniqueness = F.when(rows < 2, F.lit(100.0)).otherwise(
        _r1(F.greatest(F.lit(0.0), F.lit(100.0) - dup_pct * 2.0))
    )

    # freshness: mean over date cols with a non-null max timestamp
    if spec.date_cols:
        # microsecond-exact lag arithmetic: one integer subtraction + one division
        # → bit-identical doubles in Spark and DuckDB (epoch_us twin below).
        as_of = F.unix_micros(F.to_timestamp(F.lit(spec.as_of)))
        per_col = []
        for c in spec.date_cols:
            lag_h = (as_of - F.col(f"maxd__{c}")).cast("double") / 3.6e9
            per_col.append(
                F.when(
                    F.col(f"maxd__{c}").isNotNull(),
                    # least-cap: future-dated rows (negative lag) must not
                    # score >100 (bounds property; duck twin mirrors this)
                    F.least(
                        F.lit(100.0),
                        F.greatest(
                            F.lit(0.0),
                            F.lit(100.0)
                            - lag_h / spec.freshness_threshold_hours * 100.0,
                        ),
                    ),
                )
            )
        cnt = sum([F.when(p.isNotNull(), 1).otherwise(0) for p in per_col], F.lit(0))
        tot = sum([F.coalesce(p, F.lit(0.0)) for p in per_col], F.lit(0.0))
        freshness = F.when(cnt == 0, F.lit(75.0)).otherwise(_r1(tot / cnt))
    else:
        freshness = F.lit(75.0)

    # consistency
    n_checks = len(spec.neg_check_cols) + len(spec.rules)
    if n_checks:
        v = sum(
            [F.col(f"neg__{c}") for c in spec.neg_check_cols]
            + [F.col(f"rule__{i}") for i in range(len(spec.rules))],
            F.lit(0),
        )
        consistency = F.when(rows == 0, F.lit(90.0)).otherwise(
            _r1(F.greatest(F.lit(0.0), (F.lit(1.0) - v / (drows * n_checks)) * 100.0))
        )
    else:
        consistency = F.lit(90.0)

    # distribution: mean outlier ratio over numeric cols with IQR != 0
    if spec.numeric_cols:
        ratios, included = [], []
        for c in spec.numeric_cols:
            iqr = F.col(f"q3__{c}") - F.col(f"q1__{c}")
            nn = (rows - F.col(f"nulls__{c}")).cast("double")
            ok = F.col(f"q1__{c}").isNotNull() & F.col(f"q3__{c}").isNotNull() & (iqr != 0) & (nn > 0)
            ratios.append(F.when(ok, F.col(f"out__{c}") / nn).otherwise(F.lit(0.0)))
            included.append(F.when(ok, 1).otherwise(0))
        n_inc = sum(included, F.lit(0))
        mean_ratio = sum(ratios, F.lit(0.0)) / F.nullif(n_inc.cast("double"), F.lit(0.0))
        distribution = F.when(n_inc == 0, F.lit(90.0)).otherwise(
            _r1(F.greatest(F.lit(0.0), F.lit(100.0) - mean_ratio * 500.0))
        )
    else:
        distribution = F.lit(90.0)

    # validity
    if spec.email_cols or spec.phone_cols:
        vc = sum(
            [F.col(f"emailc__{c}") for c in spec.email_cols]
            + [F.col(f"phonec__{c}") for c in spec.phone_cols],
            F.lit(0),
        )
        vv = sum(
            [F.col(f"emailv__{c}") for c in spec.email_cols]
            + [F.col(f"phonev__{c}") for c in spec.phone_cols],
            F.lit(0),
        )
        validity = F.when(vc == 0, F.lit(90.0)).otherwise(
            _r1(F.greatest(F.lit(0.0), (F.lit(1.0) - vv / vc.cast("double")) * 100.0))
        )
    else:
        validity = F.lit(90.0)

    # correlation
    if spec.corr_rules:
        cc = sum([F.col(f"corrc__{i}") for i in range(len(spec.corr_rules))], F.lit(0))
        cv = sum([F.col(f"corrv__{i}") for i in range(len(spec.corr_rules))], F.lit(0))
        correlation = F.when(cc == 0, F.lit(90.0)).otherwise(
            _r1(F.greatest(F.lit(0.0), (F.lit(1.0) - cv / cc.cast("double")) * 100.0))
        )
    else:
        correlation = F.lit(90.0)

    volumetry = F.lit(80.0)

    # standardization
    if spec.string_cols:
        sc = sum([F.col(f"strc__{c}") for c in spec.string_cols], F.lit(0))
        sv = F.lit(0)
        for c in spec.string_cols:
            nu, nl = F.col(f"nu__{c}"), F.col(f"nl__{c}")
            penalty = F.when(
                (nu >= CASE_VARIANT_MIN) & (nu <= CASE_VARIANT_MAX) & (nl < nu),
                (nu - nl) * 10,
            ).otherwise(0)
            sv = sv + F.col(f"ws__{c}") + F.col(f"fn__{c}") + penalty
        standardization = F.when(sc == 0, F.lit(90.0)).otherwise(
            _r1(F.greatest(F.lit(0.0), F.least(F.lit(100.0), (F.lit(1.0) - sv / sc.cast("double")) * 100.0)))
        )
    else:
        standardization = F.lit(90.0)

    dims = {
        "completeness": completeness,
        "uniqueness": uniqueness,
        "freshness": freshness,
        "consistency": consistency,
        "distribution": distribution,
        "validity": validity,
        "correlation": correlation,
        "volumetry": volumetry,
        "standardization": standardization,
    }
    out = [dims[d].cast("double").alias(d) for d in dims]
    glob = sum([dims[d] * w for d, w in WEIGHTS.items()], F.lit(0.0))
    out.append(_r1(glob).cast("double").alias("global_score"))
    return out


def metrics_df(df: DataFrame, spec: ScoreSpec) -> DataFrame:
    """One-row DataFrame of every raw metric the spec names (≤3 scans): the
    scan-1 aggregates, plus `q1__`/`q3__`/`out__` per numeric column."""
    p1 = df.agg(*_metric_aggs(spec))
    if not spec.numeric_cols:
        return p1
    q = _unpack_quantiles(df.agg(*_quantile_aggs(spec)), spec)
    o = df.crossJoin(F.broadcast(q)).agg(
        *_outlier_aggs_from_fences(spec),
        *[F.first(f"q1__{c}").alias(f"q1__{c}") for c in spec.numeric_cols],
        *[F.first(f"q3__{c}").alias(f"q3__{c}") for c in spec.numeric_cols],
    )
    return p1.crossJoin(F.broadcast(o))


def scores_df(df: DataFrame, spec: ScoreSpec | None = None) -> DataFrame:
    """One-row DataFrame with the 9 dimension scores + global_score, all Spark-side."""
    spec = spec or ScoreSpec.from_df(df)
    return metrics_df(df, spec).select(*_score_exprs(spec))


def grouped_scores_df(
    df: DataFrame, group_cols: list[str], spec: ScoreSpec | None = None
) -> DataFrame:
    """Per-group 9-dimension score table: one row per group key — the shape
    the north rule's per-partition metric tables take.

    Same ≤3-scan structure as `scores_df`, each pass a `groupBy(group_cols)`:
    metrics, per-group quantiles, then per-group IQR-fence outlier counts with
    the (small, one row per group) quantile table broadcast back onto the rows.
    Groups with a NULL key are dropped by the inner metric↔outlier join, in both
    engines, when numeric columns are present."""
    gcols = list(group_cols)
    spec = spec or ScoreSpec.from_df(df.drop(*gcols))
    p1 = df.groupBy(*gcols).agg(*_metric_aggs(spec))
    if spec.numeric_cols:
        q = _unpack_quantiles(df.groupBy(*gcols).agg(*_quantile_aggs(spec)), spec, *gcols)
        o = (
            df.join(F.broadcast(q), gcols)
            .groupBy(*gcols)
            .agg(
                *_outlier_aggs_from_fences(spec),
                *[F.first(f"q1__{c}").alias(f"q1__{c}") for c in spec.numeric_cols],
                *[F.first(f"q3__{c}").alias(f"q3__{c}") for c in spec.numeric_cols],
            )
        )
        joined = p1.join(o, gcols)
    else:
        joined = p1
    return joined.select(*gcols, *_score_exprs(spec))


# ─────────────────────────── DuckDB oracle side ───────────────────────────


def _d(x: float) -> str:
    return repr(float(x))


def scores_duck_sql(table: str, spec: ScoreSpec, group_cols: list[str] | None = None) -> str:
    """DuckDB SQL computing the identical score set — one row (default) or one
    row per group key (`group_cols`, the twin of `grouped_scores_df`).

    Generated from the same ScoreSpec as `scores_df`, so column names, inclusion
    rules and formula structure cannot drift between engines.
    """
    cols = spec.columns
    m = [f"count(*) AS row_count"]
    m += [f'count(*) FILTER (WHERE "{c}" IS NULL) AS "nulls__{c}"' for c in cols]
    row_expr = ", ".join(f'"{c}"' for c in cols)
    m.append(f"count(DISTINCT ({row_expr})) AS distinct_rows")
    for c in spec.neg_check_cols:
        m.append(f'count(*) FILTER (WHERE "{c}" < 0) AS "neg__{c}"')
    for i, r in enumerate(spec.rules):
        m.append(f'count(*) FILTER (WHERE NOT ({r["condition"]})) AS "rule__{i}"')
    for i, r in enumerate(spec.corr_rules):
        ca, cb = r["col_a"], r["col_b"]
        op = ">=" if r.get("operator", "<") == "<" else ">"
        m.append(
            f'count(*) FILTER (WHERE "{ca}" IS NOT NULL AND "{cb}" IS NOT NULL) AS "corrc__{i}"'
        )
        m.append(
            f'count(*) FILTER (WHERE "{ca}" IS NOT NULL AND "{cb}" IS NOT NULL '
            f'AND "{ca}" {op} "{cb}") AS "corrv__{i}"'
        )
    for kind, rx, lst in (("email", EMAIL_RE, spec.email_cols), ("phone", PHONE_RE, spec.phone_cols)):
        for c in lst:
            s = f'CAST("{c}" AS VARCHAR)'
            m.append(f'count({s}) AS "{kind}c__{c}"')
            m.append(
                f"count(*) FILTER (WHERE {s} IS NOT NULL AND NOT regexp_matches({s}, '{rx}')) "
                f'AS "{kind}v__{c}"'
            )
    for c in spec.string_cols:
        col = f'"{c}"'
        folded = f"lower(trim({col}))"
        fakes = ", ".join(f"'{x}'" for x in FAKE_NULLS)
        m.append(f'count({col}) AS "strc__{c}"')
        m.append(f'count(*) FILTER (WHERE {col} IS NOT NULL AND {col} <> trim({col})) AS "ws__{c}"')
        m.append(f'count(*) FILTER (WHERE {folded} IN ({fakes})) AS "fn__{c}"')
        m.append(f'count(DISTINCT {col}) AS "nu__{c}"')
        m.append(f'count(DISTINCT {folded}) AS "nl__{c}"')
    for c in spec.date_cols:
        m.append(f'max(try_cast("{c}" AS TIMESTAMP)) AS "maxd__{c}"')

    q = []
    for c in spec.numeric_cols:
        q.append(f'quantile_cont("{c}", 0.25) AS "q1__{c}"')
        q.append(f'quantile_cont("{c}", 0.75) AS "q3__{c}"')

    o = []
    for c in spec.numeric_cols:
        k = _d(IQR_FENCE_K)
        o.append(
            f'count(*) FILTER (WHERE t."{c}" < q."q1__{c}" - {k}*(q."q3__{c}"-q."q1__{c}") '
            f'OR t."{c}" > q."q3__{c}" + {k}*(q."q3__{c}"-q."q1__{c}")) AS "out__{c}"'
        )

    # ---- score expressions (mirror _score_exprs) ----
    # DuckDB twin of Spark's F.round on DOUBLE: route through the
    # shortest-decimal VARCHAR repr and round the DECIMAL (HALF_UP) — exactly
    # BigDecimal.valueOf + HALF_UP. Plain round() on a DOUBLE is binary-scaled
    # and flips boundary values (measured: 1.005 → 1.00 vs Spark's 1.01), and
    # integer-count ratios scaled by 100 land on .X5 boundaries routinely.
    def _r1(expr: str) -> str:
        return f"CAST(round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(38,18)), 1) AS DOUBLE)"

    ncols = len(cols)
    total_nulls = " + ".join(f'"nulls__{c}"' for c in cols)
    completeness = (
        f"CASE WHEN row_count = 0 THEN 0.0 ELSE "
        f"{_r1(f'(1.0 - ({total_nulls}) / (CAST(row_count AS DOUBLE) * {ncols})) * 100.0')} END"
    )
    uniqueness = (
        "CASE WHEN row_count < 2 THEN 100.0 ELSE "
        + _r1(
            "greatest(0.0, 100.0 - (CAST(row_count AS DOUBLE) - distinct_rows) "
            "/ row_count * 100.0 * 2.0)"
        )
        + " END"
    )
    if spec.date_cols:
        per, inc = [], []
        for c in spec.date_cols:
            lag = (
                f"CAST(epoch_us(TIMESTAMP '{spec.as_of}') - epoch_us(\"maxd__{c}\") AS DOUBLE)"
                " / 3600000000.0"
            )
            per.append(
                f'CASE WHEN "maxd__{c}" IS NOT NULL THEN least(100.0, greatest(0.0, '
                f"100.0 - {lag} / {_d(spec.freshness_threshold_hours)} * 100.0)) "
                "ELSE 0.0 END"
            )
            inc.append(f'CASE WHEN "maxd__{c}" IS NOT NULL THEN 1 ELSE 0 END')
        fresh_mean = f"({' + '.join(per)}) / ({' + '.join(inc)})"
        freshness = (
            f"CASE WHEN ({' + '.join(inc)}) = 0 THEN 75.0 "
            f"ELSE {_r1(fresh_mean)} END"
        )
    else:
        freshness = "75.0"

    n_checks = len(spec.neg_check_cols) + len(spec.rules)
    if n_checks:
        v = " + ".join(
            [f'"neg__{c}"' for c in spec.neg_check_cols]
            + [f'"rule__{i}"' for i in range(len(spec.rules))]
        )
        consistency = (
            f"CASE WHEN row_count = 0 THEN 90.0 ELSE "
            f"{_r1(f'greatest(0.0, (1.0 - ({v}) / (CAST(row_count AS DOUBLE) * {n_checks})) * 100.0)')} END"
        )
    else:
        consistency = "90.0"

    if spec.numeric_cols:
        ratios, inc = [], []
        for c in spec.numeric_cols:
            iqr = f'("q3__{c}" - "q1__{c}")'
            nn = f'CAST(row_count - "nulls__{c}" AS DOUBLE)'
            ok = (
                f'"q1__{c}" IS NOT NULL AND "q3__{c}" IS NOT NULL AND {iqr} <> 0 AND {nn} > 0'
            )
            ratios.append(f'CASE WHEN {ok} THEN "out__{c}" / {nn} ELSE 0.0 END')
            inc.append(f"CASE WHEN {ok} THEN 1 ELSE 0 END")
        distribution = (
            f"CASE WHEN ({' + '.join(inc)}) = 0 THEN 90.0 ELSE "
            + _r1(
                f"greatest(0.0, 100.0 - ({' + '.join(ratios)}) / ({' + '.join(inc)}) * 500.0)"
            )
            + " END"
        )
    else:
        distribution = "90.0"

    if spec.email_cols or spec.phone_cols:
        vc = " + ".join(
            [f'"emailc__{c}"' for c in spec.email_cols] + [f'"phonec__{c}"' for c in spec.phone_cols]
        )
        vv = " + ".join(
            [f'"emailv__{c}"' for c in spec.email_cols] + [f'"phonev__{c}"' for c in spec.phone_cols]
        )
        validity = (
            f"CASE WHEN ({vc}) = 0 THEN 90.0 ELSE "
            f"{_r1(f'greatest(0.0, (1.0 - CAST({vv} AS DOUBLE) / ({vc})) * 100.0)')} END"
        )
    else:
        validity = "90.0"

    if spec.corr_rules:
        cc = " + ".join(f'"corrc__{i}"' for i in range(len(spec.corr_rules)))
        cv = " + ".join(f'"corrv__{i}"' for i in range(len(spec.corr_rules)))
        correlation = (
            f"CASE WHEN ({cc}) = 0 THEN 90.0 ELSE "
            f"{_r1(f'greatest(0.0, (1.0 - CAST({cv} AS DOUBLE) / ({cc})) * 100.0)')} END"
        )
    else:
        correlation = "90.0"

    volumetry = "80.0"

    if spec.string_cols:
        sc = " + ".join(f'"strc__{c}"' for c in spec.string_cols)
        terms = []
        for c in spec.string_cols:
            pen = (
                f'CASE WHEN "nu__{c}" >= {CASE_VARIANT_MIN} AND "nu__{c}" <= {CASE_VARIANT_MAX} '
                f'AND "nl__{c}" < "nu__{c}" THEN ("nu__{c}" - "nl__{c}") * 10 ELSE 0 END'
            )
            terms.append(f'"ws__{c}" + "fn__{c}" + {pen}')
        sv = " + ".join(f"({t})" for t in terms)
        standardization = (
            f"CASE WHEN ({sc}) = 0 THEN 90.0 ELSE "
            f"{_r1(f'greatest(0.0, least(100.0, (1.0 - CAST({sv} AS DOUBLE) / ({sc})) * 100.0))')} END"
        )
    else:
        standardization = "90.0"

    dims = {
        "completeness": completeness,
        "uniqueness": uniqueness,
        "freshness": freshness,
        "consistency": consistency,
        "distribution": distribution,
        "validity": validity,
        "correlation": correlation,
        "volumetry": volumetry,
        "standardization": standardization,
    }
    selects = [f"CAST({expr} AS DOUBLE) AS {name}" for name, expr in dims.items()]
    glob = " + ".join(f"({dims[d]}) * {_d(w)}" for d, w in WEIGHTS.items())
    selects.append(f"{_r1(glob)} AS global_score")

    if not group_cols:
        ctes = [f"p1 AS (SELECT {', '.join(m)} FROM {table})"]
        from_clause = "p1"
        if spec.numeric_cols:
            ctes.append(f"q AS (SELECT {', '.join(q)} FROM {table})")
            ctes.append(f"o AS (SELECT {', '.join(o)} FROM {table} t, q)")
            from_clause = "p1, q, o"
        return f"WITH {', '.join(ctes)} SELECT {', '.join(selects)} FROM {from_clause}"

    g = ", ".join(f'"{c}"' for c in group_cols)
    using = ", ".join(f'"{c}"' for c in group_cols)
    on = " AND ".join(f't."{c}" = qq."{c}"' for c in group_cols)
    tg = ", ".join(f't."{c}"' for c in group_cols)
    ctes = [f"p1 AS (SELECT {g}, {', '.join(m)} FROM {table} GROUP BY {g})"]
    from_clause = "p1"
    if spec.numeric_cols:
        # the outlier FILTER predicates reference q.* per-row (legal: FILTER is
        # evaluated pre-aggregation), so only the group key needs GROUP BY
        oq = [e.replace('q."', 'qq."') for e in o]
        ctes.append(f"q AS (SELECT {g}, {', '.join(q)} FROM {table} GROUP BY {g})")
        ctes.append(
            f"o AS (SELECT {tg}, {', '.join(oq)} FROM {table} t JOIN q qq ON {on} GROUP BY {tg})"
        )
        from_clause = f"p1 JOIN q USING ({using}) JOIN o USING ({using})"
    return (
        f"WITH {', '.join(ctes)} SELECT {g}, {', '.join(selects)} FROM {from_clause}"
    )
