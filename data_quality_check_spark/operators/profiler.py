"""Fused single-plan quality profiler.

The reference issues ≈ `5 + 2·numeric + 5·string + rules + 2·corr + cols` full-scan
Spark jobs per scoring run (one action per metric — engine.py:439-553). This engine
computes the identical metric set in **at most 3 scans**:

  pass 1  one `df.agg(...)` with every conditional/distinct aggregate fused
  pass 2  one quantile aggregate over all numeric columns (exact or approx)
  pass 3  one conditional-sum aggregate for IQR-fence outlier counts
          (needs pass-2 fences — fundamentally a second scan; skipped when there
          are no numeric columns)

All three are plain Catalyst plans: predicate/column pruning, whole-stage codegen and
partial (map-side) aggregation apply automatically. `profile_grouped` is the same
plan with a `groupBy(partition_cols)` — the per-partition metric tables the
north_rule requires.

Semantics parity notes (re-derived from the reference, never copied):
  * metric definitions per SURVEY.md §2.4 A1-A14; score algebra in `scoring.py`.
  * rule violations use `~F.expr(cond)` with null → not-a-violation, matching
    `df.filter(~F.expr(cond)).count()` (engine.py:445).
  * duplicate rows = count(*) - count(distinct all columns), null-safe via struct
    equality, matching `dropDuplicates().count()` (engine.py:409).
  * distinct counts are exact by default (oracle-checkable); pass
    `exact_distinct=False` for HLL `approx_count_distinct` at 100 TB scale, which is
    what the reference's Spark engine itself uses for column uniqueness
    (engine.py:553).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, functions as F, types as T

from data_quality_check_spark.operators import scoring
from data_quality_check_spark.operators.scoring import (
    ColumnScore,
    TableScore,
)

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


@dataclass
class ProfileConfig:
    table_name: str = "dataset"
    date_columns: list[str] = field(default_factory=list)
    email_columns: list[str] = field(default_factory=list)
    phone_columns: list[str] = field(default_factory=list)
    custom_rules: list[dict] = field(default_factory=list)  # {name, condition, severity, column}
    correlation_rules: list[dict] = field(default_factory=list)  # {col_a, col_b, operator, name, severity}
    freshness_threshold_hours: float = 24.0
    exact_distinct: bool = True
    percentile_accuracy: int = 10_000  # used when exact_distinct quantiles disabled
    exact_percentiles: bool = True
    # >0 excludes numeric columns with fewer non-null values from the
    # quantile/outlier passes (pandas-reference parity: engine.py skips
    # quantiles below 10 non-null). Default 0 = profile every numeric column.
    min_numeric_rows: int = 0


@dataclass
class ProfileResult:
    table_score: TableScore
    metrics: dict  # raw fused-aggregate row, flat {metric_name: value}


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)]


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def _cif(cond: Column) -> Column:
    """count rows where cond is true (null-safe)."""
    return F.count_if(cond)


def _distinct(col: Column, exact: bool) -> Column:
    return F.count_distinct(col) if exact else F.approx_count_distinct(col)


def _email_cols(df: DataFrame, cfg: ProfileConfig) -> list[str]:
    cols = cfg.email_columns or [c for c in df.columns if any(k in c.lower() for k in ("email", "mail"))]
    return [c for c in cols if c in df.columns]


def _phone_cols(df: DataFrame, cfg: ProfileConfig) -> list[str]:
    cols = cfg.phone_columns or [
        c for c in df.columns if any(k in c.lower() for k in ("phone", "tel", "mobile", "gsm"))
    ]
    return [c for c in cols if c in df.columns]


def _negative_check_cols(df: DataFrame) -> list[str]:
    return [c for c in numeric_columns(df) if any(k in c.lower() for k in NEGATIVE_KEYWORDS)]


def validate_rules(df: DataFrame, rules: list[dict]) -> tuple[list[tuple[int, dict]], list[dict]]:
    """Split rules into (index, rule) pairs that analyze against the schema and
    rules that don't. Mirrors the reference's degrade-don't-fail behavior for
    unapplicable rules (engine.py:244-246, engine.py:451) but surfaces the skip as
    an explicit issue instead of a bare `except: pass`. Analysis is driver-only —
    no job runs."""
    valid, invalid = [], []
    for i, rule in enumerate(rules):
        try:
            df.select(F.expr(rule["condition"]).cast("boolean"))
            valid.append((i, rule))
        except Exception:
            invalid.append(rule)
    return valid, invalid


def _runtime_bad_rules(df: DataFrame, rules: list[dict], excluded: set[int]) -> set[int]:
    """Identify analysis-valid rules that throw during execution: one
    try/except-wrapped full-scan count per remaining rule — the reference's
    per-rule cost (engine.py:445), paid only on the already-failing path."""
    valid, _ = validate_rules(df, rules)
    bad: set[int] = set()
    for i, rule in valid:
        if i in excluded:
            continue
        try:
            df.agg(_cif(~F.expr(rule["condition"]))).collect()
        except Exception:
            bad.add(i)
    return bad


def pass1_aggs(
    df: DataFrame, cfg: ProfileConfig, exclude_rules: frozenset[int] = frozenset()
) -> list[Column]:
    """Every global aggregate except quantile-dependent ones, fused into one pass.
    `exclude_rules`: indices of custom rules that failed at RUNTIME (not analysis)
    in a previous attempt — see the degrade loop in `profile`."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]

    # A2 — per-column null counts.
    for c in df.columns:
        aggs.append(_cif(F.col(c).isNull()).alias(f"nulls__{c}"))

    # A3 — full-row distinct count (duplicates = row_count - this). struct() makes
    # the count null-safe: a struct of all columns is itself never null.
    aggs.append(
        _distinct(F.struct(*[F.col(c) for c in df.columns]), cfg.exact_distinct).alias("distinct_rows")
    )

    # A6 — negative-value counts for keyword-named numeric columns.
    for c in _negative_check_cols(df):
        aggs.append(_cif(F.col(c) < 0).alias(f"neg__{c}"))

    # A5 — custom-rule violation counts (rule DSL = Spark SQL expression strings).
    valid_rules, _ = validate_rules(df, cfg.custom_rules)
    for i, rule in valid_rules:
        if i in exclude_rules:
            continue
        aggs.append(_cif(~F.expr(rule["condition"])).alias(f"rule__{i}"))

    # A10 — correlation (two-column invariant) checked/violation counts.
    for i, rule in enumerate(cfg.correlation_rules):
        a, b = F.col(rule["col_a"]), F.col(rule["col_b"])
        both = a.isNotNull() & b.isNotNull()
        viol = (a >= b) if rule.get("operator", "<") == "<" else (a > b)
        aggs.append(_cif(both).alias(f"corrc__{i}"))
        aggs.append(_cif(both & viol).alias(f"corrv__{i}"))

    # A9 — email/phone format validity.
    for c in _email_cols(df, cfg):
        col = F.col(c).cast("string")
        aggs.append(F.count(col).alias(f"emailc__{c}"))
        aggs.append(_cif(col.isNotNull() & ~col.rlike(EMAIL_RE)).alias(f"emailv__{c}"))
    for c in _phone_cols(df, cfg):
        col = F.col(c).cast("string")
        aggs.append(F.count(col).alias(f"phonec__{c}"))
        aggs.append(_cif(col.isNotNull() & ~col.rlike(PHONE_RE)).alias(f"phonev__{c}"))

    # A11-A13 — standardization metrics per string column.
    for c in string_columns(df):
        col = F.col(c)
        folded = F.lower(F.trim(col))
        aggs.append(F.count(col).alias(f"strc__{c}"))
        aggs.append(_cif(col.isNotNull() & (col != F.trim(col))).alias(f"ws__{c}"))
        aggs.append(_cif(folded.isin(FAKE_NULLS)).alias(f"fn__{c}"))
        aggs.append(_distinct(col, cfg.exact_distinct).alias(f"nu__{c}"))
        aggs.append(_distinct(folded, cfg.exact_distinct).alias(f"nl__{c}"))

    # A4 — max timestamp per declared date column. try_to_timestamp, NOT
    # to_timestamp: under Spark 4's default ANSI mode a single malformed value
    # in a detector-admitted date column (70% parse-rate threshold) would abort
    # the whole fused pass. Emitted as epoch MICROSECONDS (a long), because
    # collect() renders TimestampType through the driver OS timezone
    # (datetime.fromtimestamp) — epoch math is timezone-free AFTER the parse.
    # The parse itself interprets wall-clock strings in
    # spark.sql.session.timeZone, and the freshness `now` is naive UTC — so
    # the session must run UTC (session.get_spark pins it; a foreign session
    # on e.g. Europe/Paris would skew every lag by the zone offset).
    for c in cfg.date_columns:
        if c in df.columns:
            aggs.append(
                F.unix_micros(F.max(F.try_to_timestamp(F.col(c)))).alias(f"maxd__{c}")
            )

    # A14 — distinct count per column for per-column uniqueness scores
    # (string columns reuse nu__; add the rest).
    strset = set(string_columns(df))
    for c in df.columns:
        if c not in strset:
            aggs.append(_distinct(F.col(c), cfg.exact_distinct).alias(f"nd__{c}"))

    return aggs


def quantile_aggs(df: DataFrame, cfg: ProfileConfig) -> list[Column]:
    """Pass 2: (p25, p75) for every numeric column in one aggregate.

    One array-percentile per column — a single per-partition value buffer serves
    both quantiles (~1.7x faster than separate p25/p75 aggregates); unpack the
    2-element array with `unpack_quantile_row`."""
    ps = F.array(F.lit(0.25), F.lit(0.75))
    fn = F.percentile if cfg.exact_percentiles else (
        lambda c, p: F.percentile_approx(c, p, F.lit(cfg.percentile_accuracy))
    )
    return [fn(F.col(c), ps).alias(f"q__{c}") for c in numeric_columns(df)]


def unpack_quantile_row(qdf: DataFrame, num_cols: list[str]) -> DataFrame:
    return qdf.select(
        *[F.col(f"q__{c}")[0].alias(f"q1__{c}") for c in num_cols],
        *[F.col(f"q__{c}")[1].alias(f"q3__{c}") for c in num_cols],
    )


def outlier_aggs(df: DataFrame, fences: dict[str, tuple[float, float]]) -> list[Column]:
    """Pass 3: IQR-fence outlier counts for the columns whose IQR != 0."""
    aggs = []
    for c, (lo, hi) in fences.items():
        aggs.append(_cif((F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi))).alias(f"out__{c}"))
    return aggs


def fences_from_quantiles(qrow: dict, num_cols: list[str]) -> dict[str, tuple[float, float]]:
    fences = {}
    for c in num_cols:
        q1, q3 = qrow.get(f"q1__{c}"), qrow.get(f"q3__{c}")
        if q1 is None or q3 is None:
            continue
        iqr = q3 - q1
        if iqr == 0:
            continue
        fences[c] = (q1 - IQR_FENCE_K * iqr, q3 + IQR_FENCE_K * iqr)
    return fences


def profile(df: DataFrame, cfg: ProfileConfig | None = None, now: datetime | None = None) -> ProfileResult:
    """Profile a table in ≤3 Spark jobs; returns TableScore + the raw metric row."""
    cfg = cfg or ProfileConfig()
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    # Degrade-don't-fail for rules that ANALYZE but fail at RUNTIME (common
    # under Spark 4 ANSI: e.g. `cast(code as int) < 500` over one non-numeric
    # value). The reference paid one try/except-wrapped job per rule always
    # (engine.py:244-246); we keep the fused single pass and only on failure
    # probe rules individually to find and exclude the offenders, then retry.
    excluded: set[int] = set()
    while True:
        try:
            m = df.agg(*pass1_aggs(df, cfg, frozenset(excluded))).collect()[0].asDict()
            break
        except Exception:
            bad = _runtime_bad_rules(df, cfg.custom_rules, excluded)
            if not bad:
                raise  # not a rule problem — surface the real error
            excluded |= bad

    num_cols = numeric_columns(df)
    if cfg.min_numeric_rows > 0:
        # pandas-reference parity knob (engine.py:455-459 skips quantiles for
        # columns with <10 non-null values): pass 1 already counted nulls, so
        # the sparse-column exclusion costs nothing extra
        num_cols = [
            c
            for c in num_cols
            if m["row_count"] - m[f"nulls__{c}"] >= cfg.min_numeric_rows
        ]
    fences: dict[str, tuple[float, float]] = {}
    if num_cols:
        qrow = unpack_quantile_row(df.agg(*quantile_aggs(df, cfg)), num_cols).collect()[0].asDict()
        m.update(qrow)
        fences = fences_from_quantiles(qrow, num_cols)
        if fences:
            orow = df.agg(*outlier_aggs(df, fences)).collect()[0].asDict()
            m.update(orow)

    return ProfileResult(table_score=_assemble(df, cfg, m, fences, now), metrics=m)


def _assemble(
    df: DataFrame, cfg: ProfileConfig, m: dict, fences: dict, now: datetime
) -> TableScore:
    row_count = m["row_count"]
    cols = df.columns
    r = TableScore(
        table_name=cfg.table_name,
        row_count=row_count,
        col_count=len(cols),
        custom_rules=cfg.custom_rules,
    )
    issues = r.issues

    # completeness
    total_nulls = sum(m[f"nulls__{c}"] for c in cols)
    for c in cols:
        pct = m[f"nulls__{c}"] / row_count * 100 if row_count else 0.0
        if pct > 20:
            issues.append(
                {
                    "dimension": "completeness",
                    "severity": "high" if pct > 50 else "medium",
                    "column": c,
                    "message": f"{pct:.1f}% null values ({m[f'nulls__{c}']:,}/{row_count:,})",
                }
            )
    r.completeness = scoring.completeness_score(total_nulls, row_count, len(cols)) if row_count else 0.0

    # uniqueness — clamp at 0: in approx mode (exact_distinct=False) the HLL
    # estimate can exceed row_count, which would otherwise push the score >100
    dup = max(0, row_count - m["distinct_rows"])
    dup_pct = dup / row_count * 100 if row_count else 0.0
    if dup_pct > 5:
        issues.append(
            {
                "dimension": "uniqueness",
                "severity": "high" if dup_pct > 20 else "medium",
                "column": "all",
                "message": f"{dup:,} duplicate rows ({dup_pct:.1f}%)",
            }
        )
    r.uniqueness = scoring.uniqueness_score(dup, row_count)

    # freshness — epoch-microsecond arithmetic on both sides (timezone-free;
    # `now` is naive UTC by contract of `profile`)
    now_us = now.replace(tzinfo=timezone.utc).timestamp() * 1e6
    lags = []
    for c in cfg.date_columns:
        maxd = m.get(f"maxd__{c}")
        if maxd is None:
            continue
        lag = (now_us - maxd) / 3_600_000_000.0
        lags.append(lag)
        if lag > cfg.freshness_threshold_hours:
            issues.append(
                {
                    "dimension": "freshness",
                    "severity": "high" if lag > cfg.freshness_threshold_hours * 3 else "medium",
                    "column": c,
                    "message": f"latest data is {lag:.0f}h old",
                }
            )
    r.freshness = scoring.freshness_score(lags, cfg.freshness_threshold_hours)

    # consistency: negative keyword columns + custom rules
    v = c_ = 0
    for c in _negative_check_cols(df):
        neg = m[f"neg__{c}"]
        v += neg
        c_ += row_count
        if neg > 0:
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": "high",
                    "column": c,
                    "message": f"{neg:,} negative values",
                }
            )
    for i, rule in enumerate(cfg.custom_rules):
        if f"rule__{i}" not in m:  # failed analysis OR failed at runtime → skipped
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": "low",
                    "column": rule.get("column", "?"),
                    "message": f"rule not evaluable on this dataset: {rule.get('name', '')}",
                }
            )
            continue
        n = m[f"rule__{i}"]
        v += n
        c_ += row_count
        if n > 0:
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": rule.get("severity", "medium"),
                    "column": rule.get("column", "custom"),
                    "message": f"rule '{rule.get('name', '')}': {n:,} violations",
                }
            )
    r.consistency = scoring.ratio_score(v, c_)

    # distribution
    ratios = []
    for c in fences:
        nn = row_count - m[f"nulls__{c}"]
        if nn == 0:
            continue
        ratio = m[f"out__{c}"] / nn
        ratios.append(ratio)
        if ratio > 0.05:
            issues.append(
                {
                    "dimension": "distribution",
                    "severity": "medium",
                    "column": c,
                    "message": f"{m[f'out__{c}']:,} extreme outliers ({ratio * 100:.1f}%)",
                }
            )
    r.distribution = scoring.distribution_score(ratios)

    # validity
    v = c_ = 0
    for c in _email_cols(df, cfg):
        total, inv = m[f"emailc__{c}"], m[f"emailv__{c}"]
        c_ += total
        v += inv
        if inv > 0 and total:
            pct = inv / total * 100
            issues.append(
                {
                    "dimension": "validity",
                    "severity": "high" if pct > 20 else "medium",
                    "column": c,
                    "message": f"{inv:,} invalid emails ({pct:.1f}%)",
                }
            )
    for c in _phone_cols(df, cfg):
        total, inv = m[f"phonec__{c}"], m[f"phonev__{c}"]
        c_ += total
        v += inv
        if inv > 0:
            issues.append(
                {
                    "dimension": "validity",
                    "severity": "medium",
                    "column": c,
                    "message": f"{inv:,} invalid phone numbers",
                }
            )
    r.validity = scoring.ratio_score(v, c_)

    # correlation
    v = c_ = 0
    for i, rule in enumerate(cfg.correlation_rules):
        c_ += m[f"corrc__{i}"]
        viol = m[f"corrv__{i}"]
        v += viol
        if viol > 0:
            issues.append(
                {
                    "dimension": "correlation",
                    "severity": rule.get("severity", "high"),
                    "column": f"{rule['col_a']}/{rule['col_b']}",
                    "message": f"{viol:,} violations of '{rule.get('name', '')}'",
                }
            )
    r.correlation = scoring.ratio_score(v, c_)

    r.volumetry = scoring.VOLUMETRY_CONSTANT

    # standardization
    v = c_ = 0
    for c in string_columns(df):
        total = m[f"strc__{c}"]
        if total == 0:
            continue
        c_ += total
        ws, fn = m[f"ws__{c}"], m[f"fn__{c}"]
        v += ws + fn
        if ws > 0:
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "low",
                    "column": c,
                    "message": f"{ws:,} values with stray whitespace",
                }
            )
        if fn > 0:
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "medium",
                    "column": c,
                    "message": f"{fn:,} fake nulls (N/A, null, - …)",
                }
            )
        nu, nl = m[f"nu__{c}"], m[f"nl__{c}"]
        if CASE_VARIANT_MIN <= nu <= CASE_VARIANT_MAX and nl < nu:
            v += (nu - nl) * 10
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "medium",
                    "column": c,
                    "message": f"inconsistent casing: {nu} variants for {nl} distinct values",
                }
            )
    r.standardization = scoring.ratio_score(v, c_)

    r.global_score = scoring.global_score(
        {d: getattr(r, d) for d in scoring.DIMENSIONS}
    )

    # per-column scores (A19) from the same fused row — zero extra jobs.
    strset = set(string_columns(df))
    for c in cols:
        cp = round((1 - m[f"nulls__{c}"] / max(row_count, 1)) * 100, 1)
        nd = m[f"nu__{c}"] if c in strset else m[f"nd__{c}"]
        uq = min(100.0, round(nd / max(row_count, 1) * 100, 1))  # HLL can overshoot
        r.columns.append(
            ColumnScore(name=c, completeness=cp, uniqueness=uq, overall=scoring.column_overall(cp, uq))
        )
    return r


def profile_grouped(
    df: DataFrame,
    group_cols: list[str],
    cfg: ProfileConfig | None = None,
) -> DataFrame:
    """Per-group metric table: same fused aggregates, one row per group.

    Skips quantile-dependent distribution metrics (those need per-group fences;
    `plans.quality_scores.grouped_scores_df` is the full quantile-inclusive
    variant, DuckDB-oracle-checked via `grouped_scores_events_by_type`). Used for
    the per-partition keep/drop/scrub metric tables of the filter pipeline.
    """
    cfg = cfg or ProfileConfig()
    data_cols = [c for c in df.columns if c not in group_cols]
    sub = df.select(*group_cols, *data_cols)
    # Re-run agg builders against the projected frame so group keys are excluded.
    proj = sub.drop(*group_cols)
    aggs = pass1_aggs(proj, cfg)
    return sub.groupBy(*group_cols).agg(*aggs)
