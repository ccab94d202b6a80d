"""`profile()`: the table profiler behind `run_scoring`.

The reference issues ≈ `5 + 2·numeric + 5·string + rules + 2·corr + cols` full-scan
Spark jobs per scoring run (one action per metric — engine.py:439-553). `profile()`
instead builds a `ScoreSpec` from the table and its `ProfileConfig` and collects
ONE row of the `plans.quality_scores` plan — the same plan the DuckDB-checked
`profile_scores_*` queries run, in at most 3 scans. That row carries the raw
metrics, the 9 dimension scores and `global_score`; the scores are read from it
as-is. The driver only derives the issues list and the per-column scores from
the metric columns of the same row.

Semantics parity notes (re-derived from the reference, never copied):
  * metric definitions per SURVEY.md §2.4 A1-A14; score algebra in
    `plans.quality_scores._score_exprs`.
  * rule violations use `~F.expr(cond)` with null → not-a-violation, matching
    `df.filter(~F.expr(cond)).count()` (engine.py:445).
  * duplicate rows = count(*) - count(distinct all columns), null-safe via struct
    equality, matching `dropDuplicates().count()` (engine.py:409).
  * distinct counts are exact (oracle-checkable).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, functions as F

from data_quality_check_spark.operators.scoring import (
    DIMENSIONS,
    ColumnScore,
    TableScore,
    column_overall,
)
# EMAIL_RE / PHONE_RE / FAKE_NULLS are imported for re-export: the metric
# definitions live with the plan, and callers still read them from here
from data_quality_check_spark.plans.quality_scores import (  # noqa: F401
    CASE_VARIANT_MAX,
    CASE_VARIANT_MIN,
    EMAIL_RE,
    FAKE_NULLS,
    PHONE_RE,
    ScoreSpec,
    _score_exprs,
    metrics_df,
)


@dataclass
class ProfileConfig:
    table_name: str = "dataset"
    date_columns: list[str] = field(default_factory=list)
    email_columns: list[str] = field(default_factory=list)
    phone_columns: list[str] = field(default_factory=list)
    custom_rules: list[dict] = field(default_factory=list)  # {name, condition, severity, column}
    correlation_rules: list[dict] = field(default_factory=list)  # {col_a, col_b, operator, name, severity}
    freshness_threshold_hours: float = 24.0


@dataclass
class ProfileResult:
    table_score: TableScore
    metrics: dict  # raw fused-aggregate row, flat {metric_name: value}
    spec: ScoreSpec  # what the plan measured: the evaluable rules only, renumbered


def _email_cols(df: DataFrame, cfg: ProfileConfig) -> list[str]:
    cols = cfg.email_columns or [c for c in df.columns if any(k in c.lower() for k in ("email", "mail"))]
    return [c for c in cols if c in df.columns]


def _phone_cols(df: DataFrame, cfg: ProfileConfig) -> list[str]:
    cols = cfg.phone_columns or [
        c for c in df.columns if any(k in c.lower() for k in ("phone", "tel", "mobile", "gsm"))
    ]
    return [c for c in cols if c in df.columns]


def validate_rules(df: DataFrame, rules: list[dict]) -> list[tuple[int, dict]]:
    """The (index, rule) pairs whose condition analyzes against the schema.
    Mirrors the reference's degrade-don't-fail behavior for unapplicable rules
    (engine.py:244-246, engine.py:451) but surfaces the skip as an explicit
    issue instead of a bare `except: pass`. Analysis is driver-only — no job
    runs."""
    valid = []
    for i, rule in enumerate(rules):
        try:
            df.select(F.expr(rule["condition"]).cast("boolean"))
            valid.append((i, rule))
        except Exception:
            pass
    return valid


def _runtime_bad_rules(df: DataFrame, valid: list[tuple[int, dict]]) -> set[int]:
    """Indices of the analysis-valid rules that throw during execution: one
    try/except-wrapped full-scan count per rule — the reference's per-rule cost
    (engine.py:445), paid only on the already-failing path."""
    bad: set[int] = set()
    for i, rule in valid:
        try:
            df.agg(F.count_if(~F.expr(rule["condition"]))).collect()
        except Exception:
            bad.add(i)
    return bad


def profile(df: DataFrame, cfg: ProfileConfig | None = None, now: datetime | None = None) -> ProfileResult:
    """Profile a table in ≤3 Spark jobs; returns TableScore + the raw metric row.

    `now` is the freshness clock, naive UTC (default: the current time)."""
    cfg = cfg or ProfileConfig()
    now = (now or datetime.now(timezone.utc)).replace(tzinfo=None)
    spec = ScoreSpec.from_df(
        df,
        email_cols=_email_cols(df, cfg),
        phone_cols=_phone_cols(df, cfg),
        date_cols=[c for c in cfg.date_columns if c in df.columns],
        corr_rules=cfg.correlation_rules,
        as_of=now.isoformat(sep=" "),
        freshness_threshold_hours=cfg.freshness_threshold_hours,
    )
    spec.distinct_cols = [c for c in spec.columns if c not in spec.string_cols]

    # Degrade-don't-fail for rules that ANALYZE but fail at RUNTIME (common
    # under Spark 4 ANSI: e.g. `cast(code as int) < 500` over one non-numeric
    # value). The reference paid one try/except-wrapped job per rule always
    # (engine.py:244-246); we keep the fused single pass and only on failure
    # probe rules individually to find and exclude the offenders, then retry.
    valid = validate_rules(df, cfg.custom_rules)
    while True:
        spec.rules = [rule for _, rule in valid]
        try:
            row = metrics_df(df, spec).select("*", *_score_exprs(spec)).collect()[0].asDict()
            break
        except Exception:
            bad = _runtime_bad_rules(df, valid)
            if not bad:
                raise  # not a rule problem — surface the real error
            valid = [(i, rule) for i, rule in valid if i not in bad]

    scores = {d: row.pop(d) for d in (*DIMENSIONS, "global_score")}
    # the plan numbers the evaluable rules 0..k-1; name each count by its
    # rule's index in cfg.custom_rules, so skipped rules leave a gap
    rule_names = {f"rule__{k}": f"rule__{i}" for k, (i, _) in enumerate(valid)}
    m = {rule_names.get(name, name): v for name, v in row.items()}

    rows = m["row_count"]
    r = TableScore(
        table_name=cfg.table_name,
        row_count=rows,
        col_count=len(df.columns),
        custom_rules=cfg.custom_rules,
        issues=_issues(spec, cfg, m, now),
        **scores,
    )
    # per-column scores (A19) from the same row — zero extra jobs
    for c in spec.columns:
        cp = round((1 - m[f"nulls__{c}"] / max(rows, 1)) * 100, 1)
        nd = m[f"nd__{c}"] if c in spec.distinct_cols else m[f"nu__{c}"]
        uq = round(nd / max(rows, 1) * 100, 1)
        r.columns.append(
            ColumnScore(name=c, completeness=cp, uniqueness=uq, overall=column_overall(cp, uq))
        )
    return ProfileResult(table_score=r, metrics=m, spec=spec)


def _issues(spec: ScoreSpec, cfg: ProfileConfig, m: dict, now: datetime) -> list[dict]:
    """The issues list, read off the metric columns of the profile row, in
    dimension order (thresholds per the reference's per-dimension checks)."""
    out: list[dict] = []

    def add(dimension: str, severity: str, column: str, message: str) -> None:
        out.append(
            {"dimension": dimension, "severity": severity, "column": column, "message": message}
        )

    rows = m["row_count"]
    for c in spec.columns:
        n = m[f"nulls__{c}"]
        pct = n / rows * 100 if rows else 0.0
        if pct > 20:
            sev = "high" if pct > 50 else "medium"
            add("completeness", sev, c, f"{pct:.1f}% null values ({n:,}/{rows:,})")

    dup = rows - m["distinct_rows"]
    dup_pct = dup / rows * 100 if rows else 0.0
    if dup_pct > 5:
        sev = "high" if dup_pct > 20 else "medium"
        add("uniqueness", sev, "all", f"{dup:,} duplicate rows ({dup_pct:.1f}%)")

    now_us = (now - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    limit = cfg.freshness_threshold_hours
    for c in spec.date_cols:
        if m[f"maxd__{c}"] is not None:
            lag = (now_us - m[f"maxd__{c}"]) / 3.6e9
            if lag > limit:
                sev = "high" if lag > limit * 3 else "medium"
                add("freshness", sev, c, f"latest data is {lag:.0f}h old")

    for c in spec.neg_check_cols:
        if m[f"neg__{c}"] > 0:
            add("consistency", "high", c, f"{m[f'neg__{c}']:,} negative values")
    for i, rule in enumerate(cfg.custom_rules):
        name = rule.get("name", "")
        n = m.get(f"rule__{i}")
        if n is None:  # failed analysis OR failed at runtime → skipped
            msg = f"rule not evaluable on this dataset: {name}"
            add("consistency", "low", rule.get("column", "?"), msg)
        elif n > 0:
            sev, col = rule.get("severity", "medium"), rule.get("column", "custom")
            add("consistency", sev, col, f"rule '{name}': {n:,} violations")

    for c in spec.numeric_cols:
        q1, q3, nn = m[f"q1__{c}"], m[f"q3__{c}"], rows - m[f"nulls__{c}"]
        if q1 is None or q3 is None or q3 == q1 or nn == 0:
            continue
        out_n = m[f"out__{c}"]
        if out_n / nn > 0.05:
            add("distribution", "medium", c, f"{out_n:,} extreme outliers ({out_n / nn * 100:.1f}%)")

    for c in spec.email_cols:
        total, inv = m[f"emailc__{c}"], m[f"emailv__{c}"]
        if inv > 0 and total:
            pct = inv / total * 100
            sev = "high" if pct > 20 else "medium"
            add("validity", sev, c, f"{inv:,} invalid emails ({pct:.1f}%)")
    for c in spec.phone_cols:
        if m[f"phonev__{c}"] > 0:
            add("validity", "medium", c, f"{m[f'phonev__{c}']:,} invalid phone numbers")

    for i, rule in enumerate(spec.corr_rules):
        viol = m[f"corrv__{i}"]
        if viol > 0:
            sev, col = rule.get("severity", "high"), f"{rule['col_a']}/{rule['col_b']}"
            add("correlation", sev, col, f"{viol:,} violations of '{rule.get('name', '')}'")

    for c in spec.string_cols:
        if m[f"strc__{c}"] == 0:
            continue
        ws, fn, nu, nl = m[f"ws__{c}"], m[f"fn__{c}"], m[f"nu__{c}"], m[f"nl__{c}"]
        if ws > 0:
            add("standardization", "low", c, f"{ws:,} values with stray whitespace")
        if fn > 0:
            add("standardization", "medium", c, f"{fn:,} fake nulls (N/A, null, - …)")
        if CASE_VARIANT_MIN <= nu <= CASE_VARIANT_MAX and nl < nu:
            msg = f"inconsistent casing: {nu} variants for {nl} distinct values"
            add("standardization", "medium", c, msg)
    return out
