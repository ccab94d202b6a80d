"""Result records, dimension weights and the `run_scoring` facade.

Formula parity with the reference (semantics only, re-derived — see SURVEY.md §2.4
A18/A19; reference: engine.py:353-357 weights, engine.py:387-389 global score,
engine.py:405/415/426-431/452/473/499/518/543 per-dimension formulas,
engine.py:555 per-column combiner). The 9 dimension scores and the global score
are computed Spark-side, as Column expressions in `plans.quality_scores`; what
stays here is the `WEIGHTS` table that plan reads, the per-column combiner
`profile()` applies to the metric row, and plain-float twins of the global and
freshness formulas that the tests check the plan against.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

# Weighted contribution of each dimension to the global score (engine.py:119-123).
WEIGHTS: dict[str, float] = {
    "completeness": 0.20,
    "consistency": 0.15,
    "validity": 0.15,
    "uniqueness": 0.12,
    "freshness": 0.10,
    "distribution": 0.08,
    "correlation": 0.08,
    "volumetry": 0.07,
    "standardization": 0.05,
}

DIMENSIONS = tuple(WEIGHTS)

@dataclass
class ColumnScore:
    name: str
    completeness: float = 0.0
    uniqueness: float = 0.0
    overall: float = 0.0
    issues: list = field(default_factory=list)


@dataclass
class TableScore:
    table_name: str
    row_count: int
    col_count: int
    engine: str = "pyspark-fused"
    completeness: float = 0.0
    uniqueness: float = 0.0
    freshness: float = 0.0
    consistency: float = 0.0
    distribution: float = 0.0
    validity: float = 0.0
    correlation: float = 0.0
    volumetry: float = 0.0
    standardization: float = 0.0
    global_score: float = 0.0
    columns: list = field(default_factory=list)
    issues: list = field(default_factory=list)
    scored_at: str = field(default_factory=lambda: datetime.now().isoformat())
    custom_rules: list = field(default_factory=list)


def freshness_score(lag_hours: list[float], threshold_hours: float) -> float:
    """Mean over date columns of max(0, 100 - lag/threshold*100), capped at 100.

    The cap is ours, not the reference's (engine.py:426-431 has no upper
    clamp): future-dated rows give a negative lag and would score >100,
    breaking the documented [0, 100] bounds property. For any past-dated data
    the cap is inactive and the formulas agree exactly."""
    scores = [
        min(100.0, max(0.0, 100.0 - (lag / threshold_hours) * 100.0))
        for lag in lag_hours
    ]
    if not scores:
        return 75.0  # neutral default: no date column to measure
    return round(sum(scores) / len(scores), 1)


def global_score(dims: dict[str, float]) -> float:
    return round(sum(dims[d] * w for d, w in WEIGHTS.items()), 1)


def column_overall(completeness: float, uniqueness: float) -> float:
    """0.6·completeness + 0.4·min(1.5·uniqueness, 100), capped at 100."""
    return min(round(completeness * 0.6 + min(uniqueness * 1.5, 100.0) * 0.4, 1), 100.0)


def run_scoring(df, table_name="dataset", custom_rules=None,
                freshness_threshold_hours=24, spark=None, now=None):
    """Facade with the reference `run_scoring` signature (engine.py:564-612):
    auto-detect column roles from a bounded sample, then run `profile()`.

    Unlike the reference there is no pandas engine and no driver-side fallback —
    the metrics and the scores are one Spark plan. `now` pins the freshness
    clock for determinism.
    """
    from data_quality_check_spark.operators.detector import detect_config
    from data_quality_check_spark.operators.profiler import ProfileConfig, profile

    detected = detect_config(df)
    cfg = ProfileConfig(
        table_name=table_name,
        date_columns=detected["date_columns"],
        email_columns=detected["email_columns"],
        phone_columns=detected["phone_columns"],
        correlation_rules=detected["correlation_rules"],
        custom_rules=custom_rules or [],
        freshness_threshold_hours=freshness_threshold_hours,
    )
    return profile(df, cfg, now=now).table_score
