"""Named queries + DuckDB oracle SQL for the driver contract (`__spark_entry__.py`).

Each entry exercises one or more operators from SURVEY.md §2 over the driver's
star-schema tables. Spark side = DataFrame API through the package's operators;
oracle side = ANSI SQL for DuckDB with identical semantics and column names.

Float determinism notes (the driver hashes values exactly):
  * money aggregates go through DECIMAL so partial-aggregation order can't change
    the result; final values are `round(…, k)` then cast to double;
  * means are computed as exact-decimal (or integer) sums followed by ONE double
    division, identical in both engines;
  * timestamps are compared via integer microseconds (unix_micros / epoch_us).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_quality_check_spark import oracles as _OR
from data_quality_check_spark.operators import profiler as P
from data_quality_check_spark.plans.quality_scores import (
    ScoreSpec,
    scores_df,
    scores_duck_sql,
)
from data_quality_check_spark.sources.commit import content_key, publish_dir

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
AS_OF = "2026-01-01 00:00:00"

QueryFn = Callable[[SparkSession, str], DataFrame]
# oracle: a static SQL string, a zero-arg callable resolved lazily at
# oracle_sql() time (for twins that embed data-derived literals or materialize
# scratch parquet — see oracles.py), or None for rows-only driver checks.
OracleSpec = str | Callable[[], str] | None
_REGISTRY: dict[str, tuple[QueryFn, OracleSpec]] = {}


def register(name: str, sql: OracleSpec):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def queries() -> dict[str, QueryFn]:
    return {k: fn for k, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        k: (sql() if callable(sql) else sql)
        for k, (_, sql) in _REGISTRY.items()
        if sql is not None
    }


def _dec(c: str, prec: int = 15, scale: int = 2) -> F.Column:
    return F.col(c).cast(f"decimal({prec},{scale})")


# ───────────── flagship: TPC-H Q1-style pricing summary (A1/A18-style fused agg,
# group-by aggregation with partial/final hash agg; SURVEY.md §2.4) ─────────────

_PRICING_SQL = f"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(15,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
         CAST(1.0 - l_discount AS DECIMAL(6,4)) AS om_disc,
         CAST(1.0 + l_tax AS DECIMAL(6,4)) AS op_tax
  FROM lineitem
)
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(qty), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(price), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(price * om_disc), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(price * om_disc * op_tax), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(qty) AS DOUBLE) / count(*), 6) AS avg_qty,
       count(*) AS count_order
FROM li GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_SQL)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    om_disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(6,4)")
    op_tax = (F.lit(1.0) + F.col("l_tax")).cast("decimal(6,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(qty), 2).cast("double").alias("sum_qty"),
        F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * om_disc), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(price * om_disc * op_tax), 2).cast("double").alias("sum_charge"),
        F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ───────────── full profiling scores, all-Spark vs generated oracle ─────────────

_LINEITEM_RULES = [
    {"name": "qty range", "condition": "l_quantity BETWEEN 1 AND 50", "severity": "high"},
    {"name": "disc range", "condition": "l_discount BETWEEN 0 AND 0.10", "severity": "medium"},
]


def _spec_overrides(table: str) -> dict:
    return {
        "customer": {},
        "lineitem": {"date_cols": ["l_shipdate"], "rules": _LINEITEM_RULES},
        "events": {"date_cols": ["ts"]},
        "documents": {},
        "orders": {"date_cols": ["o_orderdate"]},
    }[table]


def _profile_scores_query(table: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        path = os.path.join(sf_dir, f"{table}.parquet")
        spec = ScoreSpec.from_parquet(path, as_of=AS_OF, **_spec_overrides(table))
        return scores_df(t(spark, sf_dir, table), spec)

    spec = ScoreSpec.from_parquet(
        os.path.join(ORACLE_SF_DIR, f"{table}.parquet"), as_of=AS_OF, **_spec_overrides(table)
    )
    return fn, scores_duck_sql(table, spec)


for _table in ["customer", "lineitem", "events", "documents", "orders"]:
    _fn, _sql = _profile_scores_query(_table)
    _REGISTRY[f"profile_scores_{_table}"] = (_fn, _sql)


# ───────────── per-group score table (north rule: per-partition metrics) ─────────────

_EVT_GROUP = ["event_type"]
_EVT_RULES = [{"name": "value_cap", "condition": "value <= 1000000000.0", "severity": "low"}]


def _events_grouped_spec() -> ScoreSpec:
    spec = ScoreSpec.from_parquet(
        os.path.join(ORACLE_SF_DIR, "events.parquet"),
        as_of=AS_OF,
        date_cols=["ts"],
        rules=_EVT_RULES,
    )
    # group keys are dimensions, not measured columns
    for attr in ("columns", "numeric_cols", "string_cols", "neg_check_cols", "date_cols"):
        setattr(spec, attr, [c for c in getattr(spec, attr) if c not in _EVT_GROUP])
    return spec


@register(
    "grouped_scores_events_by_type",
    scores_duck_sql("events", _events_grouped_spec(), group_cols=_EVT_GROUP),
)
def q_grouped_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.plans.quality_scores import grouped_scores_df

    return grouped_scores_df(t(spark, sf_dir, "events"), _EVT_GROUP, _events_grouped_spec())


# ───────────── A2: batched per-column null counts, single pass ─────────────

_CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

_NULLS_SQL = "SELECT count(*) AS row_count, " + ", ".join(
    f'count(*) FILTER (WHERE "{c}" IS NULL) AS "nulls__{c}"' for c in _CUSTOMER_COLS
) + " FROM customer"


@register("null_counts_customer", _NULLS_SQL)
def q_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "customer")
    # the SAME static column list as the oracle SQL — df.columns would
    # silently desynchronize the two sides if the fixture ever grew a column
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        *[F.count_if(F.col(c).isNull()).alias(f"nulls__{c}") for c in _CUSTOMER_COLS],
    )


# ───────────── A3: full-row duplicate stats ─────────────

_DUP_SQL = """
SELECT count(*) AS row_count,
       count(DISTINCT (doc_id, text, lang, source, n_chars)) AS distinct_rows,
       count(*) - count(DISTINCT (doc_id, text, lang, source, n_chars)) AS duplicate_rows
FROM documents
"""


@register("duplicate_stats_documents", _DUP_SQL)
def q_duplicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    rows = F.count(F.lit(1))
    distinct = F.count_distinct(F.struct(*[F.col(c) for c in df.columns]))
    return df.agg(
        rows.alias("row_count"),
        distinct.alias("distinct_rows"),
        (rows - distinct).alias("duplicate_rows"),
    )


# ───────────── A5/A6: fused rule-violation counts (rule DSL via F.expr) ─────────────

_RULESET = [
    ("qty_le_50", "l_quantity <= 50", "medium"),
    ("disc_le_10", "l_discount <= 0.10", "medium"),
    ("price_pos", "l_extendedprice > 0", "high"),
    ("tax_le_8", "l_tax <= 0.08", "low"),
    ("ship_before_2030", "l_shipdate < TIMESTAMP '2030-01-01 00:00:00'", "low"),
]

_RULES_SQL = "SELECT count(*) AS row_count, " + ", ".join(
    f"count(*) FILTER (WHERE NOT ({cond})) AS {name}" for name, cond, _ in _RULESET
) + " FROM lineitem"


@register("rule_violations_lineitem", _RULES_SQL)
def q_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "lineitem")
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        *[F.count_if(~F.expr(cond)).alias(name) for name, cond, _ in _RULESET],
    )


# ───────────── A17: severity histogram of rule violations ─────────────

_SEV_SQL = "WITH v AS (" + _RULES_SQL + ") SELECT * FROM (" + " UNION ALL ".join(
    f"SELECT '{sev}' AS severity, ("
    + " + ".join(name for name, _, s in _RULESET if s == sev)
    + ") AS violations FROM v"
    for sev in ["high", "medium", "low"]
) + ")"


@register("severity_histogram_lineitem", _SEV_SQL)
def q_severity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = q_rule_violations(spark, sf_dir)
    stack = ", ".join(f"'{sev}', {name}" for name, _, sev in _RULESET)
    long = counts.select(
        F.expr(f"stack({len(_RULESET)}, {stack}) as (severity, violations)")
    )
    return long.groupBy("severity").agg(F.sum("violations").alias("violations"))


# ───────────── A7/A8: exact quantiles + IQR-fence outlier counts ─────────────

_LI_NUM = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_OUTLIER_SQL = (
    "WITH q AS (SELECT "
    + ", ".join(
        f'quantile_cont("{c}", 0.25) AS "q1__{c}", quantile_cont("{c}", 0.75) AS "q3__{c}"'
        for c in _LI_NUM
    )
    + " FROM lineitem) SELECT "
    + ", ".join(
        f'CAST(round(any_value("q1__{c}"), 6) AS DOUBLE) AS "q1r__{c}", '
        f'CAST(round(any_value("q3__{c}"), 6) AS DOUBLE) AS "q3r__{c}", '
        f'count(*) FILTER (WHERE t."{c}" < q."q1__{c}" - 3.0*(q."q3__{c}"-q."q1__{c}") '
        f'OR t."{c}" > q."q3__{c}" + 3.0*(q."q3__{c}"-q."q1__{c}")) AS "out__{c}", '
        f'count(t."{c}") AS "nn__{c}"'
        for c in _LI_NUM
    )
    + " FROM lineitem t, q"
)


@register("outlier_stats_lineitem", _OUTLIER_SQL)
def q_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "lineitem")
    ps = F.array(F.lit(0.25), F.lit(0.75))
    q = df.agg(*[F.percentile(F.col(c), ps).alias(f"q__{c}") for c in _LI_NUM]).select(
        *[F.col(f"q__{c}")[0].alias(f"q1__{c}") for c in _LI_NUM],
        *[F.col(f"q__{c}")[1].alias(f"q3__{c}") for c in _LI_NUM],
    )
    aggs = []
    for c in _LI_NUM:
        q1, q3 = F.col(f"q1__{c}"), F.col(f"q3__{c}")
        iqr = q3 - q1
        aggs.append(F.round(F.first(q1), 6).cast("double").alias(f"q1r__{c}"))
        aggs.append(F.round(F.first(q3), 6).cast("double").alias(f"q3r__{c}"))
        aggs.append(
            F.count_if((F.col(c) < q1 - 3.0 * iqr) | (F.col(c) > q3 + 3.0 * iqr)).alias(f"out__{c}")
        )
        aggs.append(F.count(F.col(c)).alias(f"nn__{c}"))
    return df.crossJoin(F.broadcast(q)).agg(*aggs)


# ───────────── A13/A11/A12: standardization stats per string column ─────────────

_DOC_STR = ["text", "lang", "source"]
_FAKES = ", ".join(f"'{x}'" for x in P.FAKE_NULLS)

_STD_SQL = "SELECT " + ", ".join(
    f'count("{c}") AS "nn__{c}", '
    f'count(*) FILTER (WHERE "{c}" IS NOT NULL AND "{c}" <> trim("{c}")) AS "ws__{c}", '
    f'count(*) FILTER (WHERE lower(trim("{c}")) IN ({_FAKES})) AS "fn__{c}", '
    f'count(DISTINCT "{c}") AS "nu__{c}", '
    f'count(DISTINCT lower(trim("{c}"))) AS "nl__{c}"'
    for c in _DOC_STR
) + " FROM documents"


@register("standardization_stats_documents", _STD_SQL)
def q_standardization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    aggs = []
    for c in _DOC_STR:
        col, folded = F.col(c), F.lower(F.trim(F.col(c)))
        aggs += [
            F.count(col).alias(f"nn__{c}"),
            F.count_if(col.isNotNull() & (col != F.trim(col))).alias(f"ws__{c}"),
            F.count_if(folded.isin(P.FAKE_NULLS)).alias(f"fn__{c}"),
            F.count_distinct(col).alias(f"nu__{c}"),
            F.count_distinct(folded).alias(f"nl__{c}"),
        ]
    return df.agg(*aggs)


# ───────────── A19/O1: per-column scores, worst-first top-k ─────────────

def _column_profile_sql(table: str, cols: list[str], k: int = 14) -> str:
    p1 = (
        "SELECT count(*) AS rc, "
        + ", ".join(
            f'count(*) FILTER (WHERE "{c}" IS NULL) AS "n_{c}", count(DISTINCT "{c}") AS "d_{c}"'
            for c in cols
        )
        + f" FROM {table}"
    )
    union = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, \"n_{c}\" AS nulls, \"d_{c}\" AS distincts, rc FROM p1"
        for c in cols
    )
    return f"""
WITH p1 AS ({p1}), u AS ({union}),
s AS (SELECT column_name,
        round((1.0 - CAST(nulls AS DOUBLE)/rc) * 100.0, 1) AS completeness,
        round(CAST(distincts AS DOUBLE)/rc * 100.0, 1) AS uniqueness
      FROM u)
SELECT column_name, completeness, uniqueness,
       least(round(completeness*0.6 + least(uniqueness*1.5, 100.0)*0.4, 1), 100.0) AS overall
FROM s ORDER BY overall, column_name LIMIT {k}
"""


@register("column_profile_customer", _column_profile_sql("customer", _CUSTOMER_COLS))
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "customer")
    cols = _CUSTOMER_COLS  # pinned to the oracle's static list, not df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("rc"),
        *[F.count_if(F.col(c).isNull()).alias(f"n_{c}") for c in cols],
        *[F.count_distinct(F.col(c)).alias(f"d_{c}") for c in cols],
    )
    stack = ", ".join(f"'{c}', n_{c}, d_{c}" for c in cols)
    long = agg.select(
        F.col("rc"), F.expr(f"stack({len(cols)}, {stack}) as (column_name, nulls, distincts)")
    )
    scored = long.select(
        "column_name",
        F.round((F.lit(1.0) - F.col("nulls").cast("double") / F.col("rc")) * 100.0, 1).alias(
            "completeness"
        ),
        F.round(F.col("distincts").cast("double") / F.col("rc") * 100.0, 1).alias("uniqueness"),
    ).withColumn(
        "overall",
        F.least(
            F.round(
                F.col("completeness") * 0.6 + F.least(F.col("uniqueness") * 1.5, F.lit(100.0)) * 0.4,
                1,
            ),
            F.lit(100.0),
        ),
    )
    return scored.orderBy("overall", "column_name").limit(14)


# ───────────── A4: freshness lag via integer microseconds ─────────────

_FRESH_SQL = f"""
SELECT max(ts) AS max_ts,
       round(CAST(epoch_us(TIMESTAMP '{AS_OF}') - epoch_us(max(ts)) AS DOUBLE)
             / 3600000000.0, 4) AS lag_hours
FROM events
"""


@register("freshness_lag_events", _FRESH_SQL)
def q_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "events")
    as_of_us = F.unix_micros(F.to_timestamp(F.lit(AS_OF)))
    return df.agg(
        F.max("ts").alias("max_ts"),
        F.round(
            (as_of_us - F.unix_micros(F.max("ts").cast("timestamp"))).cast("double") / 3.6e9, 4
        ).alias("lag_hours"),
    )


# ───────────── joins: broadcast-dim equi-joins + grouped revenue ─────────────

# Semi-structured parse (beyond-reference; SURVEY §2.8 notes the reference has
# no JSON functions, but a web-scale event pipeline needs them): JVM-side
# codegen'd JSON path extraction — never a Python JSON loop — degrading
# malformed JSON and non-integer values to NULL (try-cast semantics, the
# reference's errors="coerce" convention). Extraction is get_json_object +
# try_cast rather than declared-schema `from_json(…, "k INT")` because the
# latter's token-level strictness (a quoted "7" parses to NULL) has no ANSI-SQL
# twin; string-path extraction + TRY_CAST has identical semantics in both
# engines for every token shape (int, quoted int, float, missing, malformed).
# One residual dialect gap: DuckDB's VARCHAR→INT cast ROUNDS numeric strings
# ('1.5' → 2) where Spark's ANSI try_cast yields NULL, so the oracle gates the
# cast on integer format (verified divergence-free over adversarial tokens:
# int / quoted / float / text / missing / malformed / null / whitespace /
# overflow). Exact integer sums + one double division for hash-stable values.
_JSON_PROPS_SQL = r"""
WITH e AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                        AND regexp_matches(json_extract_string(props, '$.k'),
                                           '^\s*[+-]?\d+\s*$')
                       THEN json_extract_string(props, '$.k') END AS INT) AS k
  FROM events
)
SELECT event_type, count(*) AS n_events, count(k) AS n_parsed,
       CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
       round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
FROM e GROUP BY event_type
"""


@register("json_props_events", _JSON_PROPS_SQL)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("int")
    return df.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_parsed"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(F.sum("k").cast("double") / F.count("k"), 6).alias("avg_k"),
    )


_TOPCUST_SQL ="""
SELECT c.c_custkey, c.c_name,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue,
       count(*) AS order_count
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c_custkey LIMIT 10
"""


@register("top_customers_by_revenue", _TOPCUST_SQL)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


_REGION_REV_SQL = """
SELECT r.r_name AS region,
       CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(15,2))), 2) AS DOUBLE) AS revenue,
       count(*) AS order_count
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("region_revenue", _REGION_REV_SQL)
def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum(_dec("o_totalprice")), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("order_count"),
        )
    )


# ───────────── window: top-3 orders per customer (§2.5 extension) ─────────────

_WINDOW_SQL = """
SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@register("window_top_orders_per_customer", _WINDOW_SQL)
def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").cast("double"), "rn")
    )


# ═════════════ training-data ops: text analysis / dedup / similarity ═════════════

from data_quality_check_spark.functions import text as TX  # noqa: E402
from data_quality_check_spark.operators import dedup as DD  # noqa: E402
from data_quality_check_spark.operators import similarity as SIM  # noqa: E402

_TEXT_STATS_SQL = f"""
SELECT doc_id,
       {TX.token_count_sql('text')} AS n_tokens,
       {TX.bpe_token_count_sql('text')} AS n_bpe_tokens,
       round({TX.texty_ratio_sql('text')}, 6) AS texty_ratio,
       {TX.quality_score_sql('text')} AS quality_score,
       {TX.fingerprint_sql('text')} AS fingerprint
FROM documents
"""


@register("text_stats_documents", _TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    c = F.col("text")
    return df.select(
        "doc_id",
        TX.token_count_col(c).alias("n_tokens"),
        TX.bpe_token_count_col(c).alias("n_bpe_tokens"),
        F.round(TX.texty_ratio_col(c), 6).alias("texty_ratio"),
        TX.quality_score_col(c).alias("quality_score"),
        TX.fingerprint_col(c).alias("fingerprint"),
    )


# Compression-ratio redundancy signal (functions/text.compression_stats):
# boilerplate and template spam DEFLATE far better than natural prose, so
# compressed/raw size is a cheap language-agnostic quality feature. Oracle =
# the model_scores precedent: the SAME compressed_size_kernel executed in the
# driver process and materialized to scratch parquet (value hash checks the
# Arrow UDF plumbing), with the ratio division/round left to genuine SQL.
@register(
    "compression_stats_documents",
    lambda: _OR.compression_stats_sql(ORACLE_SF_DIR),
)
def q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.compression_stats(t(spark, sf_dir, "documents"), "doc_id", "text")


# Corpus vocabulary heavy hitters (term + document frequency top-k): the
# tf/df audit a crawl runs to surface boilerplate and candidate stopwords.
from data_quality_check_spark.operators import vocab as VB  # noqa: E402

_TOPK_TOKENS, _TOKEN_MIN_LEN = 25, 2


@register(
    "top_tokens_documents",
    VB.top_tokens_sql("documents", "doc_id", "text", _TOPK_TOKENS, _TOKEN_MIN_LEN),
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return VB.top_tokens(
        t(spark, sf_dir, "documents"), "doc_id", "text", _TOPK_TOKENS, _TOKEN_MIN_LEN
    )


# Adjacent-pair heavy hitters: the boilerplate/template-phrase detector —
# repeated spans surface as heavy bigrams before their unigrams stand out.
# Same tokenizer subset, same two-phase agg + TakeOrderedAndProject shape.
@register(
    "top_bigrams_documents",
    VB.top_bigrams_sql("documents", "doc_id", "text", _TOPK_TOKENS, _TOKEN_MIN_LEN),
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return VB.top_bigrams(
        t(spark, sf_dir, "documents"), "doc_id", "text", _TOPK_TOKENS, _TOKEN_MIN_LEN
    )


# The MERGEABLE path to the same answer (VERDICT r3 task 7): per-bucket
# heavy-hitter summaries (truncated exact counts + a dropped-count cap) merged
# into the global top-k — the no-rescan maintenance shape. Oracle = the exact
# whole-corpus SQL: at m=2048 the fixture's top-25 certifies (cap arithmetic,
# pinned in tests/test_vocab.py), so the summary merge must reproduce the
# rescan's values bit-for-bit, which is exactly the property worth gating.
@register(
    "vocab_merge_top_tokens_documents",
    VB.top_tokens_sql("documents", "doc_id", "text", _TOPK_TOKENS, _TOKEN_MIN_LEN),
)
def q_vocab_merge_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").withColumn(
        "_b", F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(16)).cast("int")
    )
    parts = VB.vocab_partial(docs, "_b", "doc_id", "text", m=2048, min_len=_TOKEN_MIN_LEN)
    return VB.merge_vocab_partials(parts, k=_TOPK_TOKENS).select(
        "token", "n_occurrences", "n_docs"
    )


# Per-row heuristic keep/drop decision (the north-rule quality-filter semantics,
# SURVEY.md §7.1) exposed on the gate's documents table: every caption flag from
# pipeline/heuristics.py as a boolean column plus the combined `keep` decision.
# Pure expressions — single codegen'd projection, no shuffle, no UDF.
from data_quality_check_spark.pipeline import heuristics as H  # noqa: E402

_QFLAG_EXPRS = H.caption_flags_sql("text")
_QFLAG_DROPPING = [k for k in _QFLAG_EXPRS if k != "flag_untrimmed"]
_QFLAGS_SQL = (
    "SELECT doc_id,\n"
    + ",\n".join(f"       {e} AS {k}" for k, e in _QFLAG_EXPRS.items())
    + ",\n       NOT ("
    + " OR ".join(_QFLAG_EXPRS[k] for k in _QFLAG_DROPPING)
    + ") AS keep\nFROM documents"
)


# ───────────── strict alpha class (heuristics.ALPHA_CLASS_STRICT, VERDICT r4
# task 6): the opt-in texty-char class that stops counting the × ÷ math signs
# as text. The fixture corpus contains no ×/÷ at all (both modes agree on
# every real row), so the gate PLANTS dimension-spam on 1/13 of docs — the
# caption becomes 30 repetitions of "×÷× " plus the first 40 chars of the
# original text, so the strict ratio (≤0.44) falls under MIN_ALPHA_RATIO while
# the default ratio (≥0.75) stays above it: the flag flips under strict ONLY,
# and both engines derive the planted text from the identical repeat/substr
# expression (chars spelled chr()/\\u00XX so the value hash is byte-exact). ─────
_SPAM_TEXT_SQL = (
    "repeat(chr(215) || chr(247) || chr(215) || ' ', 30)"
    " || substr(COALESCE(text, ''), 1, 40)"
)
_STRICT_CASE_SQL = f"(CASE WHEN doc_id % 13 = 0 THEN {_SPAM_TEXT_SQL} ELSE text END)"
_STRICT_DFLT = H.caption_flags_sql(_STRICT_CASE_SQL)["flag_low_alpha"]
_STRICT_STRICT = H.caption_flags_sql(_STRICT_CASE_SQL, strict_alpha=True)[
    "flag_low_alpha"
]
_STRICT_SQL = (
    f"SELECT doc_id, {_STRICT_DFLT} AS flag_low_alpha,\n"
    f"       {_STRICT_STRICT} AS flag_low_alpha_strict,\n"
    f"       ({_STRICT_DFLT}) <> ({_STRICT_STRICT}) AS flipped\n"
    "FROM documents"
)


@register("strict_alpha_flags_documents", _STRICT_SQL)
def q_strict_alpha_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    spam = F.concat(
        F.lit("×÷× " * 30),
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
    )
    planted = F.when(F.col("doc_id") % 13 == 0, spam).otherwise(F.col("text"))
    dflt = H.caption_flags(planted)["flag_low_alpha"]
    strict = H.caption_flags(planted, strict_alpha=True)["flag_low_alpha"]
    return docs.select(
        "doc_id",
        dflt.alias("flag_low_alpha"),
        strict.alias("flag_low_alpha_strict"),
        (dflt != strict).alias("flipped"),
    )


@register("quality_flags_documents", _QFLAGS_SQL)
def q_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    flags = H.caption_flags(F.col("text"))
    keep = F.lit(True)
    for k in _QFLAG_DROPPING:
        keep = keep & ~flags[k]
    return df.select(
        "doc_id", *[flags[k].alias(k) for k in _QFLAG_EXPRS], keep.alias("keep")
    )


# The PII/toxicity scrub pass as a driver-checked query: Spark's JVM
# regexp_replace chain (functions/scrub.scrub_col — the codegen path the
# north-star job runs) value-hash-compared against the pure-python
# compiled-re golden (`scrub_text`), i.e. the north rule's exact-caption-
# equality invariant enforced by the driver gate itself. The fixture text
# carries no PII, so a deterministic doc_id-keyed derivation PLANTS an email /
# phone / toxic-word span on ~1/4 of rows (same gate_fixtures idea as the
# synthetic image table) — identically in both engines — so the hash check
# exercises every pattern family, not the no-op path.
def _planted_caption_col() -> F.Column:
    did, base = F.col("doc_id"), F.coalesce(F.col("text"), F.lit(""))
    return (
        F.when(
            did % 7 == 0,
            F.concat(base, F.lit(" contact user"), did.cast("string"),
                     F.lit("@example.com now")),
        )
        .when(
            did % 11 == 0,
            F.concat(base, F.lit(" call 555-867-"),
                     F.lpad((did % 10000).cast("string"), 4, "0")),
        )
        .when(did % 13 == 0, F.concat(base, F.lit(" you absolute loser")))
        .otherwise(base)
    )


@register("scrub_documents", lambda: _OR.scrub_sql(ORACLE_SF_DIR))
def q_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.scrub import scrub_col

    cap = _planted_caption_col()
    sc = scrub_col(cap)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        sc.alias("scrubbed"),
        (~cap.eqNullSafe(sc)).alias("changed"),
    )


# Stage-survival funnel over the same rule chain: which rule costs the corpus
# most, in ONE fused aggregate pass (curation.filter_funnel). Stages are the
# heuristics flags in drop-priority order, so the funnel is the cumulative
# audit of exactly the keep decision quality_flags_documents emits per row.
_FUNNEL_STAGES = [
    ("present", "NOT ({flag_caption_missing} OR {flag_fake_null})"),
    ("length", "NOT ({flag_too_short} OR {flag_too_long})"),
    ("alpha", "NOT {flag_low_alpha}"),
    ("nonrepetitive", "NOT {flag_repetitive}"),
]


@register(
    "filter_funnel_documents",
    lambda: CU.filter_funnel_sql(
        "documents",
        [(nm, e.format(**_QFLAG_EXPRS)) for nm, e in _FUNNEL_STAGES],
    ),
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    fl = H.caption_flags(F.col("text"))
    stages = [
        ("present", ~(fl["flag_caption_missing"] | fl["flag_fake_null"])),
        ("length", ~(fl["flag_too_short"] | fl["flag_too_long"])),
        ("alpha", ~fl["flag_low_alpha"]),
        ("nonrepetitive", ~fl["flag_repetitive"]),
    ]
    return CU.filter_funnel(t(spark, sf_dir, "documents"), stages)


# ROLLUP metric roll-up reporting (SURVEY.md §2.4 closing note: grouping
# sets/rollup for metric reporting). One scan produces (source, lang) cells,
# per-source subtotals, and the grand total; `grouping_id` (same bitmask
# semantics as DuckDB GROUPING) disambiguates subtotal rows from genuine NULL
# group keys. Exact-integer metrics + one final double division keep values
# hash-identical across engines.
_ROLLUP_SQL = """
SELECT source, lang,
       CAST(GROUPING(source, lang) AS INT) AS gid,
       count(*) AS n_rows,
       count(*) FILTER (WHERE text IS NULL) AS null_text,
       count(*) FILTER (WHERE n_chars < 10) AS tiny_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars
FROM documents
GROUP BY ROLLUP (source, lang)
"""


@register("rollup_metrics_documents", _ROLLUP_SQL)
def q_rollup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    return df.rollup("source", "lang").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.sum(F.when(F.col("n_chars") < 10, 1).otherwise(0)).alias("tiny_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
    )


# Event-time windowed quality metrics (streaming/windows.py — the SAME plan runs
# under readStream with a watermark; here batch mode proves value semantics).
# Timestamps compare as integer microseconds per the module convention; hourly
# buckets align identically (Spark windows align to the epoch, DuckDB
# time_bucket's 2000-01-01 origin is on an hour boundary). Null-ts rows produce
# no window in Spark, mirrored by the WHERE in the oracle.
_WINDOWED_SQL = r"""
WITH b AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, value,
         TRY_CAST(CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                           '^\s*[+-]?\d+\s*$')
                       THEN json_extract_string(props, '$.k') END AS BIGINT) AS k_val
  FROM events WHERE ts IS NOT NULL
)
SELECT epoch_us(w) AS window_start_us,
       epoch_us(w + INTERVAL 1 HOUR) AS window_end_us,
       count(*) AS n_rows,
       count(*) FILTER (WHERE value IS NULL) AS nulls__value,
       count(*) FILTER (WHERE NOT COALESCE(value <= 100.0, TRUE)) AS viol__value_cap,
       count(*) FILTER (WHERE NOT COALESCE(k_val < 95, TRUE)) AS viol__k_range
FROM b GROUP BY w
"""


@register("windowed_metrics_events", _WINDOWED_SQL)
def q_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.streaming.windows import windowed_quality_metrics

    ev = t(spark, sf_dir, "events").withColumn(
        "k_val", F.get_json_object(F.col("props"), "$.k").try_cast("bigint")
    )
    out = windowed_quality_metrics(
        ev,
        "ts",
        window_duration="1 hour",
        check_cols=["value"],
        rules=[
            {"name": "value_cap", "condition": "value <= 100.0"},
            {"name": "k_range", "condition": "k_val < 95"},
        ],
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        F.col("rows").alias("n_rows"),
        "nulls__value",
        "viol__value_cap",
        "viol__k_range",
    )


# As-of join (custom temporal operator Spark lacks — operators/temporal.py):
# each click matched to the user's latest signup at-or-before it. Spark side is
# the union + one-shuffle + window carry-forward formulation; oracle is DuckDB's
# native ASOF LEFT JOIN. Signups pre-aggregated unique per (user_id, ts) so tie
# choice can't differ between engines.
_ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
su AS (
  SELECT user_id, ts, max(value) AS signup_value
  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       epoch_us(su.ts) AS signup_ts_us,
       round(su.signup_value, 6) AS signup_value
FROM clicks c ASOF LEFT JOIN su ON c.user_id = su.user_id AND c.ts >= su.ts
"""


@register("asof_last_signup_events", _ASOF_SQL)
def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.temporal import asof_join

    ev = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = asof_join(clicks, signups, ts_col="ts", by="user_id", matched_ts_alias="signup_ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("signup_ts").alias("signup_ts_us"),
        F.round("signup_value", 6).alias("signup_value"),
    )


# Range join (bucketized interval containment, operators/temporal.py): clicks
# landing inside the 30-minute window after an error by the same user. Spark
# side equi-joins on (user_id, time bucket) then filters exact containment —
# linear, AQE-splittable; oracle is the plain (quadratic) inequality join.
_RANGE_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
errs AS (
  SELECT event_id AS error_id, user_id, ts AS start_ts,
         ts + INTERVAL 30 MINUTE AS end_ts
  FROM events WHERE event_type = 'error'
)
SELECT c.event_id, e.error_id, c.user_id,
       epoch_us(c.ts) AS ts_us, epoch_us(e.start_ts) AS error_ts_us
FROM clicks c JOIN errs e
  ON c.user_id = e.user_id AND c.ts >= e.start_ts AND c.ts < e.end_ts
"""


@register("range_clicks_after_error_events", _RANGE_SQL)
def q_range_clicks_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.temporal import range_join_bucketed

    ev = t(spark, sf_dir, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errs = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("end_ts"),
    )
    out = range_join_bucketed(
        clicks, errs, ts_col="ts", start_col="start_ts", end_col="end_ts",
        by="user_id", bucket="30 minutes",
    )
    return out.select(
        "event_id",
        "error_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("start_ts").alias("error_ts_us"),
    )


# Model-stage UDF path on the gate table: hashed char-trigram langid + n-gram
# perplexity in one Arrow-batched iterator pandas UDF (`fused.with_text_scores`,
# the filter job's `CharTrigramLM.score` kernel). Oracle = full driver-process
# twin in the golden two-call form (oracles.model_scores_sql: `predict`, then
# `perplexity`): the value-hash cross-checks the Spark plumbing (Arrow
# batching, iterator UDF state, the asNondeterministic fence, bit-exact
# F.round twin) and the fused kernel against a single-process execution.
@register("model_scores_documents", lambda: _OR.model_scores_sql(ORACLE_SF_DIR))
def q_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.fused import with_text_scores

    df = t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = with_text_scores(df, "text")
    return scored.select(
        "doc_id",
        "lang",
        F.round("lang_conf", 6).alias("lang_conf"),
        F.round("ppl", 4).alias("ppl"),
    )


_LANG_GUESS_SQL = f"""
SELECT {TX.lang_guess_sql('text')} AS lang_guess, count(*) AS n
FROM documents GROUP BY 1
"""


@register("lang_guess_documents", _LANG_GUESS_SQL)
def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    return df.groupBy(TX.lang_guess_col(F.col("text")).alias("lang_guess")).agg(
        F.count(F.lit(1)).alias("n")
    )


_EXACT_DUP_SQL = f"""
SELECT {TX.fingerprint_sql('text')} AS fingerprint, count(*) AS n, min(doc_id) AS winner
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


@register("exact_dup_groups_documents", _EXACT_DUP_SQL)
def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_duplicate_groups(t(spark, sf_dir, "documents"), "doc_id", "text")


_JACCARD_T = 0.6
_SHINGLE_N = 3  # 3-word shingles (Broder-style resemblance) — discriminative at scale

_JACCARD_SQL = DD.jaccard_pairs_sql("documents", "doc_id", "text", _JACCARD_T, _SHINGLE_N)


@register("jaccard_neardup_documents", _JACCARD_SQL)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", _JACCARD_T, ngram=_SHINGLE_N
    )


# Session-scoped scratch for the jaccard-pair + connected-components lineage
# that THREE gate queries consume (neardup_clusters_documents,
# dedup_keep_best_documents, dedup_survivors_documents — VERDICT r2 item 6):
# the composition is computed by the distributed operators ONCE per
# (process, sf_dir) and materialized to scratch parquet; later consumers read
# the materialization. Per-query contracts are untouched — identical values,
# just no per-query recomputation of the same pair join + CC iteration (the
# 10^12-row analogue is writing the cluster table once per dedup run and
# joining everything downstream against it).
# bump when a shared lineage's semantics change — r4: scratch warehouses
# moved to TableIO(backend="parquet"), so an old _SUCCESS-marked dir built on
# an Iceberg session would hold no parquet tables at the path
_QUERY_SCRATCH_TAG = "r4"


def _scratch_path(sf_dir: str, name: str, ext: str = ".parquet") -> str:
    """Scratch location keyed by (sf_dir content, query tag). Scratch
    directories are built once there by `commit.publish_dir`: concurrent
    processes race safely and a changed input never serves stale artifacts."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), "dqx_query_scratch", content_key(sf_dir),
        f"{name}_{_QUERY_SCRATCH_TAG}{ext}",
    )


def _scratch_materialize(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """Compute `build()` once per (input-content, query-tag) and serve later
    consumers from scratch parquet."""
    path = publish_dir(
        _scratch_path(sf_dir, name),
        lambda tmp: build().write.mode("overwrite").parquet(tmp),
    )
    return spark.read.parquet(path)


def _shared_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scratch_materialize(
        spark, sf_dir, f"clusters_j{_JACCARD_T}_n{_SHINGLE_N}",
        lambda: DD.neardup_clusters(
            t(spark, sf_dir, "documents"), "doc_id", "text", _JACCARD_T,
            ngram=_SHINGLE_N,
        ),
    ).select("doc_id", "component", "csize")


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded MinHash-LSH pair stage shared by `minhash_neardup_documents`
    and `neardup_clusters_minhash_documents` (same sharing rationale as
    _shared_jaccard_clusters — at scale the confirmed pair table is written
    once per dedup run and every downstream step joins against it)."""
    return _scratch_materialize(
        spark, sf_dir, f"minhash_pairs_j{_JACCARD_T}_n{_SHINGLE_N}",
        lambda: DD.minhash_lsh_pairs(
            t(spark, sf_dir, "documents"), "doc_id", "text",
            num_hashes=126, bands=42, threshold=_JACCARD_T, ngram=_SHINGLE_N,
        ),
    ).select("id_a", "id_b", "jaccard")


# Near-dup CLUSTERS: iterative min-label connected components over the pair
# edges — the step a dedup pipeline runs after pair generation (pairs →
# clusters → one winner per cluster). Oracle = DuckDB recursive CTE computing
# the same min-reachable-id labeling, so the distributed iteration is value-
# checked end to end.
@register(
    "neardup_clusters_documents",
    DD.neardup_clusters_sql("documents", "doc_id", "text", _JACCARD_T, _SHINGLE_N),
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_jaccard_clusters(spark, sf_dir)


# Near-dup clusters over the SCALE pair stage (banded MinHash-LSH + exact
# confirm): candidate-miss ≈3.6e-5 at the threshold, so the exact
# recursive-CTE oracle stays valid — the driver value-checks the whole
# minhash → confirm → connected-components composition (r1 watch item c).
@register(
    "neardup_clusters_minhash_documents",
    DD.neardup_clusters_sql("documents", "doc_id", "text", _JACCARD_T, _SHINGLE_N),
)
def q_neardup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.dedup import _clusters_from_pairs

    return _clusters_from_pairs(_shared_minhash_pairs(spark, sf_dir), "doc_id")


# MinHash-LSH candidates confirmed by exact Jaccard: with r=3 rows × b=42 bands
# the candidate-miss probability at s=0.6 is (1-0.6³)^42 ≈ 3.6e-5 (and →0 above),
# while j≈0 pairs are still pruned; the confirm step removes all false positives,
# so the exact brute-force SQL remains a valid oracle for the approximate path.
@register("minhash_neardup_documents", _JACCARD_SQL)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_minhash_pairs(spark, sf_dir)


# SimHash pairs: signatures come from the shared numpy kernel materialized to
# scratch parquet by the oracle builder; the banded chunk join + bit_count(xor)
# Hamming verification is cross-checked as genuine DuckDB SQL.
@register(
    "simhash_near_pairs_documents",
    lambda: _OR.simhash_pairs_sql(ORACLE_SF_DIR, ngram=_SHINGLE_N, max_hamming=3),
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.simhash_near_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3, ngram=_SHINGLE_N
    )


_ANN_K = 5

_ANN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 100 = 0
),
s AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS cosine
  FROM embeddings e, q WHERE e.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {_ANN_K}
"""


def _ann_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


@register("ann_cosine_topk_embeddings", _ANN_SQL)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.cosine_topk(e, _ann_queries(spark, sf_dir), k=_ANN_K)


# LSH-bucketed ANN (scale path): the seeded SRP hyperplanes are literals in
# BOTH plans (Spark fold vs DuckDB list_dot_product over identical float64
# values), so the DuckDB twin reproduces the exact approximate result —
# bucketing, join, and rerank are all value-checked. Recall vs brute force is
# additionally asserted in tests/test_dedup_similarity.py::test_ann_lsh_recall.
@register("ann_lsh_topk_embeddings", lambda: _OR.ann_lsh_sql(k=_ANN_K, n_bits=8, dim=64))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.ann_lsh_topk(e, _ann_queries(spark, sf_dir), k=_ANN_K, n_bits=8)


# IVF-cell ANN (the other scale path — one cell per candidate, nprobe cells per
# query, partition-prunable at scale): oracle = DuckDB twin over centroids
# trained by the identical numpy kernel on the identical crc32-ordered sample
# (oracles.ann_ivf_sql), so assignment, probing, and rerank are value-checked.
# Recall vs brute force is additionally asserted in
# tests/test_dedup_similarity.py::test_ann_ivf_recall.
# Centroid count is tuned to the table's natural cluster structure (10 labels):
# 10 cells / probe 4 measures 0.88 recall@5 on sf0.01 while searching ~40% of
# the data (0.96 at nprobe=5); over-segmenting (16 cells) splits clusters and
# costs recall. Hash-ordered centroid sampling (vs a sorted-id head) was worth
# +0.12 recall by itself — the head sample under-represented later clusters.
@register(
    "ann_ivf_topk_embeddings",
    lambda: _OR.ann_ivf_sql(ORACLE_SF_DIR, k=_ANN_K, n_centroids=10, nprobe=4),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.ann_ivf_topk(
        e, _ann_queries(spark, sf_dir), k=_ANN_K, n_centroids=10, nprobe=4
    )


def _shared_ivf_index(spark: SparkSession, sf_dir: str):
    """The PERSISTED IVF index artifact (VERDICT r3 task 5): built once per
    (input-content, tag) — centroids table + vectors table partitionBy(cell) —
    then every indexed query partition-prunes its probe cells on disk. The
    10^12-row shape: index build is its own job, query batches never re-assign."""
    from data_quality_check_spark.sources.tables import TableIO

    def build_into(tmp: str) -> None:
        # backend="parquet": scratch warehouses are per-fingerprint PATHS; the
        # Iceberg catalog's warehouse is session-fixed, so routing through it
        # would ignore `tmp` and serve stale artifacts across fingerprints
        io_tmp = TableIO(spark, warehouse=tmp, backend="parquet")
        SIM.ivf_build_index(
            io_tmp,
            t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            "ann",
            n_centroids=10,
        )

    path = publish_dir(_scratch_path(sf_dir, "ivf_index_c10", ".wh"), build_into)
    return TableIO(spark, warehouse=path, backend="parquet")


# Same oracle as ann_ivf_topk_embeddings: identical centroids (same kernel,
# sample, and seed) mean the indexed read-path must reproduce the re-assigning
# path's rows exactly — which is precisely the property worth pinning about a
# persisted index (the artifact changes the PLAN, never the answer). The
# partition-pruned probe scan is pinned by tests/test_dedup_similarity.py.
@register(
    "ann_ivf_indexed_topk_embeddings",
    lambda: _OR.ann_ivf_sql(ORACLE_SF_DIR, k=_ANN_K, n_centroids=10, nprobe=4),
)
def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    io = _shared_ivf_index(spark, sf_dir)
    return SIM.ann_ivf_topk_indexed(
        io, "ann", _ann_queries(spark, sf_dir), k=_ANN_K, nprobe=4
    )


_NEARDUP_T = 0.35

_NEARDUP_SQL = f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 4) AS cosine
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= {_NEARDUP_T!r}
"""


@register("embedding_neardup_same_label", _NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_pairs_blocked(
        t(spark, sf_dir, "embeddings"), threshold=_NEARDUP_T
    )


# ---------------------------------------------------------------------------
# Corpus curation (operators/curation.py): the post-scoring "decide what
# ships" steps — quota rebalancing, canonical-doc election per near-dup
# cluster, train/eval contamination. The reference app stops at surfacing
# scores/dups to the analyst (app_v3.py:846-1010); these are the distributed
# equivalents of what the analyst then does by hand.
from data_quality_check_spark.operators import curation as CU  # noqa: E402

_QUOTA = 30  # per-language cap; sf0.01 has ~5 langs × ~100 docs → real truncation


@register(
    "quota_sample_documents",
    CU.quota_sample_sql("documents", "doc_id", "lang", _QUOTA),
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.quota_sample(t(spark, sf_dir, "documents"), "doc_id", "lang", _QUOTA)


# Deterministic md5-threshold train/val/test assignment (leakage-safe,
# append-stable — the splitter a training corpus uses instead of rand()).
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_SPLIT_SALT = "exp1"


@register(
    "hash_split_documents",
    f"""
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM (SELECT doc_id, n_chars,
             {CU.hash_split_case_sql("doc_id", _SPLIT_WEIGHTS, _SPLIT_SALT)}
      FROM documents)
GROUP BY split
""",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        CU.hash_split(docs, "doc_id", _SPLIT_WEIGHTS, salt=_SPLIT_SALT)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "dedup_keep_best_documents",
    lambda: CU.keep_best_sql(
        "documents",
        DD.neardup_clusters_sql("documents", "doc_id", "text", _JACCARD_T, _SHINGLE_N),
        "doc_id",
        "n_chars",
    ),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    clusters = _shared_jaccard_clusters(spark, sf_dir)
    return CU.keep_best(docs, clusters, "doc_id", "n_chars")


# Train/eval split is synthesized deterministically from the id (every 50th
# doc is "eval") — the benchmark-suite side of a real contamination check.
_EVAL_PRED = "doc_id % 50 = 0"


@register(
    "contamination_overlap_documents",
    CU.contamination_overlap_sql(
        f"SELECT doc_id, text FROM documents WHERE NOT ({_EVAL_PRED})",
        f"SELECT doc_id, text FROM documents WHERE {_EVAL_PRED}",
        "doc_id",
        "text",
        ngram=_SHINGLE_N,
        threshold_pct=50,
    ),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    train = docs.filter(~F.expr(_EVAL_PRED))
    eval_df = docs.filter(F.expr(_EVAL_PRED))
    return CU.contamination_overlap(
        train, eval_df, "doc_id", "text", ngram=_SHINGLE_N, threshold_pct=50
    )


_TOKEN_BUDGET = 1500  # per-language token budget; sf0.01 langs carry ~4-6k tokens


@register(
    "pack_token_budget_documents",
    CU.pack_token_budget_sql("documents", "doc_id", "lang", "text", _TOKEN_BUDGET),
)
def q_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.pack_token_budget(
        t(spark, sf_dir, "documents"), "doc_id", "lang", "text", _TOKEN_BUDGET
    )


@register(
    "repetition_stats_documents",
    CU.repetition_stats_sql("documents", "doc_id", "text", dup_pct=5),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.repetition_stats(
        t(spark, sf_dir, "documents"), "doc_id", "text", dup_pct=5
    )


# The deduped corpus itself: singletons + one keep-best winner per near-dup
# cluster — the artifact the preceding dedup stages exist to produce.
@register(
    "dedup_survivors_documents",
    lambda: CU.dedup_survivors_sql(
        "documents",
        DD.neardup_clusters_sql("documents", "doc_id", "text", _JACCARD_T, _SHINGLE_N),
        "doc_id",
        "n_chars",
    ),
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    clusters = _shared_jaccard_clusters(spark, sf_dir)
    return CU.dedup_survivors(docs, clusters, "doc_id", "n_chars")


# Incremental-crawl dedup: keep/drop every doc of a NEW increment against the
# already-curated SEEN corpus (exact fingerprint + MinHash-LSH near-dup, both
# cross-corpus and within-increment) without re-clustering the corpus — the
# between-runs counterpart of the whole-table dedup queries above. Split is
# deterministic (doc_id % 4 = 0 → increment); the oracle runs the exact
# cross/self Jaccard with the identical reason priority.
_INC_NEW_SQL = "SELECT * FROM documents WHERE doc_id % 4 = 0"
_INC_SEEN_SQL = "SELECT * FROM documents WHERE doc_id % 4 <> 0"


def _seen_corpus_artifacts(spark: SparkSession, sf_dir: str) -> "DD.SeenCorpusArtifacts":
    """Scratch-cached SeenCorpusArtifacts for the gate's seen split — built
    once per (input-content, tag) like _scratch_materialize, so every later
    run pays only the O(increment) path (VERDICT r3 task 1: the bench cost of
    dedup_incremental_documents drops to the increment-only floor). Same
    publication through `publish_dir`, so a half-built warehouse is never
    mistaken for a healthy one."""
    from data_quality_check_spark.sources.tables import TableIO

    def art_for(warehouse: str) -> DD.SeenCorpusArtifacts:
        # backend="parquet": same reasoning as _shared_ivf_index — scratch
        # warehouses are per-fingerprint paths the session catalog can't honor
        return DD.SeenCorpusArtifacts(
            TableIO(spark, warehouse, backend="parquet"), ngram=_SHINGLE_N
        )

    def build_into(tmp: str) -> None:
        docs = t(spark, sf_dir, "documents")
        art_for(tmp).init(docs.filter(F.col("doc_id") % 4 != 0), "doc_id", "text")

    path = publish_dir(_scratch_path(sf_dir, "seen_corpus", ".wh"), build_into)
    return art_for(path)


@register(
    "dedup_incremental_documents",
    DD.dedup_incremental_sql(
        _INC_NEW_SQL, _INC_SEEN_SQL, "doc_id", "text", _JACCARD_T, _SHINGLE_N
    ),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return DD.dedup_incremental(
        docs.filter(F.col("doc_id") % 4 == 0),
        None,
        "doc_id",
        "text",
        threshold=_JACCARD_T,
        ngram=_SHINGLE_N,
        seen_artifacts=_seen_corpus_artifacts(spark, sf_dir),
    )


# Unblocked embedding near-dup (banded SRP-LSH + exact confirm): the scale
# path when no blocking label exists, at the PRODUCTION threshold over the
# planted gate table (raw embeddings + deterministic near-dup copies at
# cosine ≈0.9987 — gate_fixtures.py). Round 2 ran this at τ=0.35 with r=3
# bands, which passed ~93% of ALL pairs (VERDICT r2 item 1 — brute force in
# disguise); the r=14 × 20-band config passes ~0.26% of pairs on this table
# (pinned ≤5% by test_lsh_candidate_fraction_subquadratic) with recall 1.0 on
# the planted pairs (theoretical 0.91 at exactly τ=0.9). The oracle derives
# the identical planted table and shared-kernel signatures driver-side
# (scratch parquet) and runs the banded join + confirm as genuine SQL.
_EMB_LSH_T = 0.9
_EMB_LSH_BANDS = 20
_EMB_LSH_R = 14

from data_quality_check_spark.gate_fixtures import planted_embeddings_df  # noqa: E402


@register(
    "embedding_neardup_lsh",
    lambda: _OR.embedding_neardup_lsh_sql(
        ORACLE_SF_DIR, threshold=_EMB_LSH_T, bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_R,
    ),
)
def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_pairs_lsh(
        planted_embeddings_df(t(spark, sf_dir, "embeddings")),
        threshold=_EMB_LSH_T, bands=_EMB_LSH_BANDS, bits_per_band=_EMB_LSH_R,
    )


# The LOW-threshold unblocked path (τ=0.35 — where SRP banding cannot prune;
# neardup_pairs_lsh raises): IVF-cell blocking over the raw embeddings —
# data-dependent cells replace the label column, exact pairs within cells.
# The oracle assigns cells from twin-trained centroid literals.
@register(
    "embedding_neardup_ivf",
    lambda: _OR.embedding_neardup_ivf_sql(
        ORACLE_SF_DIR, threshold=_NEARDUP_T, n_centroids=16
    ),
)
def q_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_pairs_ivf(
        t(spark, sf_dir, "embeddings"), threshold=_NEARDUP_T, n_centroids=16
    )


# SemDeDup (Abbas et al. 2023): the ACTION on top of the IVF pair stage —
# components over within-cell τ-edges, then the paper's keeper election (the
# member LEAST similar to its centroid survives). Same centroids, same pair
# semantics as embedding_neardup_ivf, so the oracle extends that twin with a
# recursive-CTE labeling + the identical (cosine ASC, id ASC) election.
@register(
    "semdedup_embeddings",
    lambda: _OR.semdedup_sql(ORACLE_SF_DIR, threshold=_NEARDUP_T, n_centroids=16),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.semdedup(
        t(spark, sf_dir, "embeddings"), threshold=_NEARDUP_T, n_centroids=16
    )


# The SCALE variant of token-budget packing (two-phase: per-(group, key-range)
# sums decide full/boundary buckets; only ~1/1024 of each group pays the exact
# running-sum window). Exactly equivalent to pack_token_budget, so it shares
# the same window-SQL oracle — the driver value-checks the decomposition.
@register(
    "pack_token_budget_scalable_documents",
    CU.pack_token_budget_sql("documents", "doc_id", "lang", "text", _TOKEN_BUDGET),
)
def q_pack_token_budget_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.pack_token_budget_scalable(
        t(spark, sf_dir, "documents"), "doc_id", "lang", "text", _TOKEN_BUDGET
    )


# Embedding near-dup clusters (LSH pairs -> connected components): the same
# recursive-CTE oracle shape as the text clustering, over the value-checked
# LSH pair stage — pairs AND labeling verified end to end on embedding edges,
# at the production threshold over the planted gate table.
@register(
    "embedding_neardup_clusters",
    lambda: _OR.embedding_neardup_clusters_sql(
        ORACLE_SF_DIR, threshold=_EMB_LSH_T, bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_R,
    ),
)
def q_embedding_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.neardup_clusters_lsh(
        planted_embeddings_df(t(spark, sf_dir, "embeddings")),
        threshold=_EMB_LSH_T, bands=_EMB_LSH_BANDS, bits_per_band=_EMB_LSH_R,
    )


# Cross-table referential integrity (a core DQ check the reference's
# single-table engine never reaches): orphan counts in both directions of the
# documents↔embeddings 1:1 relationship, plus the matched count. Anti-joins
# compile to broadcast/shuffled hash joins with null-aware semantics handled
# by the engine; counts fused into one row.
_INTEGRITY_SQL = """
SELECT
  CAST((SELECT count(*) FROM documents d
        WHERE d.doc_id NOT IN (SELECT vec_id FROM embeddings)) AS BIGINT)
    AS docs_without_embedding,
  CAST((SELECT count(*) FROM embeddings e
        WHERE e.vec_id NOT IN (SELECT doc_id FROM documents)) AS BIGINT)
    AS embeddings_without_doc,
  CAST((SELECT count(*) FROM documents d
        JOIN embeddings e ON e.vec_id = d.doc_id) AS BIGINT) AS matched
"""


@register("integrity_documents_embeddings", _INTEGRITY_SQL)
def q_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE plan (full-outer join + fused counts), not three driver actions:
    # each unmatched row surfaces a null on the other side exactly once
    docs = t(spark, sf_dir, "documents").select("doc_id")
    embs = t(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(embs, docs.doc_id == embs.vec_id, "full_outer")
    return j.agg(
        F.count(F.when(F.col("vec_id").isNull(), 1)).alias("docs_without_embedding"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("embeddings_without_doc"),
        F.count(
            F.when(F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull(), 1)
        ).alias("matched"),
    )


# Inactivity-gap sessionization (batch twin of the streaming session_window):
# 12h gap on the gate's events table yields 3292 sessions, 2156 multi-event —
# both branches of the gap logic are value-checked.
from data_quality_check_spark.operators import temporal as TP  # noqa: E402

_SESSION_GAP_MIN = 12 * 60


@register(
    "sessionize_events",
    lambda: TP.sessionize_sql("events", "user_id", "ts", "event_id", _SESSION_GAP_MIN),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TP.sessionize(
        t(spark, sf_dir, "events"), "user_id", "ts", "event_id", _SESSION_GAP_MIN
    )


# Categorical distribution drift (PSI) — the snapshot-monitoring op the
# single-table reference never reaches. The gate demo splits events at the
# integer-µs midpoint of its time range (deterministic; production passes two
# genuine snapshots) and measures event_type drift early → late.
from data_quality_check_spark.operators import drift as DR  # noqa: E402

_DRIFT_MID_SQL = (
    "(SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS _mid FROM events)"
)
_DRIFT_SQL = DR.categorical_drift_sql(
    f"(SELECT event_type FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) <= _mid)",
    f"(SELECT event_type FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) > _mid)",
    "event_type",
)


@register("drift_psi_events", _DRIFT_SQL)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("_us")
    ).crossJoin(F.broadcast(DR.time_split_mid(ev, "ts")))
    return DR.categorical_drift(
        tagged.filter(F.col("_us") <= F.col("_mid")),
        tagged.filter(F.col("_us") > F.col("_mid")),
        "event_type",
    )


# Numeric drift (binned PSI) over the same early/late split — the companion
# monitor for measure columns. 16 fixed-width bins derived from the combined
# span (production passes yesterday's `edges` and pays one agg per side).
_NDRIFT_SQL = DR.numeric_drift_sql(
    f"(SELECT value FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) <= _mid)",
    f"(SELECT value FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) > _mid)",
    "value",
)


@register("numeric_drift_events_value", _NDRIFT_SQL)
def q_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tagged = ev.select(
        "value", F.unix_micros(F.col("ts").cast("timestamp")).alias("_us")
    ).crossJoin(F.broadcast(DR.time_split_mid(ev, "ts")))
    return DR.numeric_drift(
        tagged.filter(F.col("_us") <= F.col("_mid")),
        tagged.filter(F.col("_us") > F.col("_mid")),
        "value",
    )


# Per-column profile drift over an early/late orders split — the shape diff
# (rows / nulls / distincts per column) between two snapshots of one table.
_PDRIFT_COLS = ["o_orderstatus", "o_custkey", "o_totalprice", "o_orderpriority"]
_PDRIFT_MID_SQL = (
    "(SELECT (epoch_us(min(o_orderdate)) + epoch_us(max(o_orderdate))) // 2 "
    "AS _mid FROM orders)"
)
_PDRIFT_SQL = DR.profile_drift_sql(
    f"(SELECT * FROM orders, {_PDRIFT_MID_SQL} WHERE epoch_us(o_orderdate) <= _mid)",
    f"(SELECT * FROM orders, {_PDRIFT_MID_SQL} WHERE epoch_us(o_orderdate) > _mid)",
    _PDRIFT_COLS,
)


@register("profile_drift_orders", _PDRIFT_SQL)
def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = t(spark, sf_dir, "orders")
    tagged = od.select(
        *_PDRIFT_COLS, F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_us")
    ).crossJoin(F.broadcast(DR.time_split_mid(od, "o_orderdate")))
    return DR.profile_drift(
        tagged.filter(F.col("_us") <= F.col("_mid")),
        tagged.filter(F.col("_us") > F.col("_mid")),
        _PDRIFT_COLS,
    )


# C4-style duplicated-span dedup stats: per document, how many of its 8-word
# spans occur in ≥2 documents (the line-dedup analogue for caption corpora
# without sentence structure). One regexp pass per row, spans shuffle as md5
# fingerprints, size-gated broadcast of the dup-span set.
_SPAN_WORDS = 8


@register(
    "line_dedup_documents",
    DD.duplicate_span_stats_sql("documents", "doc_id", "text", _SPAN_WORDS),
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.duplicate_span_stats(
        t(spark, sf_dir, "documents"), "doc_id", "text", span_words=_SPAN_WORDS
    )


# Image-axis heuristic filter (the north rule's payload): per-image validity
# flags (degenerate dims / implausible encoded size / disallowed container)
# + keep decision over the deterministic synthetic image-metadata gate table
# (gate_fixtures.synthetic_image_meta_df — the driver fixtures carry no image
# table; the brief mandates small-scale deterministic synthesis). Flags only
# ever touch (w, h, fmt, length(bytes)) — pixel bytes never enter the plan, so
# at 10^12 images this is a metadata-column scan, not an image read.
from data_quality_check_spark.gate_fixtures import synthetic_image_meta_df  # noqa: E402

_IMG_FLAG_EXPRS = {
    **H.image_flags_sql("w", "h", "byte_len"),
    "flag_bad_fmt": H.bad_fmt_sql("fmt"),
}
_IMG_FLAGS_SQL = (
    f"WITH img AS ({{synth}})\n"
    "SELECT image_id, w, h, fmt, byte_len,\n"
    + ",\n".join(f"       {e} AS {k}" for k, e in _IMG_FLAG_EXPRS.items())
    + ",\n       NOT ("
    + " OR ".join(_IMG_FLAG_EXPRS.values())
    + ") AS keep\nFROM img"
)


def _img_flags_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    return _IMG_FLAGS_SQL.format(synth=synthetic_image_meta_sql("documents"))


@register("image_quality_flags", _img_flags_oracle)
def q_image_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    flags = {
        **H.image_flags(F.col("w"), F.col("h"), F.col("byte_len")),
        "flag_bad_fmt": H.bad_fmt_flag(F.col("fmt")),
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & ~c
    return img.select(
        "image_id", "w", "h", "fmt", "byte_len",
        *[c.alias(k) for k, c in flags.items()],
        keep.alias("keep"),
    )


# Perceptual-hash near-dup pairs over the image gate table: the fixture
# plants, for every 10th image, the previous image's 60-bit phash with 1-3
# contiguous bits flipped (gate_fixtures.phash_expr), so the exact expected
# answer is precisely the planted pair set — the image analogue of the
# planted-embedding SRP gate. Spark side: the pigeonhole-banded
# hamming_near_pairs (recall exactly 1, bucket-cap escalation); oracle:
# brute-force bit_count(xor) self-join, feasible at the sf0.01 gate scale —
# so the band join is value-checked end to end against exhaustive search.
def _phash_pairs_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    return (
        f"WITH img AS ({synthetic_image_meta_sql('documents')})\n"
        "SELECT a.image_id AS id_a, b.image_id AS id_b,\n"
        "       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming\n"
        "FROM img a JOIN img b ON a.image_id < b.image_id\n"
        "WHERE bit_count(xor(a.phash, b.phash)) <= 3"
    )


def _shared_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The phash Hamming pair stage shared by the three image-dedup gate
    queries (pairs / clusters / keep-best) — at scale the confirmed pair
    table is written once per dedup run and every downstream step joins
    against it (same rationale as _shared_minhash_pairs)."""
    return _scratch_materialize(
        spark, sf_dir, "phash_pairs_h3",
        lambda: DD.hamming_near_pairs(
            synthetic_image_meta_df(t(spark, sf_dir, "documents")).select(
                "image_id", "phash"
            ),
            "image_id", "phash", max_hamming=3,
        ),
    ).select("id_a", "id_b", "hamming")


@register("phash_near_pairs_images", _phash_pairs_oracle)
def q_phash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_phash_pairs(spark, sf_dir)


# Phash near-dup CLUSTERS + canonical election — the two steps an image dedup
# pipeline runs after pair generation. Clusters: the same pointer-jumping
# min-label components used for text near-dups, here over phash edges; the
# recursive-CTE oracle recomputes the labeling from the brute-force pair set.
# Election: ONE winner per cluster by byte_len (the largest encoded file is
# the least-recompressed copy), ties to the smallest image_id.
def _phash_clusters_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_phash_pairs_oracle()}),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, comp) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.id
),
labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, count(*) AS csize FROM labels GROUP BY comp)
SELECT l.id AS image_id, l.comp AS component, s.csize AS csize
FROM labels l JOIN sizes s USING (comp)
"""


@register("phash_clusters_images", _phash_clusters_sql)
def q_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.dedup import _clusters_from_pairs

    return _clusters_from_pairs(_shared_phash_pairs(spark, sf_dir), "image_id")


def _phash_keep_best_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    return CU.keep_best_sql(
        f"({synthetic_image_meta_sql('documents')})",
        _phash_clusters_sql(),
        "image_id",
        "byte_len",
    )


# Per-container-format profile of the image corpus: volume, compression
# ratio, aggregate aspect, flag counts, and keep fraction — the report a
# quality-filter run emits per format before deciding decode budgets. Every
# ratio is a SINGLE division of EXACT int64 sums (never AVG over doubles), so
# Spark and DuckDB agree bit-for-bit regardless of summation order; one
# map-side-combinable groupBy on a 5-value key — no scale concerns.
def _img_profile_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    e = H.image_flags_sql("w", "h", "byte_len")
    bf = H.bad_fmt_sql("fmt")
    return f"""
WITH img AS ({synthetic_image_meta_sql('documents')}),
f AS (
  SELECT fmt, w, h, byte_len, CAST(w AS BIGINT) * h * 3 AS _raw,
         {e['flag_bad_dims']} AS bad_dims,
         {e['flag_bytes_implausible']} AS bad_bytes,
         {bf} AS bad_fmt
  FROM img
)
SELECT fmt,
  COUNT(*) AS n_images,
  CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
  ROUND(CAST(SUM(byte_len) AS DOUBLE) / CAST(SUM(_raw) AS DOUBLE), 6)
    AS compression_ratio,
  ROUND(CAST(SUM(CAST(w AS BIGINT)) AS DOUBLE)
        / CAST(SUM(CAST(h AS BIGINT)) AS DOUBLE), 6) AS aspect_sum_ratio,
  CAST(SUM(CASE WHEN bad_dims THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dims,
  CAST(SUM(CASE WHEN bad_bytes THEN 1 ELSE 0 END) AS BIGINT)
    AS n_bytes_implausible,
  ROUND(CAST(SUM(CASE WHEN NOT (bad_dims OR bad_bytes OR bad_fmt)
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_frac
FROM f GROUP BY fmt
"""


@register("image_format_profile", _img_profile_oracle)
def q_image_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    flags = {
        **H.image_flags(F.col("w"), F.col("h"), F.col("byte_len")),
        "bad_fmt": H.bad_fmt_flag(F.col("fmt")),
    }
    keep = F.lit(True)
    for c in flags.values():
        keep = keep & ~c
    raw = F.col("w").cast("long") * F.col("h") * 3
    proj = img.select(
        "fmt", "w", "h", "byte_len", raw.alias("_raw"),
        flags["flag_bad_dims"].alias("bad_dims"),
        flags["flag_bytes_implausible"].alias("bad_bytes"),
        keep.alias("_keep"),
    )
    n = F.count(F.lit(1))
    return proj.groupBy("fmt").agg(
        n.alias("n_images"),
        F.sum("byte_len").alias("total_bytes"),
        F.round(F.sum("byte_len").cast("double") / F.sum("_raw"), 6).alias(
            "compression_ratio"
        ),
        F.round(
            F.sum(F.col("w").cast("long")).cast("double")
            / F.sum(F.col("h").cast("long")),
            6,
        ).alias("aspect_sum_ratio"),
        F.sum(F.col("bad_dims").cast("long")).alias("n_bad_dims"),
        F.sum(F.col("bad_bytes").cast("long")).alias("n_bytes_implausible"),
        F.round(F.sum(F.col("_keep").cast("long")).cast("double") / n, 6).alias(
            "keep_frac"
        ),
    )


@register("image_keep_best", _phash_keep_best_oracle)
def q_image_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.dedup import _clusters_from_pairs

    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    clusters = _clusters_from_pairs(_shared_phash_pairs(spark, sf_dir), "image_id")
    return CU.keep_best(img, clusters, "image_id", "byte_len")


# Cross-modal keep decision — the two graft axes joined: per image, does the
# IMAGE side pass (dims/size/container), does the CAPTION side pass (the
# pipeline's dropping caption flags — flag_untrimmed normalizes rather than
# drops, exactly as in heuristics.heuristic_ok), and is the row a phash
# near-dup LOSER (keep-best election)? Both flag families come from ONE
# projection of the same row — no join; only the loser set joins in. That
# join deliberately carries NO broadcast hint: the loser side is
# dup-rate-proportional, so AQE promotes it to broadcast when it fits and
# falls back to a shuffled join past that — the scale-correct default.
_CAPTION_DROP = [
    "flag_caption_missing", "flag_fake_null", "flag_too_short",
    "flag_too_long", "flag_low_alpha", "flag_repetitive",
]


def _multimodal_keep_oracle() -> str:
    cf = H.caption_flags_sql("caption")
    imf = H.image_flags_sql("w", "h", "byte_len")
    keep_img = f"NOT ({imf['flag_bad_dims']} OR {imf['flag_bytes_implausible']} OR {H.bad_fmt_sql('fmt')})"
    keep_cap = "NOT (" + " OR ".join(cf[k] for k in _CAPTION_DROP) + ")"
    elect = _phash_keep_best_oracle()
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    return f"""
WITH img AS ({synthetic_image_meta_sql('documents')}),
elect AS ({elect}),
losers AS (SELECT image_id FROM elect WHERE NOT keep),
f AS (
  SELECT image_id, {keep_img} AS keep_image, {keep_cap} AS keep_caption
  FROM img
)
SELECT f.image_id, f.keep_image, f.keep_caption,
       l.image_id IS NOT NULL AS is_dup_loser,
       f.keep_image AND f.keep_caption AND l.image_id IS NULL AS keep,
       CASE WHEN NOT f.keep_image THEN 'image'
            WHEN NOT f.keep_caption THEN 'caption'
            WHEN l.image_id IS NOT NULL THEN 'duplicate'
            ELSE 'kept' END AS drop_reason
FROM f LEFT JOIN losers l USING (image_id)
"""


@register("multimodal_keep_decisions", _multimodal_keep_oracle)
def q_multimodal_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.dedup import _clusters_from_pairs

    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    cf = H.caption_flags(F.col("caption"))
    keep_cap = F.lit(True)
    for k in _CAPTION_DROP:
        keep_cap = keep_cap & ~cf[k]
    imf = {
        **H.image_flags(F.col("w"), F.col("h"), F.col("byte_len")),
        "bad_fmt": H.bad_fmt_flag(F.col("fmt")),
    }
    keep_img = F.lit(True)
    for c in imf.values():
        keep_img = keep_img & ~c
    flags = img.select(
        "image_id", keep_img.alias("keep_image"), keep_cap.alias("keep_caption")
    )
    clusters = _clusters_from_pairs(_shared_phash_pairs(spark, sf_dir), "image_id")
    losers = (
        CU.keep_best(img, clusters, "image_id", "byte_len")
        .filter(~F.col("keep"))
        .select("image_id", F.lit(True).alias("_loser"))
    )
    j = flags.join(losers, "image_id", "left")
    is_loser = F.coalesce(F.col("_loser"), F.lit(False))
    keep = F.col("keep_image") & F.col("keep_caption") & ~is_loser
    reason = (
        F.when(~F.col("keep_image"), F.lit("image"))
        .when(~F.col("keep_caption"), F.lit("caption"))
        .when(is_loser, F.lit("duplicate"))
        .otherwise(F.lit("kept"))
    )
    return j.select(
        "image_id", "keep_image", "keep_caption",
        is_loser.alias("is_dup_loser"), keep.alias("keep"),
        reason.alias("drop_reason"),
    )


# Cross-modal caption↔image alignment (CLIP-style gate, deterministic stub
# encoders — functions/alignment.py): hashed-trigram caption embedding vs
# phash-bit image signature, cosine, thresholded keep flag. One Arrow
# projection, no shuffle. Oracle = driver-process twin of the same kernel over
# the DuckDB-evaluated image gate table (oracles.alignment_sql).
_ALIGN_TAU = 0.0


@register(
    "alignment_scores_images", lambda: _OR.alignment_sql(ORACLE_SF_DIR, _ALIGN_TAU)
)
def q_alignment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.alignment import with_alignment

    img = synthetic_image_meta_df(t(spark, sf_dir, "documents")).select(
        "image_id", "caption", "phash"
    )
    out = with_alignment(img, "caption", "phash", _ALIGN_TAU)
    return out.select(
        "image_id", F.round("align_score", 6).alias("align_score"), "aligned"
    )


# Rate-based data-mix sampling (curation.mixture_sample): target language
# mixture over the documents table, decided row-locally with zero shuffle.
# The oracle rebuilds the SAME thresholds from DuckDB-exact group counts and
# applies the identical md5-prefix predicate.
_MIX_WEIGHTS = {"en": 0.4, "fr": 0.15, "de": 0.15, "zh": 0.15, "es": 0.15}
_MIX_ROWS = 300


def _mixture_oracle() -> str:
    import duckdb

    docs = os.path.join(ORACLE_SF_DIR, "documents.parquet")
    con = duckdb.connect()
    counts = {
        r[0]: r[1]
        for r in con.execute(f"SELECT lang, count(*) FROM '{docs}' GROUP BY 1").fetchall()
    }
    con.close()
    th = CU.mixture_thresholds(counts, _MIX_WEIGHTS, _MIX_ROWS)
    where = CU.mixture_sample_where_sql("lang", th, "doc_id")
    return f"SELECT doc_id, lang FROM documents WHERE {where}"


@register("mixture_sample_documents", _mixture_oracle)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return CU.mixture_sample(docs, "lang", _MIX_WEIGHTS, _MIX_ROWS, "doc_id").select(
        "doc_id", "lang"
    )


# Merge-able per-bucket profile partials (operators/partials.py): the Spark
# side computes per-bucket partial metrics and MERGES them; the oracle runs
# the direct whole-table aggregate — equality is exactly the operator's
# contract (metrics maintenance without rescans). HLL distinct estimates are
# excluded here (different sketch in DuckDB) and pinned by pytest instead.
_PARTIALS_SQL = """
SELECT count(*) AS row_count,
       count(*) FILTER (WHERE text IS NULL) AS nulls__text,
       count(*) FILTER (WHERE lang IS NULL) AS nulls__lang,
       count(*) FILTER (WHERE source IS NULL) AS nulls__source,
       CAST(sum(n_chars) AS BIGINT) AS sum__n_chars,
       CAST(min(n_chars) AS BIGINT) AS min__n_chars,
       CAST(max(n_chars) AS BIGINT) AS max__n_chars
FROM documents
"""


@register("incremental_profile_documents", _PARTIALS_SQL)
def q_incremental_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.operators.partials import (
        merge_partials,
        partial_profile,
    )

    docs = t(spark, sf_dir, "documents").withColumn(
        "_bucket", (F.col("doc_id") % 8).cast("int")
    )
    cols = ["text", "lang", "source"]
    parts = partial_profile(docs, "_bucket", cols, sum_cols=["n_chars"])
    merged = merge_partials(parts, cols, sum_cols=["n_chars"])
    return merged.select(
        "row_count",
        *[F.col(f"nulls__{c}") for c in cols],
        F.col("sum__n_chars").cast("long").alias("sum__n_chars"),
        F.col("min__n_chars").cast("long").alias("min__n_chars"),
        F.col("max__n_chars").cast("long").alias("max__n_chars"),
    )


# C4-style duplicated-span REMOVAL — the action half of line_dedup_documents:
# rewrite every document keeping only the corpus-global first occurrence of
# each 8-word span (C4 §2.2 removes all-but-one occurrence). The winner
# election is a min(struct) partial agg (skew-immune), winners join back on
# 60-bit fingerprints, reassembly is one groupBy per doc.
@register(
    "line_dedup_rewrite_documents",
    DD.duplicate_span_rewrite_sql("documents", "doc_id", "text", _SPAN_WORDS),
)
def q_line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.duplicate_span_rewrite(
        t(spark, sf_dir, "documents"), "doc_id", "text", span_words=_SPAN_WORDS
    )


# Keep-rate calibration sweep for the composite text quality score: 21
# thresholds answered by ONE histogram aggregation (curation.py
# score_threshold_sweep) — the tuning step before committing a keep/drop rule.
@register(
    "quality_threshold_sweep_documents",
    CU.score_threshold_sweep_sql("documents", TX.quality_score_sql("text")),
)
def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return CU.score_threshold_sweep(docs, TX.quality_score_col(F.col("text")))


# Pre-shuffle skew audit on the key a sessionize/as-of pipeline would shuffle
# events by: the top-20 heaviest user_ids with corpus fraction and
# multiple-of-mean — the decision input for salting / AQE skew tuning.
@register("key_skew_events_user", DR.key_skew_sql("events", "user_id"))
def q_key_skew_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DR.key_skew(t(spark, sf_dir, "events"), "user_id")


# End-to-end image near-dup over real encoded payloads: synthesize the
# image-BYTES gate table (shared kernel, deterministic per doc_id; every 10th
# image = the previous image re-encoded lossy), decode + grid-luma-embed via
# the production Arrow UDF (functions/multimodal.feature_vector_udf), center
# the nonneg luma features (x − 0.5, so distinct images sit near cosine 0 and
# SRP banding can prune — measured candidate fraction <1%), then the shared
# banded-SRP near-dup operator at the production threshold. This is the
# multimodal loop closed: bytes → pixels → embedding → LSH dedup, value-checked
# against a driver-twin that replays the identical kernels (incl. the
# array<float> Arrow precision boundary) and runs the joins in DuckDB.
_IMG_EMB_T = 0.9

from data_quality_check_spark.gate_fixtures import (  # noqa: E402
    IMG_FEATURE_GRID,
    centered_image_embeddings,
    synthetic_image_bytes_df,
)


@register(
    "image_embedding_neardup",
    lambda: _OR.image_embedding_neardup_sql(
        ORACLE_SF_DIR, threshold=_IMG_EMB_T, bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_R,
    ),
)
def q_image_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = synthetic_image_bytes_df(t(spark, sf_dir, "documents"))
    centered = centered_image_embeddings(imgs)
    return SIM.neardup_pairs_lsh(
        centered, threshold=_IMG_EMB_T, bands=_EMB_LSH_BANDS,
        bits_per_band=_EMB_LSH_R, dim=IMG_FEATURE_GRID * IMG_FEATURE_GRID,
    )


# Per-language threshold calibration: the grouped sweep over the same
# composite quality score — the CCNet/Gopher-style per-language tuning table
# (a single global threshold over-filters languages whose score distribution
# sits lower).
@register(
    "quality_threshold_sweep_by_lang",
    CU.score_threshold_sweep_grouped_sql(
        "documents", TX.quality_score_sql("text"), "lang"
    ),
)
def q_quality_threshold_sweep_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return CU.score_threshold_sweep_grouped(
        docs, TX.quality_score_col(F.col("text")), "lang"
    )


# ───────────── embedding-corpus health audit (broken-shard detection) ─────────────
# The pre-flight a pipeline runs between "encoder wrote parquet" and "ANN index
# build": corpus health row (null / wrong-width / non-finite / zero-norm counts
# + norm moments, ONE row-local projection into a single no-key-shuffle
# aggregate) and the per-dimension variance-collapse audit (posexplode widened
# inside codegen, partial agg to ≤D rows per task before the one D-key
# exchange). Per-dimension analogue of the reference's per-column numeric
# profiling (engine.py:439-470) on the array axis pandas can't see.
from data_quality_check_spark.operators import embaudit as EA  # noqa: E402

_EMB_DIM = 64


@register(
    "embedding_health_embeddings",
    EA.embedding_health_sql("embeddings", "embedding", _EMB_DIM),
)
def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EA.embedding_health(
        t(spark, sf_dir, "embeddings").select("embedding"), "embedding", _EMB_DIM
    )


@register(
    "dimension_stats_embeddings",
    EA.dimension_stats_sql("embeddings", "embedding", _EMB_DIM),
)
def q_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EA.dimension_stats(
        t(spark, sf_dir, "embeddings").select("embedding"), "embedding", _EMB_DIM
    )


# Frozen-reference-counts drift: the same early→late PSI as drift_psi_events,
# but side A enters as a persisted (col, n_a) count table — the recurring-
# monitor shape where the reference corpus is NEVER rescanned (O(increment)
# per run, the SeenCorpusArtifacts contract applied to monitoring). Oracle is
# the identical recompute SQL: the overload changes the PLAN, never the answer.
@register("drift_psi_frozen_events", _DRIFT_SQL)
def q_drift_psi_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("_us")
    ).crossJoin(F.broadcast(DR.time_split_mid(ev, "ts")))
    # the "persisted" reference counts: in production this is a table written
    # once by the first run; here derived from the early split deterministically
    ref_counts = (
        tagged.filter(F.col("_us") <= F.col("_mid"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    return DR.categorical_drift_vs_counts(
        ref_counts, tagged.filter(F.col("_us") > F.col("_mid")), "event_type"
    )


# CCNet-style per-language perplexity terciles (Wenzek et al. 2019,
# arXiv:1911.00359): head/middle/tail buckets per language over the SAME
# langid+ppl UDF as model_scores_documents, bucketed by exact ntile with
# a (ppl, doc_id) total order — deterministic in both engines, no quantile
# interpolation to drift. The 10^12-row path is curation.bucket_thresholds +
# apply_bucket_thresholds (frozen per-group cuts, row-local labeling, zero
# sort); the ntile form is the calibration-time / rewrite-time shape.
@register("ppl_buckets_documents", lambda: _OR.ppl_buckets_sql(ORACLE_SF_DIR))
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.fused import with_text_scores

    df = t(spark, sf_dir, "documents").select("doc_id", "text")
    scored = with_text_scores(df, "text")
    scored = scored.select("doc_id", "lang", F.round("ppl", 4).alias("ppl"))
    return CU.score_ntile_buckets(scored, F.col("ppl"), "lang", "doc_id", n=3)


# Boilerplate-caption detector (pipeline/heuristics.boilerplate_captions —
# LAION-style stock captions attached to many distinct images). The driver
# fixture's 500 texts are all distinct, so the gate PLANTS template captions
# on 1/17 of images (3 templates, ~10 images each — identically in both
# engines, same idea as the scrub query's planted PII) so the hash check
# exercises the detection path, never the trivially-empty one. The re-crawl
# exclusion (same caption AND same phash must NOT fire) is pinned by unit
# test — the fixture's phashes are all distinct by construction.
_BP_TEMPLATE = "Image may contain: template #"


def _boilerplate_captions_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    return f"""
WITH m0 AS ({synthetic_image_meta_sql("documents")}),
m AS (
  SELECT *, CASE WHEN image_id % 17 = 0
    THEN '{_BP_TEMPLATE}' || CAST((image_id // 17) % 3 AS VARCHAR)
    ELSE caption END AS caption2
  FROM m0
)
SELECT {TX.fingerprint_sql("caption2")} AS caption_fp,
       count(*) AS n_images,
       CAST(count(DISTINCT phash) AS BIGINT) AS n_distinct_images,
       min(image_id) AS exemplar_image_id
FROM m WHERE caption2 IS NOT NULL
GROUP BY 1 HAVING count(*) >= 2 AND count(DISTINCT phash) >= 2
"""


@register("boilerplate_captions_images", _boilerplate_captions_oracle)
def q_boilerplate_captions(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    iid = F.col("image_id")
    planted = F.when(
        iid % 17 == 0,
        F.concat(F.lit(_BP_TEMPLATE), F.expr("(image_id DIV 17) % 3").cast("string")),
    ).otherwise(F.col("caption"))
    return H.boilerplate_captions(img.withColumn("caption", planted))


# ───────────── DSIR importance resampling (operators/dsir.py — Xie et al.
# 2023): select the raw-pool docs whose hashed-unigram distribution is
# closest to a target subset. Target = sources src0/src1 (10% of the corpus
# at every SF — the generator's source ids are SF-invariant). Weights are
# int64 micro-nat sums (order-independent), so the driver can value-hash
# them exactly; the oracle fits its OWN bucket counts with DuckDB and runs
# them through the shared quantization kernel, cross-checking Spark's
# distributed model fit end to end. ─────────────
from data_quality_check_spark.operators import dsir as DS  # noqa: E402

_DSIR_K = 50
_DSIR_B = 1024
_DSIR_TARGET_SQL = "source IN ('src0', 'src1')"


@register(
    "dsir_topk_documents",
    lambda: _OR.dsir_topk_sql(
        ORACLE_SF_DIR, k=_DSIR_K, n_buckets=_DSIR_B, target_sql=_DSIR_TARGET_SQL
    ),
)
def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return DS.dsir_topk(
        spark,
        docs,
        F.col("source").isin("src0", "src1"),
        k=_DSIR_K,
        n_buckets=_DSIR_B,
    )


# ───────────── SSL-prototypes pruning (similarity.prototype_prune_candidates
# — Sorscher et al. 2022): per-cluster prototypicality ranking over the same
# frozen 10-cell centroids the ANN queries use; the twin re-ranks from
# centroid literals, so assignment, cosine, and the per-cell window are all
# value-hashed against DuckDB. ─────────────
@register(
    "prototypicality_embeddings",
    lambda: _OR.prototype_prune_sql(ORACLE_SF_DIR, n_centroids=10, m=10),
)
def q_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.prototype_prune_candidates(e, n_centroids=10, m=10)


# ───────────── SDXL-style aspect-ratio bucket profile (pipeline/heuristics
# .aspect_bucket_profile): the post-filter bucketing step of an image-training
# pipeline, over the same synthetic image-metadata table as the other image
# queries. Assignment is integer milli-aspect argmin, so every output column
# is exact int arithmetic in both engines. ─────────────
def _aspect_profile_oracle() -> str:
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql
    from data_quality_check_spark.pipeline.heuristics import (
        ASPECT_LADDER,
        _ladder_milli,
    )

    values = ", ".join(
        f"({i}, {bw}, {bh}, {m})"
        for i, ((bw, bh), m) in enumerate(zip(ASPECT_LADDER, _ladder_milli(ASPECT_LADDER)))
    )
    return f"""
WITH m AS ({synthetic_image_meta_sql("documents")}),
v AS (SELECT image_id, (w * 1000) // h AS ar_milli, CAST(w AS BIGINT) * h AS pixels
      FROM m WHERE w IS NOT NULL AND h IS NOT NULL AND w > 0 AND h > 0),
ladder AS (SELECT * FROM (VALUES {values}) AS t(bucket_id, bw, bh, b_milli)),
a AS (
  SELECT image_id, ar_milli, pixels, bucket_id, bw, bh FROM (
    SELECT v.*, l.*,
           row_number() OVER (
             PARTITION BY image_id ORDER BY abs(ar_milli - b_milli), bucket_id
           ) AS rn
    FROM v CROSS JOIN ladder l
  ) WHERE rn = 1
)
SELECT CAST(bucket_id AS INT) AS bucket_id, CAST(bw AS INT) AS bw,
       CAST(bh AS INT) AS bh,
       count(*) AS n_images, CAST(sum(pixels) AS BIGINT) AS sum_pixels,
       min(ar_milli) AS min_ar_milli, max(ar_milli) AS max_ar_milli
FROM a GROUP BY 1, 2, 3
"""


@register("aspect_bucket_profile_images", _aspect_profile_oracle)
def q_aspect_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = synthetic_image_meta_df(t(spark, sf_dir, "documents"))
    return H.aspect_bucket_profile(img)


# ───────────── tokenizer-fertility audit (vocab.token_fertility): per-language
# token/char/byte volumes + fertility ratios. Integer sums are exact in both
# engines; each ratio is one double division + 6-dp round of those identical
# sums. ─────────────
_FERTILITY_SQL = """
WITH base AS (
  SELECT lang,
         CAST(len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+')) AS BIGINT) AS toks,
         CAST(length(COALESCE(text, '')) AS BIGINT) AS chars,
         CAST(strlen(COALESCE(text, '')) AS BIGINT) AS bytes
  FROM documents
),
g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(toks) AS BIGINT) AS n_tokens,
         CAST(sum(chars) AS BIGINT) AS n_chars,
         CAST(sum(bytes) AS BIGINT) AS n_bytes
  FROM base GROUP BY lang
)
SELECT lang, n_docs, n_tokens, n_chars, n_bytes,
       CASE WHEN n_tokens > 0
            THEN round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END
         AS chars_per_token,
       CASE WHEN n_tokens > 0
            THEN round(CAST(n_bytes AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END
         AS bytes_per_token,
       CASE WHEN n_docs > 0
            THEN round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) END
         AS tokens_per_doc
FROM g
"""


@register("token_fertility_documents", _FERTILITY_SQL)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    return VB.token_fertility(t(spark, sf_dir, "documents"))


# ───────────── URL-domain blocklist audit (curation.domain_profile — C4 §2.1
# / RefinedWeb URL filtering). The driver fixture's texts carry no URLs, so
# the gate PLANTS one on 1/7 of docs — 4 hosts cycling by doc_id, with mixed
# case, a :port, and a www. prefix so every normalization rule fires, and 2
# of 4 on the blocklist — identically in both engines (same pattern as the
# scrub/boilerplate planted gates). ─────────────
_DOMAIN_HOSTS = [
    "Ads.Tracker.example",
    "www.Mirror-Host.example:8080",
    "blog.example",
    "news.example",
]
_DOMAIN_BLOCKLIST = ["ads.tracker.example", "mirror-host.example"]


def _domain_profile_oracle() -> str:
    hosts = ", ".join(f"'{h}'" for h in _DOMAIN_HOSTS)
    planted = (
        "CASE WHEN doc_id % 7 = 0 THEN COALESCE(text, '') || ' see http://' || "
        f"([{hosts}])[CAST((doc_id // 7) % 4 + 1 AS INT)] || '/p/' || "
        "CAST(doc_id AS VARCHAR) ELSE text END"
    )
    return CU.domain_profile_sql(
        "documents", planted, _DOMAIN_BLOCKLIST, "doc_id"
    )


@register("domain_blocklist_documents", _domain_profile_oracle)
def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dom = F.element_at(
        F.array(*[F.lit(h) for h in _DOMAIN_HOSTS]),
        (F.expr("(doc_id DIV 7) % 4") + 1).cast("int"),
    )
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" see http://"),
            dom,
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise(F.col("text"))
    return CU.domain_profile(
        docs.withColumn("text", planted), "text", _DOMAIN_BLOCKLIST, "doc_id"
    )


# ───────────── corpus snapshot diff (drift.snapshot_diff): v1 = documents,
# v2 derived deterministically in BOTH engines — 1/13 removed, 1/11 edited
# (removal wins on overlap), 1/17 re-keyed as additions — so all four change
# classes fire and the full-outer reconciliation is value-hashed. ─────────────
_DIFF_COLS = ["text", "lang", "source", "n_chars"]


def _snapshot_v2_sql() -> str:
    return """(
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN COALESCE(text, '') || ' [edited]'
              ELSE text END AS text,
         lang, source, n_chars
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 17 = 0
)"""


@register(
    "snapshot_diff_documents",
    lambda: DR.snapshot_diff_sql(
        "documents", _snapshot_v2_sql(), "doc_id", _DIFF_COLS
    ),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", *_DIFF_COLS)
    did = F.col("doc_id")
    edited = F.when(
        did % 11 == 0,
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [edited]")),
    ).otherwise(F.col("text"))
    v2 = docs.filter(did % 13 != 0).withColumn("text", edited)
    adds = docs.filter(did % 17 == 0).withColumn("doc_id", did + 1000000)
    return DR.snapshot_diff(
        docs, v2.unionByName(adds), "doc_id", _DIFF_COLS
    )


# ───────────── Gopher document-quality rules (heuristics.gopher_flags — Rae
# et al. 2021 §A1.1) on the gate's documents table: all seven flags + the
# combined keep, one codegen projection. Every ratio rule is cross-multiplied
# integer arithmetic, so the booleans hash identically cross-engine. The
# fixture's word-salad texts fire only word_count/few_stopwords, so the gate
# PLANTS one violating (or deliberately CLEAN) text on 1/9 of docs — five
# shapes cycling by doc_id, identically in both engines (same convention as
# the scrub/boilerplate/domain planted gates) — so every rule's true AND
# false branches are exercised by the value hash. ─────────────
_GOPHER_PLANTS = [
    "- alpha\n- beta\n- gamma",                  # bullet_lines (3/3)
    "first...\nsecond...\nthird",                # ellipsis_lines (2/3)
    "## ## ## ## few words here",                 # symbol_ratio (4 hashes / 7 words)
    ("the quick brown fox jumps over that lazy dog have with be of " * 4),
    #   ^ 52 words, mean len 3.69, ≥2 stopwords, all-alpha → every flag FALSE
    ":: !! ?? ;; ~~",                             # low_alpha_words + mean_word_len
]


def _sqlq(s: str) -> str:
    """Render a Python literal for DuckDB: standard '' quoting, newlines via
    chr(10) so the twin never depends on escape processing."""
    parts = [p.replace("'", "''") for p in s.split("\n")]
    return " || chr(10) || ".join(f"'{p}'" for p in parts)


def _gopher_oracle() -> str:
    plants = ", ".join(_sqlq(p) for p in _GOPHER_PLANTS)
    planted = (
        f"CASE WHEN doc_id % 9 = 0 THEN ([{plants}])[CAST((doc_id // 9) % 5 + 1 AS INT)] "
        "ELSE text END"
    )
    exprs = H.gopher_flags_sql(planted)
    return (
        "SELECT doc_id,\n"
        + ",\n".join(f"       {e} AS {k}" for k, e in exprs.items())
        + ",\n       NOT ("
        + " OR ".join(exprs.values())
        + ") AS keep\nFROM documents"
    )


@register("gopher_quality_documents", _gopher_oracle)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 9 == 0,
        F.element_at(
            F.array(*[F.lit(p) for p in _GOPHER_PLANTS]),
            (F.expr("(doc_id DIV 9) % 5") + 1).cast("int"),
        ),
    ).otherwise(F.col("text"))
    flags = H.gopher_flags(planted)
    keep = F.lit(True)
    for v in flags.values():
        keep = keep & ~v
    return df.select(
        "doc_id", *[v.alias(k) for k, v in flags.items()], keep.alias("keep")
    )


# ───────────── SoftDeDup frequency downweighting (dedup.soft_dedup_weights —
# He et al. 2024): keep duplicates, downweight by 1/commonness. The fixture's
# 500 texts are all distinct (weights trivially 1.0), so the gate plants 3
# shared payloads on 1/10 of docs — identically in both engines — so the
# count-join and the 1/n division are exercised by the value hash. ─────────────
_SOFTDUP_TEMPLATE = "duplicate payload #"


def _soft_dedup_oracle() -> str:
    planted = (
        "CASE WHEN doc_id % 10 = 1 THEN "
        f"'{_SOFTDUP_TEMPLATE}' || CAST((doc_id // 10) % 3 AS VARCHAR) "
        "ELSE text END"
    )
    return f"""
WITH d AS (SELECT doc_id, {planted} AS text FROM documents),
fp AS (SELECT doc_id, COALESCE({TX.fingerprint_sql('text')}, chr(0) || 'null') AS f FROM d),
c AS (SELECT f, count(*) AS dup_count FROM fp GROUP BY 1)
SELECT fp.doc_id, c.dup_count, 1.0 / c.dup_count AS weight
FROM fp JOIN c USING (f)
"""


@register("soft_dedup_weights_documents", _soft_dedup_oracle)
def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.when(
        F.col("doc_id") % 10 == 1,
        F.concat(
            F.lit(_SOFTDUP_TEMPLATE),
            F.expr("(doc_id DIV 10) % 3").cast("string"),
        ),
    ).otherwise(F.col("text"))
    return DD.soft_dedup_weights(
        docs.withColumn("text", planted), "doc_id", "text"
    )


# ───────────── corpus layout audit (sources/layout.py): rows-per-file
# distribution summary — the small-files / straggler-file detector. The
# fixture is one file, so the summary is its degenerate (and still
# value-hashed) case; the multi-file behavior is pinned by unit test. ─────────────
from data_quality_check_spark.sources.layout import (  # noqa: E402
    layout_audit,
    layout_audit_sql,
)


@register(
    "layout_audit_documents",
    lambda: layout_audit_sql(os.path.join(ORACLE_SF_DIR, "documents.parquet")),
)
def q_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_audit(spark, os.path.join(sf_dir, "documents.parquet"))


# ───────────── LAION-style alignment-threshold calibration (composition:
# functions/alignment × curation.score_threshold_sweep — LAION-400M §3.1
# keeps pairs above CLIP similarity 0.28; this is the sweep that PICKS such a
# cutoff). The cosine is rescaled to [0,1] as (s+1)/2 — one identical IEEE
# op in both engines over the identically-rounded 6-dp scores the alignment
# gate already value-hashes — and swept with the shared one-agg histogram. ─────────────
def _alignment_sweep_oracle() -> str:
    from data_quality_check_spark.operators.curation import (
        score_threshold_sweep_sql,
    )

    inner = f"({_OR.alignment_sql(ORACLE_SF_DIR, _ALIGN_TAU)})"
    return score_threshold_sweep_sql(inner, "(align_score + 1) / 2")


@register("alignment_threshold_sweep_images", _alignment_sweep_oracle)
def q_alignment_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.alignment import with_alignment

    img = synthetic_image_meta_df(t(spark, sf_dir, "documents")).select(
        "image_id", "caption", "phash"
    )
    out = with_alignment(img, "caption", "phash", _ALIGN_TAU).select(
        ((F.round("align_score", 6) + F.lit(1.0)) / F.lit(2.0)).alias("_s01")
    )
    return CU.score_threshold_sweep(out, F.col("_s01"))


# ───────────── concat-and-chunk sequence construction (operators/sequences —
# the GPT-2/Pile recipe: seeded-order concat with EOS separators, cut into
# fixed-length windows). The Spark side computes global offsets with the
# two-phase range-bucket prefix sum; the twin uses one global window — same
# offsets, different plan — so the value hash pins order, slicing, and
# reassembly token-for-token. ─────────────
from data_quality_check_spark.operators import sequences as SQ  # noqa: E402

_SEQ_LEN = 128


@register(
    "pack_sequences_documents",
    SQ.pack_sequences_sql("documents", "doc_id", "text", _SEQ_LEN),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SQ.pack_sequences(
        t(spark, sf_dir, "documents"), "doc_id", "text", seq_len=_SEQ_LEN
    )


# ───────────── KS drift statistic (drift.ks_statistic): the two-sample
# Kolmogorov–Smirnov distance over the SAME binned early/late split the PSI
# query monitors — the classic test statistic next to PSI's divergence. Twin
# = the generated numeric_drift twin piped through the KS twin. ─────────────
@register("ks_drift_events_value", DR.ks_statistic_sql(_NDRIFT_SQL))
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME binned frame as the PSI monitor — one definition of the split
    # and binning, exactly like the oracle composes the PSI twin's SQL
    return DR.ks_statistic(q_numeric_drift(spark, sf_dir))


# ───────────── language↔script consistency audit (functions/text
# dominant_script_col): declared `lang` vs the script the TEXT is actually
# written in — the mislabeled-language detector CCNet-style pipelines run
# before per-language processing (a "zh" doc in pure Latin script is a
# labeling bug, not Chinese training data; the fixture's word-salad zh docs
# are exactly that, so the audit fires on real fixture content). The gate
# additionally PLANTS CJK text on 1/16 of docs and Cyrillic on another 1/16
# — identically in both engines — so match, mismatch, none, and
# no-expectation branches all carry rows. ─────────────
_SCRIPT_PLANT_CJK = "数据质量检查流水线的中文示例文本，覆盖统一表意文字区段。"
_SCRIPT_PLANT_CYR = "проверка качества данных в конвейере обработки корпуса"


def _script_planted_sql() -> str:
    return (
        "CASE WHEN doc_id % 16 = 2 THEN '" + _SCRIPT_PLANT_CJK + "' "
        "WHEN doc_id % 16 = 5 THEN '" + _SCRIPT_PLANT_CYR + "' "
        "ELSE text END"
    )


def _script_mismatch_oracle() -> str:
    planted = _script_planted_sql()
    dom = TX.dominant_script_sql(planted)
    exp = TX.expected_script_sql("lang")
    return f"""
SELECT lang, {dom} AS dominant_script,
       COALESCE({exp} IS NOT NULL AND {dom} <> 'none'
                AND {dom} <> {exp}, FALSE) AS mismatch,
       count(*) AS n_docs, min(doc_id) AS example_doc_id
FROM documents
GROUP BY 1, 2, 3
"""


@register("script_mismatch_documents", _script_mismatch_oracle)
def q_script_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    did = F.col("doc_id")
    planted = (
        F.when(did % 16 == 2, F.lit(_SCRIPT_PLANT_CJK))
        .when(did % 16 == 5, F.lit(_SCRIPT_PLANT_CYR))
        .otherwise(F.col("text"))
    )
    dom = TX.dominant_script_col(planted)
    exp = TX.expected_script_col(F.col("lang"))
    mismatch = F.coalesce(
        exp.isNotNull() & (dom != "none") & (dom != exp), F.lit(False)
    )
    return docs.groupBy(
        "lang", dom.alias("dominant_script"), mismatch.alias("mismatch")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("example_doc_id"),
    )


# ───────────── frozen-edges numeric drift (the numeric sibling of
# drift_psi_frozen_events): bins pinned to a persisted [lo, hi) calibration —
# the recurring-monitor shape where today's run never rescans to derive a
# span, and bins stay comparable across runs. Values outside the frozen span
# clamp into the edge bins by the operator's contract. ─────────────
_NDRIFT_FROZEN_EDGES = (0.0, 500.0)

_NDRIFT_FROZEN_SQL = DR.numeric_drift_sql(
    f"(SELECT value FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) <= _mid)",
    f"(SELECT value FROM events, {_DRIFT_MID_SQL} WHERE epoch_us(ts) > _mid)",
    "value",
    edges=_NDRIFT_FROZEN_EDGES,
)


@register("numeric_drift_frozen_events", _NDRIFT_FROZEN_SQL)
def q_numeric_drift_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    tagged = ev.select(
        "value", F.unix_micros(F.col("ts").cast("timestamp")).alias("_us")
    ).crossJoin(F.broadcast(DR.time_split_mid(ev, "ts")))
    return DR.numeric_drift(
        tagged.filter(F.col("_us") <= F.col("_mid")),
        tagged.filter(F.col("_us") > F.col("_mid")),
        "value",
        edges=_NDRIFT_FROZEN_EDGES,
    )


# ───────────── encoding-health (mojibake) audit (operators/encoding): the
# CCNet-style pre-langid transport-encoding scan. The driver fixture's texts
# are clean ASCII, so the gate PLANTS each marker family deterministically —
# mojibake digraphs on 1/19 of docs, a replacement char on 1/23, an NBSP on
# 1/31, a control byte on 1/37 (cumulative, so overlap cases fire several
# families at once) — identically in both engines, same pattern as the
# scrub/domain planted gates. Special chars are spelled chr(n) in the SQL
# twin so the oracle text stays ASCII. ─────────────
from data_quality_check_spark.operators import encoding as EN  # noqa: E402

_ENC_PLANTS = [  # (modulus, spark literal, duckdb literal expr)
    (19, " cafÃ©", "' caf' || chr(195) || chr(169)"),
    (23, " \ufffd", "' ' || chr(65533)"),
    (31, "\u00a0x", "chr(160) || 'x'"),
    (37, "\x07", "chr(7)"),
]


def _enc_planted_sql() -> str:
    cases = " || ".join(
        f"CASE WHEN doc_id % {m} = 0 THEN {lit} ELSE '' END"
        for m, _, lit in _ENC_PLANTS
    )
    return EN.encoding_audit_sql(
        "documents", f"(COALESCE(text, '') || {cases})", "lang"
    )


@register("encoding_audit_documents", _enc_planted_sql)
def q_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        *[
            F.when(F.col("doc_id") % m == 0, F.lit(s)).otherwise(F.lit(""))
            for m, s, _ in _ENC_PLANTS
        ],
    )
    return EN.encoding_audit(
        docs.withColumn("text", planted), "text", "lang"
    )


# ───────────── asymmetric containment dedup (dedup.containment_pairs): the
# short-doc-quoted-inside-long-doc family a Jaccard threshold misses. The
# fixture has no engineered containment pairs, so the gate PLANTS them: for
# 1/29 of docs, a new doc (id + 3000000) whose text is the first
# ceil(n/2) characters of the host — its shingles are a near-subset of the
# host's (containment ≈1) while Jaccard sits near 0.5, below the _JACCARD_T
# pair gate. Prefix derivation is the identical substr/ceil expression in
# both engines. ─────────────
_CONTAIN_T = 0.9
# plant moduli shared with bench.candidate_fractions (the candidate-universe
# denominators must track these, so they live here, not as magic numbers)
CONTAIN_PLANT_MOD = 29
ASYM_PLANT_MOD = 17
_CONTAIN_V2_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         substr(COALESCE(text, ''), 1,
                CAST(ceil(length(COALESCE(text, '')) / 2.0) AS INT)) AS text
  FROM documents WHERE doc_id % {CONTAIN_PLANT_MOD} = 0
)"""


@register(
    "containment_neardup_documents",
    DD.containment_pairs_sql(
        _CONTAIN_V2_SQL, "doc_id", "text", _CONTAIN_T, _SHINGLE_N
    ),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    half = F.expr(
        "substring(COALESCE(text, ''), 1, "
        "CAST(ceil(length(COALESCE(text, '')) / 2.0) AS INT))"
    )
    planted = docs.filter(F.col("doc_id") % CONTAIN_PLANT_MOD == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), half.alias("text")
    )
    return DD.containment_pairs(
        docs.unionByName(planted), "doc_id", "text", _CONTAIN_T,
        ngram=_SHINGLE_N,
    )


# ───────────── EXTREME-asymmetry containment (dedup.containment_pairs_asym,
# VERDICT r4 task 1): quoted-snippet dedup at size ratio ρ ≥ ~8, where the
# banded path's Jaccard-governed recall has collapsed. The gate plants
# word-SAFE prefixes (first max(3, ⌊n_words/8⌋) words of 1/17 of docs, id +
# 4000000) so every planted short's shingle set is a strict subset of its
# host's — containment exactly 1.0 at Jaccard ≈ 0.1 — via the identical
# split/slice/join expression in both engines. The operator's rare-prefix
# probe join is recall-1.0 by pigeonhole, so the oracle is the EXACT
# containment SQL plus the size-ratio predicate: the driver value-hashes the
# sub-quadratic path against brute force. ─────────────
_ASYM_RATIO = 4.0
_ASYM_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 4000000 AS doc_id,
         array_to_string(list_slice(string_split(COALESCE(text, ''), ' '), 1,
             greatest(3, len(string_split(COALESCE(text, ''), ' ')) // 8)),
             ' ') AS text
  FROM documents WHERE doc_id % {ASYM_PLANT_MOD} = 0
)"""


@register(
    "containment_asym_documents",
    DD.containment_pairs_asym_sql(
        _ASYM_SQL, "doc_id", "text", _CONTAIN_T, _SHINGLE_N,
        min_size_ratio=_ASYM_RATIO,
    ),
)
def q_containment_pairs_asym(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix = F.expr(
        "array_join(slice(split(COALESCE(text, ''), ' '), 1, "
        "greatest(3, size(split(COALESCE(text, ''), ' ')) DIV 8)), ' ')"
    )
    planted = docs.filter(F.col("doc_id") % ASYM_PLANT_MOD == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"), prefix.alias("text")
    )
    return DD.containment_pairs_asym(
        docs.unionByName(planted), "doc_id", "text", _CONTAIN_T,
        ngram=_SHINGLE_N, min_size_ratio=_ASYM_RATIO,
    )


# ───────────── keep/drop decision evaluation (curation.decision_eval): the
# north rule's acceptance measurement — confusion cells + precision/recall/F1
# vs reference labels — as a first-class distributed operator. The gate
# derives "pipeline decision" (whitespace tokens ≥ 45) and "reference label"
# (n_chars ≥ 250) from the same docs so every confusion cell carries rows,
# and withholds both on 1/41 of docs to exercise the NULL-exclusion
# (`n_unlabeled`) policy; F1 comes straight from the integer cells, one IEEE
# division in both engines. ─────────────
_EVAL_PRED_SQL = (  # doc_id IS NULL joins the withheld branch: Spark's
    # NULL%41==0 is NULL, so F.when yields NULL pred/label — the twin must too
    "CASE WHEN doc_id IS NULL OR doc_id % 41 = 0 OR text IS NULL THEN NULL "
    f"ELSE ({TX.token_count_sql('text')}) >= 45 END"
)
_EVAL_LABEL_SQL = (
    "CASE WHEN doc_id IS NULL OR doc_id % 41 = 0 OR text IS NULL THEN NULL "
    "ELSE n_chars >= 250 END"
)


@register(
    "keep_eval_documents",
    CU.decision_eval_sql("documents", _EVAL_PRED_SQL, _EVAL_LABEL_SQL, "lang"),
)
def q_keep_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    withheld = (F.col("doc_id") % 41 == 0) | F.col("text").isNull()
    pred = F.when(~withheld, TX.token_count_col(F.col("text")) >= 45)
    label = F.when(~withheld, F.col("n_chars") >= 250)
    return CU.decision_eval(
        docs.withColumn("_p", pred).withColumn("_l", label), "_p", "_l", "lang"
    )


# ───────────── PII/toxicity density audit (scrub.pii_density): the
# decide-scrub-vs-drop measurement BEFORE the rewrite pass, per language, over
# the same planted captions as scrub_documents so every class fires. The
# oracle is the compiled-re golden per-doc counts (the patterns' ASCII
# lookarounds exist in Java and python re but not RE2 — scrub_sql's
# contract), aggregated in genuine DuckDB SQL. ─────────────
@register("pii_density_documents", lambda: _OR.pii_density_sql(ORACLE_SF_DIR))
def q_pii_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.scrub import pii_density

    docs = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return pii_density(
        docs.withColumn("text", _planted_caption_col()), "text", "lang"
    )


# ───────────── per-doc novelty vs the seen corpus (dedup.novelty_scores):
# the scoring companion to dedup_incremental over the SAME increment/seen
# split — fraction of each new doc's distinct shingles never seen before.
# Fingerprints are the 60-bit md5-prefix keys both engines compute
# identically, so collision behavior is shared and the oracle is exact. ─────────────
@register(
    "novelty_scores_documents",
    DD.novelty_scores_sql(
        _INC_NEW_SQL, _INC_SEEN_SQL, "doc_id", "text", _SHINGLE_N
    ),
)
def q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # artifact path: the seen side reads the SAME scratch-cached warehouse as
    # dedup_incremental_documents (persisted `toks` rows — the corpus text is
    # never re-tokenized); the oracle recomputes from raw text, so the gate
    # also pins artifact-path ≡ recompute equivalence driver-side
    return DD.novelty_scores(
        docs.filter(F.col("doc_id") % 4 == 0),
        None,
        "doc_id",
        "text",
        ngram=_SHINGLE_N,
        seen_artifacts=_seen_corpus_artifacts(spark, sf_dir),
    )


# ───────────── vocabulary drift between snapshots (drift.vocab_drift):
# token-distribution PSI over the union top-k + <other> residual — the
# vocabulary-level shift monitor beside the categorical/numeric/profile
# drift family, over the same early/late split as the PSI gates (source
# column stands in for snapshots: src0+src1 vs the rest — a real mix shift,
# so psi_terms are meaningfully nonzero). ─────────────
_VOCAB_DRIFT_A_SQL = "(SELECT text FROM documents WHERE source IN ('src0','src1'))"
_VOCAB_DRIFT_B_SQL = "(SELECT text FROM documents WHERE source NOT IN ('src0','src1') OR source IS NULL)"


@register(
    "vocab_drift_documents",
    DR.vocab_drift_sql(_VOCAB_DRIFT_A_SQL, _VOCAB_DRIFT_B_SQL, "text", k=40),
)
def q_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    in_a = F.col("source").isin("src0", "src1")
    return DR.vocab_drift(
        docs.filter(in_a), docs.filter(~F.coalesce(in_a, F.lit(False))), "text", k=40
    )


# ───────────── per-format decode-health audit (multimodal.decode_health):
# the pre-flight between "crawler wrote bytes" and any pixel-touching stage,
# over the synthetic image-bytes table with DETERMINISTIC planted corruption
# (1/9 truncated below the header, else 1/13 loses its magic byte) applied
# identically in both engines — binary substring surgery in Spark, slicing in
# the python twin. All outputs exact int64. ─────────────
@register("decode_health_images", lambda: _OR.decode_health_sql(ORACLE_SF_DIR))
def q_decode_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_quality_check_spark.functions.multimodal import decode_health
    from data_quality_check_spark.gate_fixtures import synthetic_image_bytes_df

    imgs = synthetic_image_bytes_df(t(spark, sf_dir, "documents"))
    corrupted = imgs.withColumn(
        "bytes",
        F.when(F.col("image_id") % 9 == 0, F.expr("substring(bytes, 1, 8)"))
        .when(F.col("image_id") % 13 == 0, F.expr("substring(bytes, 2, length(bytes))"))
        .otherwise(F.col("bytes")),
    )
    return decode_health(corrupted, "bytes", "fmt")


# ───────────── ANN index-quality audit (similarity.topk_recall): per-query
# recall of the SRP-LSH top-k against the exact brute-force top-k — the
# pytest recall gate promoted to a driver-checked operator. Both inputs are
# already-verified gate queries; the oracle composes their twins (exact SQL
# and the driver-twin LSH oracle) through the same recall SQL. ─────────────
@register(
    "ann_recall_lsh_vs_exact",
    lambda: SIM.topk_recall_sql(
        _OR.ann_lsh_sql(k=_ANN_K, n_bits=8, dim=64), _ANN_SQL
    ),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _ann_queries(spark, sf_dir)
    approx = SIM.ann_lsh_topk(e, q, k=_ANN_K, n_bits=8)
    exact = SIM.cosine_topk(e, q, k=_ANN_K)
    return SIM.topk_recall(approx, exact)
