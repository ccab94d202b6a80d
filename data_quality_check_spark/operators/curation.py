"""Corpus-curation operators a training-data pipeline runs AFTER quality
scoring and dedup: quota (stratified) downsampling, per-cluster canonical-doc
election, and train/eval contamination detection.

These are the "decide what ships" steps the reference's interactive app leaves
to the analyst (app_v3.py surfaces scores and duplicates but has no corpus
assembly step); here they are first-class distributed operators with DuckDB
oracle twins.

Scale notes (100 TB):
  * `quota_sample` uses `row_number() <= k` over a window — Spark ≥3.5 rewrites
    this into map-side `WindowGroupLimit` partial top-k BEFORE the shuffle
    (InferWindowGroupLimit), so each map task forwards at most `quota` rows per
    group it sees: the shuffle is bounded by quota × groups × tasks, not by the
    corpus. A plan test pins the WindowGroupLimit node.
  * `keep_best` joins the (small, dup-rate-proportional) cluster table back to
    the corpus — the same size-gated broadcast/shuffle decision as
    pipeline.run's dup_decisions; AQE picks broadcast when it fits. The
    election window partitions by cluster component, whose groups are tiny
    (near-dup cluster sizes), so no skew concern.
  * `contamination_overlap` broadcasts the EVAL shingle universe — eval
    benchmarks are a few thousand documents against a 10^12-token train side,
    so the broadcast is the textbook small-side choice; the train side is a
    map-side explode + broadcast-hash semi-probe + re-agg by doc id (one
    shuffle keyed by doc id, combiner-friendly counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from data_quality_check_spark.operators.dedup import shingles_col, shingles_sql
from data_quality_check_spark.record import current

# Deterministic LCG scramble (Knuth/glibc constants) used as the "random"
# sampling key so Spark and the DuckDB oracle order rows identically.
# Inputs are row ids ≤ ~10^7 at test scales, so id * 1103515245 stays far
# inside int64; at larger id ranges use the (id % 2^31) pre-fold below.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2_147_483_648


def _sample_key(id_col: str) -> F.Column:
    return (F.col(id_col) % _LCG_M * _LCG_A + _LCG_C) % _LCG_M


def _sample_key_sql(id_col: str) -> str:
    return f"(({id_col} % {_LCG_M}) * {_LCG_A} + {_LCG_C}) % {_LCG_M}"


def quota_sample(
    df: DataFrame, id_col: str, group_col: str, quota: int
) -> DataFrame:
    """Keep at most `quota` rows per `group_col` value, chosen by a seeded
    deterministic pseudo-random order (LCG scramble of the id) — the classic
    "cap over-represented languages/domains" rebalancing step.

    Emits the surviving rows' (id, group, quota_rank). Deterministic across
    runs, partitionings, and engines: the order key is a pure function of the
    id, not of physical row placement (no rand(), no monotonically_increasing_id).
    """
    w = Window.partitionBy(group_col).orderBy("_qkey", id_col)
    return (
        df.select(id_col, group_col, _sample_key(id_col).alias("_qkey"))
        .withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= quota)
        .drop("_qkey")
    )


def quota_sample_sql(table: str, id_col: str, group_col: str, quota: int) -> str:
    """DuckDB twin of `quota_sample`."""
    key = _sample_key_sql(id_col)
    return f"""
WITH r AS (
  SELECT {id_col}, {group_col},
         row_number() OVER (PARTITION BY {group_col}
                            ORDER BY {key}, {id_col}) AS quota_rank
  FROM {table}
)
SELECT {id_col}, {group_col}, CAST(quota_rank AS BIGINT) AS quota_rank
FROM r WHERE quota_rank <= {quota}
"""


def keep_best(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Elect ONE canonical document per near-dup cluster: the highest
    `quality_col` (ties broken by smallest id). Returns every clustered row
    with its component, cluster size, quality, and a `keep` flag — the dedup
    pipeline drops `keep = false` rows and unions the (untouched) singletons.

    `clusters` is the output of dedup.neardup_clusters[_minhash]
    (id_col, component, csize).
    """
    joined = df.select(id_col, quality_col).join(clusters, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return joined.withColumn(
        "keep", F.row_number().over(w) == F.lit(1)
    ).select(id_col, "component", "csize", quality_col, "keep")


def keep_best_sql(
    table: str, clusters_sql: str, id_col: str, quality_col: str
) -> str:
    """DuckDB twin of `keep_best`; `clusters_sql` is any query emitting
    ({id_col}, component, csize) — e.g. dedup.neardup_clusters_sql(...)."""
    return f"""
WITH clusters AS ({clusters_sql}),
j AS (
  SELECT t.{id_col}, c.component, c.csize, t.{quality_col},
         row_number() OVER (PARTITION BY c.component
                            ORDER BY t.{quality_col} DESC, t.{id_col}) AS rn
  FROM {table} t JOIN clusters c USING ({id_col})
)
SELECT {id_col}, component, csize, {quality_col}, rn = 1 AS keep FROM j
"""


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold_pct: int = 50,
) -> DataFrame:
    """Flag training documents whose shingle sets overlap an evaluation set —
    the train/test contamination check every LLM data pipeline runs before a
    corpus ships (n-gram overlap as in GPT-3 §C / PaLM dedup appendices).

    For each train doc with ≥1 shared shingle: `n_tok` distinct shingles,
    `n_shared` of them present anywhere in the eval set, and a `contaminated`
    flag at n_shared/n_tok ≥ threshold_pct% — computed in integer arithmetic
    (100*n_shared >= threshold_pct*n_tok) so engines can't drift on float
    rounding.

    The eval shingle universe is deduped, then sized by `RunRecord.local`:
    an eval benchmark (tiny next to the train corpus) broadcasts as a local
    relation, and the train side never shuffles its text — only
    (id, matched-token) pairs move, re-aggregated map-side by id. A
    corpus-vs-corpus check whose "eval" side is past `record.BROADCAST_ROWS`
    probes the pinned universe through a plain shuffled equi-join on the
    token instead, with AQE handling hot-shingle skew.
    """
    toks = train.select(
        F.col(id_col).alias("_id"), shingles_col(text_col, ngram).alias("_toks")
    ).filter(F.size("_toks") > 0)
    exploded = toks.select("_id", F.size("_toks").alias("n_tok"),
                           F.explode("_toks").alias("tok"))
    eval_toks, _ = current().local(
        eval_df.select(F.explode(shingles_col(text_col, ngram)).alias("tok"))
        .distinct()
    )
    shared = exploded.join(eval_toks, "tok").groupBy(
        "_id", "n_tok"
    ).agg(F.count(F.lit(1)).alias("n_shared"))
    return shared.select(
        F.col("_id").alias(id_col),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_shared").cast("long").alias("n_shared"),
        (F.lit(100) * F.col("n_shared") >= F.lit(threshold_pct) * F.col("n_tok"))
        .alias("contaminated"),
    )


def contamination_overlap_sql(
    train_sql: str,
    eval_sql: str,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold_pct: int = 50,
) -> str:
    """DuckDB twin of `contamination_overlap`; train_sql/eval_sql are queries
    emitting ({id_col}, {text_col})."""
    sh = shingles_sql(text_col, ngram)
    return f"""
WITH train_sh0 AS (
  SELECT {id_col} AS _id, {sh} AS toks FROM ({train_sql})
),
train_sh AS (SELECT * FROM train_sh0 WHERE len(toks) > 0),
train_tok AS (
  SELECT _id, len(toks) AS n_tok, unnest(toks) AS tok FROM train_sh
),
eval_tok AS (
  SELECT DISTINCT unnest({sh}) AS tok FROM ({eval_sql})
),
shared AS (
  SELECT t._id, t.n_tok, count(*) AS n_shared
  FROM train_tok t JOIN eval_tok e USING (tok)
  GROUP BY t._id, t.n_tok
)
SELECT _id AS {id_col}, CAST(n_tok AS BIGINT) AS n_tok,
       CAST(n_shared AS BIGINT) AS n_shared,
       100 * n_shared >= {threshold_pct} * n_tok AS contaminated
FROM shared
"""

def pack_token_budget(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    budget: int,
) -> DataFrame:
    """Greedy per-group token-budget packing: walk each group in the seeded
    deterministic order and keep documents while the running token total stays
    within `budget` — the "assemble an N-token corpus with a fixed language /
    domain mix" step of a training-data build.

    Emits survivors with their token count and the running total (`cum_tokens`
    ≤ budget). Deterministic: order is the LCG scramble of the id (ties
    impossible — the id breaks them), so results are partitioning- and
    engine-invariant.

    Scale: a running sum needs a per-group sort, so groups shuffle whole —
    fine for the intended group arity (languages/domains/sources: tens to
    thousands of groups). When one group is a large fraction of a 10^12-row
    corpus, use `pack_token_budget_scalable` below: the exact two-phase
    bucket decomposition with no per-group global sort.
    """
    from data_quality_check_spark.functions.text import token_count_col

    w = (
        Window.partitionBy(group_col)
        .orderBy("_qkey", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            id_col,
            group_col,
            _sample_key(id_col).alias("_qkey"),
            token_count_col(F.col(text_col)).cast("long").alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
        .drop("_qkey")
    )


def pack_token_budget_sql(
    table: str, id_col: str, group_col: str, text_col: str, budget: int
) -> str:
    """DuckDB twin of `pack_token_budget`."""
    from data_quality_check_spark.functions.text import token_count_sql

    key = _sample_key_sql(id_col)
    ntok = token_count_sql(text_col)
    return f"""
WITH r AS (
  SELECT {id_col}, {group_col}, CAST({ntok} AS BIGINT) AS n_tokens,
         sum(CAST({ntok} AS BIGINT)) OVER (
           PARTITION BY {group_col} ORDER BY {key}, {id_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM {table}
)
SELECT {id_col}, {group_col}, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= {budget}
"""

def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dup_pct: int = 5,
) -> DataFrame:
    """Intra-document repetition signals (Gopher §A1.1-style "repetition
    removal"): total vs distinct word n-gram counts for n=1,2,3 and a
    `repetitive` flag when ≥ dup_pct% of a doc's 2-grams are repeats (the
    2-gram fraction is the most discriminative of the three on caption-length
    text; Gopher applies the same rule family across n).

    Pure JVM expressions (one codegen projection, no shuffle, no UDF): totals
    are arithmetic on the whitespace token count; distincts are sizes of the
    same shingle arrays the dedup operators use. The flag compares in integer
    arithmetic (100·(n2−d2) ≥ dup_pct·n2) so engines can't drift on float
    rounding. Docs with zero tokens report all zeros, not null/negative sizes.
    """
    from data_quality_check_spark.functions.text import token_count_col

    c = F.col(text_col)
    n1 = token_count_col(c).cast("long")
    zero = n1 == 0

    def _distinct(n: int) -> F.Column:
        return (
            F.when(zero, F.lit(0))
            .otherwise(F.size(shingles_col(text_col, n)))
            .cast("long")
        )

    n2 = F.greatest(n1 - 1, F.lit(0)).cast("long")
    n3 = F.greatest(n1 - 2, F.lit(0)).cast("long")
    d2 = _distinct(2)
    return df.select(
        id_col,
        n1.alias("n_words"),
        _distinct(1).alias("distinct_words"),
        n2.alias("n_2grams"),
        d2.alias("distinct_2grams"),
        n3.alias("n_3grams"),
        _distinct(3).alias("distinct_3grams"),
        ((n2 > 0) & (F.lit(100) * (n2 - d2) >= F.lit(dup_pct) * n2)).alias(
            "repetitive"
        ),
    )


def repetition_stats_sql(
    table: str, id_col: str, text_col: str, dup_pct: int = 5
) -> str:
    """DuckDB twin of `repetition_stats`."""
    from data_quality_check_spark.functions.text import token_count_sql

    ntok = token_count_sql(text_col)

    def _d(n: int) -> str:
        return (
            f"CASE WHEN ({ntok}) = 0 THEN 0 "
            f"ELSE len({shingles_sql(text_col, n)}) END"
        )

    return f"""
WITH r AS (
  SELECT {id_col},
         CAST({ntok} AS BIGINT) AS n_words,
         CAST({_d(1)} AS BIGINT) AS distinct_words,
         CAST({_d(2)} AS BIGINT) AS distinct_2grams,
         CAST({_d(3)} AS BIGINT) AS distinct_3grams
  FROM {table}
)
SELECT {id_col}, n_words, distinct_words,
       CAST(greatest(n_words - 1, 0) AS BIGINT) AS n_2grams, distinct_2grams,
       CAST(greatest(n_words - 2, 0) AS BIGINT) AS n_3grams, distinct_3grams,
       greatest(n_words - 1, 0) > 0
         AND 100 * (greatest(n_words - 1, 0) - distinct_2grams)
             >= {dup_pct} * greatest(n_words - 1, 0) AS repetitive
FROM r
"""

def decision_eval(
    df: DataFrame,
    pred_col,
    label_col,
    group_col: str | None = None,
) -> DataFrame:
    """Keep/drop decision evaluation: confusion cells + precision/recall/F1
    (per `group_col` when given, else one corpus row) — the measurement behind
    the north rule's "keep/drop F1 ≥ 0.99 vs reference labels" acceptance
    gate, as a first-class distributed operator rather than a driver-side
    pandas diff. `pred_col`/`label_col` are boolean Columns (or names);
    rows where EITHER is NULL are excluded from the cells and surfaced in
    `n_unlabeled` — an unlabeled row is missing evidence, not a false
    anything.

    F1 is computed straight from the integer cells (2·tp / (2·tp+fp+fn)):
    one IEEE division of exact int64 sums, so the 6-dp value is bit-identical
    cross-engine — never a rounded-composition of already-rounded P and R.

    Scale: ONE fused conditional-sum aggregate over one codegen projection —
    at 10^12 rows the shuffle is K×|groups|, and the four cells partial-sum
    map-side like every profiler aggregate.
    """
    pred = F.col(pred_col) if isinstance(pred_col, str) else pred_col
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    labeled = pred.isNotNull() & label.isNotNull()

    def cell(p: bool, l: bool) -> F.Column:
        return F.sum(
            (labeled & (pred == F.lit(p)) & (label == F.lit(l))).cast("bigint")
        )

    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~labeled).cast("bigint")).alias("n_unlabeled"),
        cell(True, True).alias("tp"),
        cell(True, False).alias("fp"),
        cell(False, True).alias("fn"),
        cell(False, False).alias("tn"),
    ]
    grouped = df.groupBy(group_col) if group_col else df.groupBy()
    out = grouped.agg(*aggs).select(
        *([group_col] if group_col else []),
        "n_rows", "n_unlabeled", "tp", "fp", "fn", "tn",
        F.round(F.try_divide("tp", F.col("tp") + F.col("fp")), 6).alias("precision"),
        F.round(F.try_divide("tp", F.col("tp") + F.col("fn")), 6).alias("recall"),
        F.round(
            F.try_divide(
                2 * F.col("tp"), 2 * F.col("tp") + F.col("fp") + F.col("fn")
            ),
            6,
        ).alias("f1"),
        F.round(
            F.try_divide(
                F.col("tp") + F.col("tn"),
                F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"),
            ),
            6,
        ).alias("accuracy"),
    )
    return out.orderBy(group_col) if group_col else out


def decision_eval_sql(
    table: str,
    pred_expr: str,
    label_expr: str,
    group_col: str | None = None,
) -> str:
    """DuckDB oracle twin of `decision_eval` (same NULL-exclusion policy,
    same from-the-cells F1)."""
    p, l = f"({pred_expr})", f"({label_expr})"
    labeled = f"({p} IS NOT NULL AND {l} IS NOT NULL)"

    def cell(pv: str, lv: str) -> str:
        return (
            f"CAST(sum(CASE WHEN {labeled} AND {p} = {pv} AND {l} = {lv} "
            f"THEN 1 ELSE 0 END) AS BIGINT)"
        )

    sel = f"{group_col}, " if group_col else ""
    inner_grp = f"GROUP BY {group_col}" if group_col else ""
    order = f"ORDER BY {group_col}" if group_col else ""
    div = "CASE WHEN {d} > 0 THEN round(CAST({n} AS DOUBLE) / ({d}), 6) END"
    return f"""
WITH cells AS (
  SELECT {sel}count(*) AS n_rows,
         CAST(sum(CASE WHEN NOT {labeled} THEN 1 ELSE 0 END) AS BIGINT) AS n_unlabeled,
         {cell('TRUE', 'TRUE')} AS tp,
         {cell('TRUE', 'FALSE')} AS fp,
         {cell('FALSE', 'TRUE')} AS fn,
         {cell('FALSE', 'FALSE')} AS tn
  FROM {table} {inner_grp}
)
SELECT {sel}n_rows, n_unlabeled, tp, fp, fn, tn,
       {div.format(n='tp', d='tp + fp')} AS precision,
       {div.format(n='tp', d='tp + fn')} AS recall,
       {div.format(n='2 * tp', d='2 * tp + fp + fn')} AS f1,
       {div.format(n='tp + tn', d='tp + fp + fn + tn')} AS accuracy
FROM cells {order}
"""


def dedup_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """The deduped corpus: every singleton (no near-dup partner) plus the ONE
    keep-best winner per cluster. Emits ({id_col}, was_clustered) — join back
    to the corpus for payload columns so the wide rows never ride through the
    election.

    Losers are removed with an anti-join on the (dup-rate-proportional) loser
    id set. The broadcast is SIZE-GATED (VERDICT r2 item 2) by the same gate
    as pipeline.run's decision tables, `RunRecord.local`: the election feeds
    both joins, so it runs once, and at or below `record.BROADCAST_ROWS`
    clustered rows both joins broadcast it as a local relation; above it — a
    30%-duplicate crawl at 10^12 rows would otherwise try to ship ~10^11 ids
    to every executor — they shuffle against the pinned election, where AQE
    and the id-hash partitioning take over. Output is identical on both
    paths (tests/test_curation.py pins it).
    """
    elected, _ = current().local(keep_best(df, clusters, id_col, quality_col))
    losers = elected.filter(~F.col("keep")).select(id_col)
    winners = elected.filter(F.col("keep")).select(id_col)
    kept = df.select(id_col).join(losers, id_col, "left_anti")
    return kept.join(
        winners.withColumn("was_clustered", F.lit(True)), id_col, "left"
    ).select(id_col, F.coalesce("was_clustered", F.lit(False)).alias("was_clustered"))


def dedup_survivors_sql(
    table: str, clusters_sql: str, id_col: str, quality_col: str
) -> str:
    """DuckDB twin of `dedup_survivors`."""
    kb = keep_best_sql(table, clusters_sql, id_col, quality_col)
    return f"""
WITH elected AS ({kb})
SELECT t.{id_col},
       coalesce((SELECT keep FROM elected e WHERE e.{id_col} = t.{id_col}), FALSE)
         AS was_clustered
FROM {table} t
WHERE t.{id_col} NOT IN (SELECT {id_col} FROM elected WHERE NOT keep)
"""

def pack_token_budget_scalable(
    df: DataFrame,
    id_col: str,
    group_col: str,
    text_col: str,
    budget: int,
    key_buckets: int = 1024,
) -> DataFrame:
    """`pack_token_budget` without the per-group global sort — the 100 TB
    path, EXACT-equivalent to the window version (same greedy prefix in the
    same seeded order, same output columns).

    Because cum_tokens is monotone, the kept set is a PREFIX of each group's
    key order, so it decomposes by key range:

      1. bucket every row by the top bits of its order key (map-side);
      2. aggregate token sums per (group, bucket) — the only wide shuffle,
         map-side combined, groups × key_buckets result rows;
      3. a running sum over that TINY table finds each group's boundary
         bucket (prefix ≤ budget < prefix + bucket_sum);
      4. rows in buckets before the boundary are kept outright (broadcast
         join, no sort); only the boundary bucket's rows — ~1/key_buckets of
         each group — pay the exact running-sum window, seeded with the
         bucket's prefix.

    Zero-token rows past the overflow point are excluded in both variants
    (their cum already exceeds the budget).
    """
    from data_quality_check_spark.functions.text import token_count_col

    # top bits of the 31-bit key preserve key order across buckets
    shift = max(0, 31 - (key_buckets - 1).bit_length())
    base = df.select(
        id_col,
        group_col,
        _sample_key(id_col).alias("_qkey"),
        token_count_col(F.col(text_col)).cast("long").alias("n_tokens"),
    ).withColumn("_bkt", F.shiftright(F.col("_qkey"), shift))
    per = base.groupBy(group_col, "_bkt").agg(F.sum("n_tokens").alias("_s"))
    wb = (
        Window.partitionBy(group_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per = per.withColumn("_pre", F.sum("_s").over(wb) - F.col("_s"))
    marked = base.join(F.broadcast(per), [group_col, "_bkt"])
    full = marked.filter(F.col("_pre") + F.col("_s") <= budget).select(
        id_col, group_col, "_bkt", "_qkey", "n_tokens", F.col("_pre").alias("_seed")
    )
    boundary = marked.filter(
        (F.col("_pre") <= budget) & (F.col("_pre") + F.col("_s") > budget)
    )
    wr = (
        Window.partitionBy(group_col, "_bkt")
        .orderBy("_qkey", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bkept = (
        boundary.withColumn("_cum", F.col("_pre") + F.sum("n_tokens").over(wr))
        .filter(F.col("_cum") <= budget)
        .select(id_col, group_col, "_qkey", "n_tokens", "_pre", "_cum")
    )
    # full buckets: cum = seed (tokens before the bucket) + within-bucket
    # running sum — recomputed with the same tiny window (the bucket is fully
    # kept, so the filter is already decided; this just emits the column)
    fkept = full.withColumn(
        "_cum", F.col("_seed") + F.sum("n_tokens").over(wr)
    ).select(id_col, group_col, "_qkey", "n_tokens", F.col("_seed").alias("_pre"), "_cum")
    return (
        fkept.unionByName(bkept)
        .select(id_col, group_col, "n_tokens", F.col("_cum").alias("cum_tokens"))
    )


def split_thresholds(weights: "dict[str, float]", hex_digits: int = 8) -> "list[tuple[str, str]]":
    """Cumulative md5-prefix thresholds for `hash_split`: [(label, hex_upper)]
    for every split but the last (which is the CASE's ELSE arm).

    A threshold is `floor(cum_weight * 16**hex_digits)` rendered as a
    zero-padded lowercase hex string; a row lands in split k iff its 32-char
    md5 is lexicographically < threshold k (and ≥ the previous one). String
    comparison on fixed-alphabet lowercase hex is order-identical to comparing
    the underlying integers, and both Spark and DuckDB emit the same lowercase
    hex md5 — so the assignment is bit-identical across engines. Resolution is
    16**-hex_digits (default ≈ 2.3e-10 of the keyspace).
    """
    if not weights or len(weights) < 2:
        raise ValueError("need at least two splits")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9 or any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive and sum to 1, got {weights}")
    out, cum, space = [], 0.0, 16**hex_digits
    labels = list(weights)
    for label in labels[:-1]:
        cum += weights[label]
        out.append((label, format(min(int(cum * space), space - 1), f"0{hex_digits}x")))
    return out


def _sql_quote(value: str) -> str:
    """A value as a DuckDB single-quoted literal ('' doubling — the twins run
    only in DuckDB; the Spark side builds Columns, never SQL text, so quotes
    in data values cannot break either engine)."""
    return "'" + str(value).replace("'", "''") + "'"


def _split_hash_key(id_col: str, salt: str) -> str:
    # DuckDB twin expression text: md5 of 'salt:id' (or just the id string).
    # CAST(bigint AS string/varchar) is digits-only in both engines. The salt
    # lands inside a quoted literal via _sql_quote; backslashes are rejected
    # because Spark and DuckDB disagree on their meaning in literals (the
    # Spark side takes the salt through F.lit, which has no such ambiguity).
    if "\\" in salt:
        raise ValueError("salt must not contain backslashes")
    key = f"CAST({id_col} AS STRING)"
    if not salt:
        return f"md5({key})"
    return f"md5(CONCAT({_sql_quote(salt + ':')}, {key}))"


def _hash_key_col(id_col: str, salt: str) -> F.Column:
    """Spark twin of `_split_hash_key`, built as Columns (F.lit carries any
    salt safely — no string interpolation into SQL text)."""
    if "\\" in salt:
        raise ValueError("salt must not contain backslashes")
    key = F.col(id_col).cast("string")
    return F.md5(F.concat(F.lit(salt + ":"), key)) if salt else F.md5(key)


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: "dict[str, float]",
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the row id — the
    standard leakage-safe splitter for training corpora (every engine from
    tf.data to Dataflow recommends hash-mod splits over rand(); the reference
    has only seeded pandas `sample`, engine.py:83-87, which is neither
    distributed nor stable under appends).

    Properties a 100 TB pipeline needs, all by construction:
      * pure function of (salt, id): stable across runs, partitionings,
        cluster sizes, and engine versions — no rand(), no zipWithIndex;
      * append-safe: new rows never change existing rows' assignments;
      * salt rotates the split without touching the data (new experiment =
        new salt);
      * exact-fraction control to 16^-8 via md5-prefix thresholds
        (`split_thresholds`), enforced identically by the DuckDB oracle twin.

    Plan shape: ONE narrow projection (md5 + chained CASE) — no shuffle, no
    Python; the split column is free at scan time wherever it's consumed.
    """
    thresholds = split_thresholds(weights)
    key = _hash_key_col(id_col, salt)
    labels = list(weights)
    expr = F.lit(labels[-1])
    for label, upper in reversed(thresholds):
        expr = F.when(key < F.lit(upper), F.lit(label)).otherwise(expr)
    return df.withColumn(out_col, expr)


def hash_split_case_sql(
    id_col: str, weights: "dict[str, float]", salt: str = "", out_col: str = "split"
) -> str:
    """DuckDB twin of `hash_split`'s assignment expression (one CASE)."""
    thresholds = split_thresholds(weights)
    key = _split_hash_key(id_col, salt).replace(" AS STRING)", " AS VARCHAR)")
    arms = " ".join(
        f"WHEN {key} < {_sql_quote(upper)} THEN {_sql_quote(label)}"
        for label, upper in thresholds
    )
    return f"CASE {arms} ELSE {_sql_quote(list(weights)[-1])} END AS {out_col}"


# ── mixture (data-mix) sampling ──


def mixture_thresholds(
    counts: "dict[str, int]",
    weights: "dict[str, float]",
    output_rows: int,
    hex_digits: int = 8,
) -> "dict[str, str]":
    """Per-group md5-prefix keep thresholds for `mixture_sample`.

    Group g's Bernoulli keep-rate is min(1, output_rows·w_g / n_g) (weights
    normalized to sum 1), rendered as a zero-padded hex threshold exactly like
    `split_thresholds`. rate ≥ 1 renders as 'g' — lexicographically above
    every hex md5, i.e. keep-all, with no row lost to clamping. The thresholds
    are computed ONCE driver-side and embedded as literals in both the Spark
    and the oracle plan, so there is no cross-engine float arithmetic at all.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be nonnegative, got {weights}")
    total_w = sum(weights.values())
    if total_w <= 0:
        raise ValueError("weights must not all be zero")
    space = 16**hex_digits
    out = {}
    for g, w in weights.items():
        n = counts.get(g, 0)
        if n <= 0 or w == 0:
            continue
        rate = min(1.0, output_rows * (w / total_w) / n)
        v = int(rate * space)
        out[g] = "g" if v >= space else format(v, f"0{hex_digits}x")
    return out


def _mixture_threshold_case(group_col: str, thresholds: "dict[str, str]") -> str:
    # DuckDB-only text (the Spark side builds the CASE as Columns); group
    # values are DATA, so they are escaped — a group name with an apostrophe
    # must not break (or inject into) the oracle SQL
    arms = " ".join(
        f"WHEN {_sql_quote(g)} THEN {_sql_quote(t)}" for g, t in thresholds.items()
    )
    return f"CASE {group_col} {arms} END"


def mixture_keep_col(
    group_col: str, id_col: str, thresholds: "dict[str, str]", salt: str = ""
) -> F.Column:
    """The mixture-sampling row predicate — keep iff md5(salt:id) <
    threshold(group) — as ONE shared Column builder: `mixture_sample` filters
    on it and the filter job's `_mixture_ok_col` wraps it, so the two public
    mixture surfaces cannot drift. NULL (group absent from thresholds — the
    CASE has no ELSE) compares to NULL: a filter rejects it; callers needing a
    boolean coalesce it themselves."""
    key = _hash_key_col(id_col, salt)
    case = F.lit(None).cast("string")
    for g, t in thresholds.items():
        case = F.when(F.col(group_col) == F.lit(g), F.lit(t)).otherwise(case)
    return key < case


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: "dict[str, float]",
    output_rows: int,
    id_col: str,
    salt: str = "",
    counts: "dict[str, int] | None" = None,
) -> DataFrame:
    """Rate-based data-mix sampling: draw ~`output_rows` rows whose group
    mixture matches `weights` (the Pile/LLaMA-style source/language reweighting
    step). The complement of `quota_sample`: quota gives EXACT per-group caps
    at the price of a quota-bounded shuffle; mixture gives expected-size
    Bernoulli sampling with ZERO shuffle — at 10^12 rows the sample is decided
    row-locally at scan time, the only cluster-wide action is one K-row group
    count (skippable by passing `counts` from the previous monitoring run).

    Deterministic: keep iff md5(salt:id) < threshold(group) — a pure function
    of (salt, id, thresholds), stable across runs, partitionings, and engines
    (same fixed-alphabet hex-string comparison as `hash_split`). Note the
    thresholds themselves derive from the observed group counts, so unlike
    `hash_split` the kept-set is append-stable only under a frozen `counts`
    (pass the published counts to re-materialize an identical historical mix).
    Groups missing from `weights` (or weighted 0) drop entirely: the CASE has
    no ELSE, the NULL threshold compares to NULL, and the filter rejects it.
    """
    if counts is None:
        counts = {
            r["g"]: r["n"]
            for r in df.groupBy(F.col(group_col).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    th = mixture_thresholds(counts, weights, output_rows)
    if not th:
        return df.filter(F.lit(False))
    return df.filter(mixture_keep_col(group_col, id_col, th, salt))


def mixture_sample_where_sql(
    group_col: str,
    thresholds: "dict[str, str]",
    id_col: str,
    salt: str = "",
) -> str:
    """DuckDB twin of `mixture_sample`'s row predicate (thresholds from
    `mixture_thresholds`, computed on identical counts)."""
    key = _split_hash_key(id_col, salt).replace(" AS STRING)", " AS VARCHAR)")
    return f"{key} < {_mixture_threshold_case(group_col, thresholds)}"


def score_threshold_sweep(df: DataFrame, score: F.Column, steps: int = 20) -> DataFrame:
    """Keep-rate calibration curve for a quality-filter threshold: for each
    candidate threshold k/steps (k = 0..steps), how many rows a `score >=
    threshold` filter would keep and what corpus fraction that is. The tuning
    step that precedes committing a keep/drop rule (the reference exposes
    per-table scores interactively, app_v3.py sliders; at corpus scale the
    sweep must be ONE aggregation, not `steps` filtered count jobs).

    Emits (threshold, docs_kept, frac_kept) with exactly steps+1 rows — empty
    buckets included, so the curve's shape is stable across corpora.

    Exact semantics (engine-identical): a row counts toward threshold k iff
    `score * steps >= k` — equivalent to `floor(score * steps) >= k` for
    integer k, so ONE histogram of `floor(score * steps)` (clamped to
    [0, steps] for score == 1.0) answers every threshold at once. Rows whose
    score is NULL or negative are kept at NO threshold (a `score >= t` filter
    with t ≥ 0 rejects both) — they land in a sentinel bucket that never joins,
    but they STAY in frac_kept's denominator: the curve reports the fraction of
    the whole corpus a filter would keep, not of the scoreable subset. Both
    engines run the identical double multiply + floor, so bucket boundaries
    agree bitwise; frac_kept is a single double division of two exact longs.

    Plan shape for 10^12 rows: one map-side-combined hash agg with ≤ steps+2
    groups; everything downstream (the threshold join, the cumulative sum,
    the total) runs on K = steps+2 rows. The cumulative sum is a window over
    those K rows — a single trivial task, NOT a window over the corpus.
    """
    b = F.when(
        score.isNull() | (score < 0) | F.isnan(score.cast("double")), F.lit(-1)
    ).otherwise(
        # least BEFORE the int cast: +Inf (kept by every `score >= t` filter)
        # clamps into the top bucket instead of failing the ANSI cast
        F.least(F.floor(score * steps), F.lit(steps).cast("double")).cast("int")
    )
    hist = df.select(b.alias("b")).groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    ks = (
        df.sparkSession.range(0, steps + 1)
        .select(F.col("id").cast("int").alias("k"))
    )
    # kept(k) = Σ n over buckets ≥ k (the -1 sentinel joins to no k); hist is
    # ≤ steps+2 rows, so the inequality join runs on K-row driver-trivial work
    kept = (
        ks.join(F.broadcast(hist), F.col("b") >= F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("docs_kept"))
    )
    # denominator = ALL corpus rows, sentinel included; derived from hist so
    # the corpus scan isn't repeated (the hist exchange is reused, as in
    # drift.key_skew's totals)
    tot = hist.agg(F.sum("n").alias("_total"))
    return kept.crossJoin(F.broadcast(tot)).select(
        F.round(F.col("k").cast("double") / steps, 4).alias("threshold"),
        "docs_kept",
        F.when(F.coalesce(F.col("_total"), F.lit(0)) == 0, F.lit(0.0))
        .otherwise(F.round(F.col("docs_kept").cast("double") / F.col("_total"), 6))
        .alias("frac_kept"),
    )


def score_threshold_sweep_sql(table: str, score_sql: str, steps: int = 20) -> str:
    """DuckDB twin of `score_threshold_sweep` (same clamped floor histogram,
    same NULL/negative sentinel bucket, same whole-corpus denominator, same
    single-division rounding)."""
    s = f"({score_sql})"
    return f"""
WITH hist AS (
  SELECT CASE WHEN {s} IS NULL OR {s} < 0 OR isnan(CAST({s} AS DOUBLE)) THEN -1
              ELSE CAST(least(floor({s} * {steps}), {steps}) AS INT) END AS b,
         count(*) AS n
  FROM {table} GROUP BY 1
),
ks AS (SELECT CAST(k AS INT) AS k FROM generate_series(0, {steps}) t(k)),
kept AS (
  SELECT k, CAST(coalesce(sum(n), 0) AS BIGINT) AS docs_kept
  FROM ks LEFT JOIN hist ON b >= k GROUP BY k
),
tot AS (SELECT coalesce(sum(n), 0) AS _total FROM hist)
SELECT round(CAST(k AS DOUBLE) / {steps}, 4) AS threshold,
       docs_kept,
       CASE WHEN _total = 0 THEN 0.0
            ELSE round(CAST(docs_kept AS DOUBLE) / _total, 6)
       END AS frac_kept
FROM kept, tot
"""


def score_threshold_sweep_grouped(
    df: DataFrame, score: F.Column, group_col: str, steps: int = 20
) -> DataFrame:
    """Per-group keep-rate calibration: `score_threshold_sweep` stratified by
    `group_col` — the shape quality filters actually tune (a single global
    threshold over-filters low-resource languages whose score distribution
    sits lower; CCNet/Gopher-style pipelines pick thresholds per language).
    Emits ({group_col}, threshold, docs_kept, frac_kept) with exactly
    steps+1 rows per observed group; frac_kept's denominator is the GROUP's
    full row count (NULL/negative-score rows included, as in the global
    sweep). NULL groups are a group.

    Plan shape for 10^12 rows: one map-side-combined hash agg with
    ≤ groups × (steps+2) cells; the threshold expansion, per-group totals, and
    joins all run on K-row frames (K = groups × thresholds — the OUTPUT size,
    so nothing here exceeds what the caller asked to materialize).
    """
    b = F.when(
        score.isNull() | (score < 0) | F.isnan(score.cast("double")), F.lit(-1)
    ).otherwise(
        # least BEFORE the int cast: +Inf (kept by every `score >= t` filter)
        # clamps into the top bucket instead of failing the ANSI cast
        F.least(F.floor(score * steps), F.lit(steps).cast("double")).cast("int")
    )
    hist = (
        df.select(F.col(group_col).alias("_g"), b.alias("b"))
        .groupBy("_g", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ks = (
        df.sparkSession.range(0, steps + 1)
        .select(F.col("id").cast("int").alias("k"))
    )
    grid = (
        hist.select(F.col("_g").alias("_gg")).distinct().crossJoin(F.broadcast(ks))
    )
    kept = (
        grid.join(
            F.broadcast(hist),
            F.col("_gg").eqNullSafe(F.col("_g")) & (F.col("b") >= F.col("k")),
            "left",
        )
        .groupBy("_gg", "k")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("docs_kept"))
    )
    tot = hist.groupBy(F.col("_g").alias("_gt")).agg(F.sum("n").alias("_total"))
    return (
        kept.join(tot, F.col("_gg").eqNullSafe(F.col("_gt")))
        .select(
            F.col("_gg").alias(group_col),
            F.round(F.col("k").cast("double") / steps, 4).alias("threshold"),
            "docs_kept",
            F.when(F.col("_total") == 0, F.lit(0.0))
            .otherwise(F.round(F.col("docs_kept").cast("double") / F.col("_total"), 6))
            .alias("frac_kept"),
        )
    )


def score_threshold_sweep_grouped_sql(
    table: str, score_sql: str, group_col: str, steps: int = 20
) -> str:
    """DuckDB twin of `score_threshold_sweep_grouped` (same sentinel bucket,
    per-group denominator, NULL-safe group equality)."""
    s = f"({score_sql})"
    return f"""
WITH hist AS (
  SELECT {group_col} AS _g,
         CASE WHEN {s} IS NULL OR {s} < 0 OR isnan(CAST({s} AS DOUBLE)) THEN -1
              ELSE CAST(least(floor({s} * {steps}), {steps}) AS INT) END AS b,
         count(*) AS n
  FROM {table} GROUP BY 1, 2
),
ks AS (SELECT CAST(k AS INT) AS k FROM generate_series(0, {steps}) t(k)),
kept AS (
  SELECT g._g, g.k, CAST(coalesce(sum(h.n), 0) AS BIGINT) AS docs_kept
  FROM (SELECT DISTINCT _g, k FROM hist, ks) g
  LEFT JOIN hist h ON g._g IS NOT DISTINCT FROM h._g AND h.b >= g.k
  GROUP BY g._g, g.k
),
tot AS (SELECT _g, sum(n) AS _total FROM hist GROUP BY _g)
SELECT kept._g AS {group_col},
       round(CAST(k AS DOUBLE) / {steps}, 4) AS threshold,
       docs_kept,
       CASE WHEN _total = 0 THEN 0.0
            ELSE round(CAST(docs_kept AS DOUBLE) / _total, 6)
       END AS frac_kept
FROM kept JOIN tot ON kept._g IS NOT DISTINCT FROM tot._g
"""


def filter_funnel(
    df: DataFrame, stages: "list[tuple[str, F.Column]]"
) -> DataFrame:
    """Stage-survival funnel for a filter rule chain: how many rows survive
    each successive predicate — the audit a pipeline runs before committing a
    quality-filter config, answering "which rule costs the corpus most" in
    ONE pass instead of len(stages) filter jobs (the same
    one-aggregate-answers-the-sweep idea as `score_threshold_sweep`).

    `stages` is the ordered rule chain [(name, keep_predicate), ...]; stage k
    counts rows passing predicates 1..k (cumulative conjunction — funnel, not
    marginal). NULL predicates count as drops (COALESCE false), matching the
    heuristics flags' own NULL policy.

    Output (len(stages)+1 rows): (stage, stage_name, surviving, dropped_here,
    frac_of_total) with stage 0 = 'total'.

    Scale: ONE fused aggregate over the corpus — every stage is a conditional
    count in the same partial/final hash agg (map-side combined, K+1 counters
    per task), then a driver-sized explode of the single result row. No
    shuffle wider than one row; no second scan no matter how many stages."""
    aggs = [F.count(F.lit(1)).alias("s0")]
    acc = F.lit(True)
    for i, (_, pred) in enumerate(stages, start=1):
        acc = acc & F.coalesce(pred, F.lit(False))
        # COALESCE: sum over an EMPTY corpus is NULL in both engines — the
        # funnel should read 0 survivors, not null
        aggs.append(
            F.coalesce(F.sum(F.when(acc, 1).otherwise(0)), F.lit(0)).alias(f"s{i}")
        )
    agg = df.agg(*aggs)

    def row(i: int, name: str) -> F.Column:
        surv = F.col(f"s{i}")
        return F.struct(
            F.lit(i).alias("stage"),
            F.lit(name).alias("stage_name"),
            surv.alias("surviving"),
            (F.col(f"s{i-1}") - surv if i else F.lit(0)).cast("long").alias(
                "dropped_here"
            ),
            F.when(F.col("s0") == 0, F.lit(0.0))
            .otherwise(F.round(surv.cast("double") / F.col("s0"), 6))
            .alias("frac_of_total"),
        )

    rows = [row(0, "total")] + [row(i, nm) for i, (nm, _) in enumerate(stages, 1)]
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def filter_funnel_sql(table: str, stages: "list[tuple[str, str]]") -> str:
    """DuckDB twin of `filter_funnel` — same cumulative conjunction, same
    COALESCE-false NULL policy, same zero-corpus guard."""
    aggs = ["count(*) AS s0"]
    acc = "TRUE"
    for i, (_, pred) in enumerate(stages, start=1):
        acc = f"{acc} AND COALESCE({pred}, FALSE)"
        aggs.append(
            f"CAST(COALESCE(sum(CASE WHEN {acc} THEN 1 ELSE 0 END), 0)"
            f" AS BIGINT) AS s{i}"
        )
    selects = []
    names = [(0, "total")] + [(i, nm) for i, (nm, _) in enumerate(stages, 1)]
    for i, nm in names:
        dropped = f"CAST(s{i-1} - s{i} AS BIGINT)" if i else "CAST(0 AS BIGINT)"
        selects.append(
            f"SELECT CAST({i} AS INT) AS stage, '{nm}' AS stage_name,\n"
            f"       CAST(s{i} AS BIGINT) AS surviving, {dropped} AS dropped_here,\n"
            f"       CASE WHEN s0 = 0 THEN 0.0"
            f" ELSE round(CAST(s{i} AS DOUBLE) / s0, 6) END AS frac_of_total\n"
            f"FROM agg"
        )
    union = "\nUNION ALL\n".join(selects)
    return f"WITH agg AS (SELECT {', '.join(aggs)} FROM {table})\n{union}"


# ───────────── CCNet-style per-group score buckets (head / middle / tail) ─────────────
# CCNet (Wenzek et al. 2019, arXiv:1911.00359) splits each language's documents
# into perplexity TERCILES — head (lowest ppl) is highest-quality, tail is
# dropped or down-weighted. The split is per-language because a single global
# ppl cut over-drops low-resource languages whose LM is weaker (the same
# rationale as `score_threshold_sweep_grouped`). Two paths:
#  * `score_ntile_buckets` — EXACT equal-count buckets via a per-group window
#    sort with a total-order tie-break. Deterministic in both engines (ntile is
#    standard SQL; no quantile interpolation to drift), so it is the
#    driver-checked path. Cost: one per-group sort shuffle — the documented
#    CCNet shape, acceptable where the corpus is already being rewritten.
#  * `bucket_thresholds` + `apply_bucket_thresholds` — the 10^12-row shape:
#    ONE agg computes per-group cut scores (exact or approx percentile), the
#    K-row threshold table broadcasts, and labeling is a row-local CASE — no
#    global sort, no window, reusable as a FROZEN artifact so tomorrow's
#    increment is labeled under today's cuts (the SeenCorpusArtifacts contract
#    applied to calibration). Bucket sizes are then equal only up to score
#    ties at the cut — the documented trade.


def score_ntile_buckets(
    df: DataFrame,
    score: F.Column,
    group_col: str,
    id_col: str,
    n: int = 3,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
) -> DataFrame:
    """Append `bucket` (label string, or 1-based int when labels=None) by
    exact per-group ntile over (score, id) — id breaks score ties so the
    assignment is a pure function of the data, never of partitioning."""
    from pyspark.sql import Window

    if labels is not None and len(labels) != n:
        raise ValueError(f"labels must have exactly n={n} entries, got {labels}")
    w = Window.partitionBy(group_col).orderBy(score.asc(), F.col(id_col).asc())
    tile = F.ntile(n).over(w)
    bucket = (
        F.element_at(F.array(*[F.lit(x) for x in labels]), tile)
        if labels is not None
        else tile
    )
    return df.withColumn("bucket", bucket)


def score_ntile_buckets_sql(
    table_sql: str,
    score_sql: str,
    group_col: str,
    id_col: str,
    n: int = 3,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
) -> str:
    """DuckDB twin of `score_ntile_buckets`: identical ntile semantics and
    (score, id) total order. `table_sql` is a table name or parenthesized
    subquery exposing `id_col`, `group_col`, and the score's inputs."""
    if labels is not None and len(labels) != n:
        raise ValueError(f"labels must have exactly n={n} entries, got {labels}")
    tile = (
        f"ntile({n}) OVER (PARTITION BY {group_col} "
        f"ORDER BY ({score_sql}) ASC, {id_col} ASC)"
    )
    label_expr = (
        "CASE _tile "
        + " ".join(f"WHEN {i + 1} THEN {_sql_quote(x)}" for i, x in enumerate(labels))
        + " END"
        if labels is not None
        else "_tile"
    )
    return f"""
SELECT * EXCLUDE (_tile), {label_expr} AS bucket
FROM (SELECT *, {tile} AS _tile FROM {table_sql} t)
"""


def bucket_thresholds(
    df: DataFrame,
    score: F.Column,
    group_col: str,
    n: int = 3,
    exact: bool = True,
) -> DataFrame:
    """Per-group cut scores: ({group_col}, cuts array<double> of length n-1).
    ONE map-side-combined aggregate over the corpus; output is K rows. With
    exact=False the Catalyst-native KLL-free `approx_percentile` replaces the
    exact sort-based percentile — the 10^12-row default, where cut accuracy
    within sketch error is the product requirement, not equal counts."""
    ps = [float(i) / n for i in range(1, n)]
    fn = "percentile" if exact else "approx_percentile"
    cuts = F.expr(
        f"{fn}(_s, array({', '.join(repr(p) for p in ps)}))"
    ).alias("cuts")
    return (
        df.select(F.col(group_col).alias(group_col), score.cast("double").alias("_s"))
        .groupBy(group_col)
        .agg(cuts)
    )


def bucket_label_col(
    score: F.Column,
    cuts_col: F.Column,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
) -> F.Column:
    """Row-local bucket labeling under a cuts ARRAY column: tile = 1 +
    Σ(score > cut), label = labels[tile-1] (or the 1-based int when
    labels=None). ONE definition shared by `apply_bucket_thresholds` and the
    filter pipeline's frozen ppl-bucket labels (run.FilterConfig
    .ppl_bucket_cuts), so the two labeling surfaces cannot drift. A NULL
    score tiles NULL (`>` is three-valued), never bucket 1."""
    tile = F.aggregate(
        cuts_col,
        F.lit(1).cast("int"),
        lambda acc, c: acc + (score.cast("double") > c).cast("int"),
    )
    if labels is None:
        return tile
    return F.element_at(F.array(*[F.lit(x) for x in labels]), tile)


def apply_bucket_thresholds(
    df: DataFrame,
    score: F.Column,
    group_col: str,
    thresholds: DataFrame,
    labels: "tuple[str, ...] | None" = ("head", "middle", "tail"),
) -> DataFrame:
    """Label rows under a (possibly FROZEN) `bucket_thresholds` table:
    bucket i ⇔ score ≤ cuts[i] (first match; past the last cut = last bucket).
    Broadcast join on the K-row threshold table + a row-local CASE — zero
    shuffle on the corpus side, so labeling rides any existing scan. Rows in
    groups absent from `thresholds` get bucket NULL (a new language needs
    calibration before it can be split — surfaced, not guessed)."""
    bucket = bucket_label_col(score, F.col("_cuts"), labels)
    th = thresholds.select(
        F.col(group_col).alias("_tg"), F.col("cuts").alias("_cuts")
    )
    joined = df.join(
        F.broadcast(th), F.col(group_col).eqNullSafe(F.col("_tg")), "left"
    )
    return joined.withColumn(
        "bucket", F.when(F.col("_cuts").isNotNull(), bucket)
    ).drop("_tg", "_cuts")


# URL/domain extraction constrained to the Java∩RE2 subset (functions/
# text.py:30-36): explicit whitespace set instead of \s, no lookarounds, so
# Spark regexp_extract and the DuckDB twin capture byte-identically.
URL_DOMAIN_RE = r"https?://([^/ \t\n\r\x0B\f?#]+)"


def domain_profile(
    df: DataFrame,
    text_col: str,
    blocklist: list[str],
    id_col: str,
) -> DataFrame:
    """C4/RefinedWeb-style URL-domain audit: extract the FIRST URL's host from
    each document, normalize (lowercase, strip port and one leading 'www.'),
    and profile per-domain document counts with a blocklist verdict — the
    decision table for URL-level filtering (C4 §2.1's "bad words" domain
    blocklist; RefinedWeb's URL filtering stage).

    Output: (domain, n_docs, example_{id_col}, blocked) for documents that
    contain a URL. Docs without a URL don't appear (URL-less docs are not a
    domain-filter concern). `blocked` = membership in the lowercase
    blocklist, evaluated as a literal IN — no join, the blocklist rides the
    plan like C4's (it is a config artifact of ~10^4 entries; at blocklist
    sizes beyond expression reach, swap to a broadcast anti-join — same
    output contract).

    100 TB shape: ONE codegen projection (regexp capture + normalize) + ONE
    map-side-combined agg keyed by domain. Web corpora are Zipf-heavy on
    domains, which partial aggregation absorbs map-side (same argument as
    vocab.top_tokens)."""
    blocked_set = sorted({b.lower() for b in blocklist})
    # empty blocklist → audit-only profile; isin() with zero args would throw
    blocked_col = (
        F.max(F.col("domain").isin(*blocked_set)) if blocked_set else F.max(F.lit(False))
    )
    host = F.lower(
        F.regexp_extract(F.coalesce(F.col(text_col), F.lit("")), URL_DOMAIN_RE, 1)
    )
    # strip :port, then one leading www.
    host = F.regexp_replace(host, r":[0-9]+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rows = df.select(F.col(id_col), host.alias("domain")).filter(
        F.col("domain") != ""
    )
    return rows.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias(f"example_{id_col}"),
        blocked_col.alias("blocked"),
    )


def domain_profile_sql(
    docs_rel: str, text_expr: str, blocklist: list[str], id_col: str
) -> str:
    """DuckDB twin of domain_profile over the same regex and normalization."""
    bset = sorted({b.lower() for b in blocklist})
    blocked = ", ".join(f"'{b}'" for b in bset) if bset else "''"  # '' never matches a non-empty domain
    return f"""
WITH hosts AS (
  SELECT {id_col},
         regexp_replace(
           regexp_replace(
             lower(regexp_extract(COALESCE({text_expr}, ''),
                                  'https?://([^/ \\t\\n\\r\\x0B\\f?#]+)', 1)),
             ':[0-9]+$', ''),
           '^www\\.', '') AS domain
  FROM {docs_rel}
)
SELECT domain, count(*) AS n_docs, min({id_col}) AS example_{id_col},
       max(domain IN ({blocked})) AS blocked
FROM hosts WHERE domain <> ''
GROUP BY domain
"""
