"""Physical-plan assertions: the properties the 100 TB design depends on must
be visible in the executed plan, not just claimed in docstrings.

  * column pruning — the dedup-decision scan never reads `bytes`/`caption`
    (SURVEY.md §4.2: `bytes` is ~10^5× wider than the id columns);
  * filter pushdown — a caption-stage predicate reaches the parquet scan as
    PushedFilters;
  * JVM-only profiling — the fused score plans contain no Python evaluation
    node (BatchEvalPython/ArrowEvalPython): every heuristic stays inside
    whole-stage codegen.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dup_decisions_never_reads_bytes(spark, tmp_path):
    from data_quality_check_spark.pipeline.fixtures import write_images_parquet
    from data_quality_check_spark.pipeline.run import dup_decisions, with_rid

    fix = str(tmp_path / "images")
    write_images_parquet(fix, n=200, num_files=2)
    df = with_rid(spark.read.parquet(fix))
    plan = _plan(dup_decisions(df))
    # every scan's ReadSchema must exclude the wide columns
    for chunk in plan.split("ReadSchema")[1:]:
        schema_line = chunk[:400]
        assert "bytes" not in schema_line and "caption" not in schema_line


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = df.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    pushed = plan.split("PushedFilters")[1][:200]
    assert "l_quantity" in pushed
    read = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read  # projection pruned to 2 columns


def test_profile_plan_is_jvm_only(spark):
    from data_quality_check_spark import entry_queries as EQ

    for name in ["profile_scores_customer", "grouped_scores_events_by_type"]:
        df = EQ.queries()[name](spark, SF_DIR)
        plan = _plan(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_json_query_is_jvm_side_and_pruned(spark):
    """get_json_object + try_cast must stay in codegen (no Python eval node)
    and the scan must read only (event_type, props) of the 6 event columns."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["json_props_events"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = plan.split("ReadSchema")[1][:300]
    assert "props" in read and "event_type" in read
    for absent in ["value", "user_id", '"ts"']:
        assert absent not in read


def test_rollup_uses_expand_with_partial_agg(spark):
    """df.rollup compiles to one Expand + partial/final hash aggregation —
    one scan produces every grouping level (no per-level re-scan)."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["rollup_metrics_documents"](spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    read = plan.split("ReadSchema")[1][:300]
    assert "doc_id" not in read  # unused column pruned from the scan


def test_ann_paths_broadcast_the_query_side(spark):
    """Both ANN scale paths must broadcast the (small) query side — a shuffled
    or sort-merge join here would move the full candidate table."""
    from data_quality_check_spark import entry_queries as EQ

    for name in ["ann_ivf_topk_embeddings", "ann_lsh_topk_embeddings"]:
        plan = _plan(EQ.queries()[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_quality_flags_is_one_codegen_projection(spark):
    """The per-row keep/drop decision (north-rule semantics on the gate table)
    must be a single map-side projection: no shuffle, no Python eval node."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["quality_flags_documents"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "RoundRobinPartitioning" not in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    read = plan.split("ReadSchema")[1][:300]
    assert "lang" not in read and "n_chars" not in read  # scan pruned to doc_id,text


@pytest.mark.parametrize(
    "name",
    [
        # the five queries of perfbench's query_mix
        "rule_violations_lineitem",
        "model_scores_documents",
        "neardup_clusters_minhash_documents",
        "ann_ivf_topk_embeddings",
        "quality_threshold_sweep_by_lang",
        "profile_scores_lineitem",
        "simhash_near_pairs_documents",
    ],
)
def test_queries_read_with_layout_splits(spark, name):
    """A query scans its input with the splits the table's layout gives it:
    no round-robin repartition is planned in front of the work."""
    from data_quality_check_spark import entry_queries as EQ
    from data_quality_check_spark.operators.dedup import release_pins

    df = EQ.queries()[name](spark, SF_DIR)
    df.collect()
    release_pins()
    assert "RoundRobinPartitioning" not in _plan(df)


def test_image_flags_is_one_codegen_projection(spark):
    """The image-axis flag query (synthesis + flags + keep) must likewise be a
    single map-side projection: at 10^12 images this is a metadata scan."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["image_quality_flags"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    read = plan.split("ReadSchema")[1][:300]
    assert "lang" not in read and "source" not in read  # pruned to doc_id,text


def test_asof_join_is_one_shuffle_no_join_node(spark):
    """The as-of join must compile to union + ONE hash exchange on the key +
    window — never a join operator (an inequality join would be O(n·m))."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["asof_last_signup_events"](spark, SF_DIR))
    for node in ["SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"]:
        assert node not in plan
    assert "Window" in plan


def test_rid_is_storage_derived_and_split_invariant(spark, tmp_path):
    """rid must be a pure function of storage position: re-reading the same
    files under a different split planning (maxPartitionBytes small enough to
    split every file) must assign the exact same rid to every image_id. The
    old monotonically_increasing_id rid held only while split planning stayed
    deterministic (VERDICT r1 watch item b)."""
    from data_quality_check_spark.pipeline.fixtures import write_images_parquet
    from data_quality_check_spark.pipeline.run import with_rid

    fix = str(tmp_path / "images")
    write_images_parquet(fix, n=300, num_files=3)

    def rids():
        df = with_rid(spark.read.parquet(fix))
        pdf = df.select("image_id", "rid").toPandas()
        return pdf.sort_values(["image_id", "rid"]).reset_index(drop=True)

    base = rids()
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        split = rids()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    import pandas as pd

    pd.testing.assert_frame_equal(base, split)
    # and the fallback still works on a non-file frame
    mem = spark.range(10).withColumnRenamed("id", "image_id")
    assert with_rid(mem).select("rid").distinct().count() == 10


def test_filter_pass_runs_fused_udf_once(spark, tmp_path):
    """The filter pass evaluates the fused model UDF exactly ONCE. Without the
    asNondeterministic fence (functions/fused.py) Catalyst pushes the
    row_selected filter through the scoring projection and plans a second
    ArrowEvalPython node: the whole decode+langid+ppl stage runs twice."""
    from data_quality_check_spark.pipeline.fixtures import write_images_parquet
    from data_quality_check_spark.pipeline.run import (
        FilterConfig,
        dup_decisions,
        finalize,
        score_rows,
        with_rid,
    )

    fix = str(tmp_path / "images")
    write_images_parquet(fix, n=120, num_files=2)
    df = with_rid(spark.read.parquet(fix))
    cfg = FilterConfig()
    out = finalize(score_rows(df, cfg), cfg, dup_decisions(df)).filter(F.col("row_selected"))
    assert _plan(out).count("ArrowEvalPython") == 1


@pytest.mark.parametrize("name", ["model_scores_documents", "ppl_buckets_documents"])
def test_text_model_queries_cross_into_python_once(spark, name):
    """The gate queries score language and perplexity in ONE Python crossing
    (`fused.with_text_scores`), not a langid UDF chained into a perplexity UDF."""
    from data_quality_check_spark import entry_queries as EQ

    assert _plan(EQ.queries()[name](spark, SF_DIR)).count("ArrowEvalPython") == 1


def test_udf_bodies_call_only_the_fused_model_kernel():
    """Inside a pandas_udf the trigram model is called through
    `CharTrigramLM.score` only: `predict` + `perplexity` is the golden
    two-call form (reference_impl, oracles) and twice the encode+gather work."""
    import ast
    import pathlib

    import data_quality_check_spark

    def is_pandas_udf(dec):
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", "")
        return name == "pandas_udf"

    offenders = []
    for path in pathlib.Path(data_quality_check_spark.__file__).parent.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if not any(is_pandas_udf(d) for d in fn.decorator_list):
                continue
            offenders += [
                f"{path.name}:{node.lineno} {fn.name}"
                for node in ast.walk(fn)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("predict", "perplexity")
            ]
    assert not offenders, offenders


def test_embedding_lsh_band_join_is_narrow_and_pinned(spark, sf_dir):
    """The banded-SRP near-dup candidate stage must (a) self-join on the
    narrow (band, chunk) key — the wide embedding column joins back by id
    only for the confirm — (b) feed both self-join sides from the pinned
    chunk table, and (c) evaluate the SRP signature UDF exactly ONCE in that
    lineage (the asNondeterministic fence stops InferFiltersFromGenerate
    from duplicating the Arrow stage below the posexplode)."""
    import os as _os
    import re as _re

    from data_quality_check_spark.operators import similarity as SIM
    from data_quality_check_spark.operators.dedup import release_pins

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))

    # (c) the signature lineage itself: one Arrow stage, not two
    planes = SIM.srp_planes(20 * 14, 64, 11)
    vecs = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    chunk_plan = (
        SIM._srp_chunk_table(vecs, planes, 20, 64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert chunk_plan.count("ArrowEvalPython") == 1

    try:
        df = SIM.neardup_pairs_lsh(emb, threshold=0.9)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        release_pins()
    # (a) candidate self-join keyed on narrow (band, chunk) — strategy is
    # AQE's choice (broadcast at test scale, shuffle at cluster scale), the
    # KEY is the design: the wide vector column never rides this join.
    assert _re.search(r"Join \[band#\d+, chunk#\d+L?\], \[band#\d+", plan)
    # (b) pinned chunk table feeds both sides
    assert "InMemoryTableScan" in plan
    # the confirm is JVM-side: aggregate-fold cosine, no row-at-a-time Python
    assert "BatchEvalPython" not in plan


def test_dedup_incremental_plan_is_jvm_only_and_pinned(spark, sf_dir):
    """dedup_incremental must stay whole-JVM (MinHash signatures are nested
    array expressions, fingerprints are md5 — no Python stage anywhere) and
    feed the increment's band table to both candidate joins from one pinned
    lineage (the 126-min signature agg runs once)."""
    import os as _os

    from data_quality_check_spark.operators import dedup as DD
    from data_quality_check_spark.operators.dedup import release_pins

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    try:
        df = DD.dedup_incremental(
            docs.filter(F.col("doc_id") % 4 == 0),
            docs.filter(F.col("doc_id") % 4 != 0),
            "doc_id", "text", threshold=0.6, ngram=3,
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        release_pins()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "InMemoryTableScan" in plan  # pinned band/shingle tables reused


def test_alignment_is_one_arrow_projection_no_shuffle(spark):
    """The cross-modal alignment score must be a map-side Arrow projection:
    exactly ONE Python eval node (the kernel runs once despite the derived
    `aligned` referencing the score — the asNondeterministic fence), and no
    key shuffle: at 10^12 rows the score lands next to its row for free."""
    from data_quality_check_spark import entry_queries as EQ

    plan = _plan(EQ.queries()["alignment_scores_images"](spark, SF_DIR))
    assert plan.count("ArrowEvalPython") == 1
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_span_rewrite_is_jvm_only_and_agg_elected(spark):
    """duplicate_span_rewrite: no Python eval anywhere (regexp chunking, md5
    fingerprints, min-struct election, reassembly all JVM), and the winner
    election is a hash AGGREGATE (map-side combinable), not a window over sp
    (which would funnel each hot boilerplate span into one task)."""
    from data_quality_check_spark import entry_queries as EQ

    df = EQ.queries()["line_dedup_rewrite_documents"](spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly ONE Window node is acceptable: none — election must be an agg
    assert "Window" not in plan.replace("WindowGroupLimit", "")
    assert "HashAggregate" in plan


def test_threshold_sweep_scans_one_column_one_agg(spark):
    """score_threshold_sweep: the corpus scan reads ONLY the text column
    (ReadSchema pruned), the per-row work is one JVM hash agg, and the
    cumulative window runs AFTER the K-row aggregation (no corpus window)."""
    from data_quality_check_spark import entry_queries as EQ

    df = EQ.queries()["quality_threshold_sweep_documents"](spark, SF_DIR)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for chunk in plan.split("ReadSchema")[1:]:
        line = chunk[:300]
        if "documents.parquet" in chunk[:600] or "text" in line:
            assert "doc_id" not in line and "source" not in line


def test_key_skew_uses_topk_not_global_sort(spark):
    """key_skew: global top-N executes as TakeOrderedAndProject (per-partition
    heaps), never a full Sort+Exchange of all keys; totals ride a broadcast."""
    from data_quality_check_spark import entry_queries as EQ

    df = EQ.queries()["key_skew_events_user"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def _exchange_output_columns(df) -> "list[list[str]]":
    """Column names each Exchange node's rows actually CARRY (node.output()),
    walked over the physical plan tree. toString() is useless for this — an
    Exchange line prints only its partitioning EXPRESSIONS, never the carried
    schema, so a string grep can only catch partitioning BY a column, not
    shipping it."""
    out: list[list[str]] = []

    def walk(node):
        if "Exchange" in node.nodeName():
            attrs = node.output()
            out.append([attrs.apply(i).name() for i in range(attrs.size())])
        # AdaptiveSparkPlanExec hides the plan from children(); walk its
        # current physical plan instead
        kids = node.children()
        if kids.size() == 0 and hasattr(node, "executedPlan"):
            try:
                walk(node.executedPlan())
                return
            except Exception:
                pass
        if kids.size() == 0:
            try:
                walk(node.initialPlan())
                return
            except Exception:
                pass
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_image_embedding_neardup_bytes_never_shuffle(spark):
    """image_embedding_neardup: encoded payloads stay map-side — every
    Exchange in the plan carries only narrow columns (ids, 16-dim features,
    band/chunk longs), never the bytes column (SURVEY.md §4.2: payload bytes
    are orders of magnitude wider than everything else). Checked against each
    Exchange node's OUTPUT attributes, not the toString() partitioning line."""
    from data_quality_check_spark import entry_queries as EQ

    df = EQ.queries()["image_embedding_neardup"](spark, SF_DIR)
    exchanges = _exchange_output_columns(df)
    assert exchanges, "expected at least one Exchange in the LSH plan"
    for cols in exchanges:
        assert "bytes" not in cols, cols


def test_exchange_output_walker_detects_wide_shuffle(spark):
    """The walker itself must SEE a bytes column when one genuinely rides an
    Exchange (guards against the walker silently traversing nothing)."""
    from data_quality_check_spark.gate_fixtures import synthetic_image_bytes_df

    imgs = synthetic_image_bytes_df(
        spark.range(20).select(F.col("id").alias("doc_id"))
    ).repartition(4, "image_id")
    exchanges = _exchange_output_columns(imgs.select("image_id", "bytes"))
    assert any("bytes" in cols for cols in exchanges), exchanges


def test_corpus_audit_ops_are_single_agg_jvm_only(spark):
    """encoding_audit / pii_density / decision_eval compile to one
    hash-aggregate pair (partial+final) over a codegen projection — no UDF,
    no join, no window, no extra shuffle."""
    from data_quality_check_spark import entry_queries as EQ

    for name in (
        "encoding_audit_documents",
        "pii_density_documents",
        "keep_eval_documents",
    ):
        plan = _plan(EQ.queries()[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name  # Batch/ArrowEvalPython
        assert "Join" not in plan and "Window" not in plan, name
        # one partial+final agg pair on the group key (plus nothing else);
        # the trailing orderBy is driver-sized (≤|langs| rows)
        assert plan.count("HashAggregate") == 2, (name, plan.count("HashAggregate"))


def test_novelty_seen_side_shuffles_fingerprints_only(spark):
    """novelty_scores: every exchange carries ids/fingerprints/flags — the
    raw text and shingle strings never shuffle."""
    from data_quality_check_spark import entry_queries as EQ

    df = EQ.queries()["novelty_scores_documents"](spark, SF_DIR)
    plan = _plan(df)
    assert "EvalPython" not in plan
    for cols in _exchange_output_columns(df):
        joined = ",".join(c.lower() for c in cols)
        assert "text" not in joined and "tok" not in joined, cols


def test_containment_asym_plan_jvm_only_rare_prefix_probe(spark, sf_dir):
    """containment_pairs_asym must stay whole-JVM (fingerprints are xxhash64,
    rarity ranking is a window — no Python stage), rank the probe prefix with
    ONE window over the doc id, and join probes to the index on the narrow
    fingerprint key — the wide toks arrays appear only in the confirm joins,
    never in the probe join's shuffle."""
    import os as _os
    import re as _re

    from data_quality_check_spark.operators import dedup as DD
    from data_quality_check_spark.operators.dedup import release_pins

    docs = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    try:
        df = DD.containment_pairs_asym(
            docs, "doc_id", "text", 0.9, ngram=3, min_size_ratio=4.0
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        release_pins()
    # no Python anywhere: shingling, hashing, ranking, confirm are all JVM
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # exactly one window (the per-doc rarity rank), partitioned by the doc id
    assert plan.count("Window") - plan.count("WindowGroupLimit") >= 1
    assert _re.search(r"Window .*row_number", plan)
    # the probe↔index join is keyed on the fp fingerprint, not on token strings
    assert _re.search(r"Join\s+\w*\s*\[fp#\d+L\], \[fp#\d+L\]", plan) or _re.search(
        r"\[fp#\d+L\]", plan
    )
    # shingle-set pin feeds probe derivation and both confirm sides
    assert "InMemoryTableScan" in plan


def _jobs(spark, group: str, fn):
    """(the Spark jobs `fn()` runs, counted through a job group; its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


# warm Spark jobs of one clustering query on the test tables, as measured
# (its scratch pair table already built): the edges pass one bounded collect
# and are labeled on the driver. The per-round Spark loop ran 19, 17 and 50.
CLUSTER_QUERY_MAX_JOBS = {
    "neardup_clusters_minhash_documents": 5,
    "phash_clusters_images": 5,
    "semdedup_embeddings": 15,
}


@pytest.mark.parametrize("name", list(CLUSTER_QUERY_MAX_JOBS))
def test_clustering_query_jobs_pinned(spark, sf_dir, name):
    from data_quality_check_spark import entry_queries as EQ
    from data_quality_check_spark.operators.dedup import release_pins

    def run():
        EQ.queries()[name](spark, sf_dir).collect()
        release_pins()

    run()  # builds the scratch pair tables
    jobs, _ = _jobs(spark, f"pin-cluster-{name}", run)
    assert 0 < jobs <= CLUSTER_QUERY_MAX_JOBS[name], jobs


# the Spark jobs of one run_filter call on the 8-bucket input below, as
# measured: each size gate (`RunRecord.local`) is one bounded collect whose
# rows broadcast from the driver, so no gate adds a count or a broadcast job;
# `near_dup`'s components are labeled on the driver.
RUN_FILTER_MAX_JOBS = {"partition_dir": 13, "flat": 14, "near_dup": 34, "spill": 46}


@pytest.mark.parametrize("layout", list(RUN_FILTER_MAX_JOBS))
def test_run_filter_jobs_and_observed_aggregates_pinned(spark, tmp_path, monkeypatch, layout):
    """A run_filter call on a small 8-bucket input runs no more Spark jobs
    than `RUN_FILTER_MAX_JOBS` (the flat run adds the pre-write repartition;
    `near_dup` is a partition-dir input with near_dup_hamming=3; `spill` is a
    flat input whose decisions pass the patched broadcast cap, so they spill
    and every bucket group commits on its own), and each write observes the
    run-global counts plus one count per pending bucket (n_scrubbed), plus
    one more per bucket (rows_in) when no input file holds the bucket's rows.
    The footer reads run on the driver, not as jobs."""
    from data_quality_check_spark import record
    from data_quality_check_spark.pipeline import run as RUN
    from data_quality_check_spark.pipeline.fixtures import (
        write_images_parquet,
        write_images_parquet_spark,
    )
    from data_quality_check_spark.pipeline.heuristics import FLAG_COLS

    buckets = 8
    cfg = RUN.FilterConfig(num_buckets=buckets)
    if layout in ("partition_dir", "near_dup"):
        path = str(tmp_path / "images")
        write_images_parquet_spark(spark, path, n=300, num_files=buckets, bucket_by_id=buckets)
        per_bucket = 1  # n_scrubbed; + n_bucket_mismatch below
        base = 3 + len(RUN.DROP_REASONS) + len(FLAG_COLS) + 1
    else:
        path = str(tmp_path / "images.parquet")
        write_images_parquet(path, n=300)
        per_bucket = 2  # n_scrubbed and rows_in
        base = 3 + len(RUN.DROP_REASONS) + len(FLAG_COLS)
    if layout == "near_dup":
        cfg.near_dup_hamming = 3
    if layout == "spill":
        monkeypatch.setattr(record, "BROADCAST_ROWS", 1)
    writes = []
    real = RUN._write_selected

    def recording(*a, **k):
        m = real(*a, **k)
        writes.append((len(m), len(a[2])))  # (metrics width, the group's buckets)
        return m

    monkeypatch.setattr(RUN, "_write_selected", recording)
    jobs, summary = _jobs(spark, f"pin-run-filter-{layout}", lambda: RUN.run_filter(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg
    ))
    assert summary["rows_kept"] > 0
    assert sum(n for _, n in writes) == buckets
    assert (len(writes) > 1) == (layout == "spill"), writes
    assert all(width == base + per_bucket * n for width, n in writes), writes
    assert 0 < jobs <= RUN_FILTER_MAX_JOBS[layout], jobs
