"""Structured Streaming surface: incremental filter ingest + windowed metrics.

Covers:
  * stream ≡ batch: draining a landing dir through `run_stream_filter` in one
    micro-batch produces exactly the batch job's kept ids + scrubbed captions,
    under the default config, near-dup dedup and contamination filtering;
  * exactly-once incremental resume: new files landing after a drain are the
    only thing the next drain processes (streaming checkpoint, no manifest);
  * windowed metrics: the same watermarked plan over a stream (availableNow,
    complete mode into a memory sink) matches the batch groupBy(window) run.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.pipeline.fixtures import write_images_parquet
from data_quality_check_spark.pipeline.run import FilterConfig, run_filter
from data_quality_check_spark.streaming import (
    run_stream_filter,
    windowed_quality_metrics,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def fixture_files(tmp_path):
    """A 600-row image fixture as 6 part files in a staging dir."""
    staging = tmp_path / "staging"
    write_images_parquet(str(staging), n=600, num_files=6)
    return sorted(os.listdir(staging)), staging


def _kept(spark, out_dir):
    df = spark.read.parquet(os.path.join(str(out_dir), "filtered"))
    return {
        r["image_id"]: r["scrubbed_caption"]
        for r in df.select("image_id", "scrubbed_caption").collect()
    }


def _selected_ids(spark, path, cfg) -> set:
    """Ids the batch decision path selects for `cfg` over the parquet at `path`."""
    from data_quality_check_spark.pipeline.run import decide
    from data_quality_check_spark.record import run_record

    with run_record():
        df = decide(spark.read.parquet(str(path)), cfg)
        return {r["image_id"] for r in df.filter("row_selected").select("image_id").collect()}


def _plant_near_dups(staging, n_pairs: int = 40) -> set:
    """Give every odd id img(2k+1), k in [100, 100 + n_pairs), a phash 2 bits
    from img(2k)'s: the pair is one group under near_dup_hamming=3 (the odd id
    loses) and two under exact-phash dedup. Returns the planted losers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = sorted(staging.iterdir())
    tables = {p: pq.read_table(p) for p in paths}
    phash = {}
    for t in tables.values():
        phash.update(zip(t.column("image_id").to_pylist(), t.column("phash").to_pylist()))
    new = {
        f"img{2 * k + 1:08d}": phash[f"img{2 * k:08d}"] ^ 0b101
        for k in range(100, 100 + n_pairs)
    }
    for p, t in tables.items():
        ids = t.column("image_id").to_pylist()
        col = [new.get(i, h) for i, h in zip(ids, t.column("phash").to_pylist())]
        i = t.schema.get_field_index("phash")
        pq.write_table(t.set_column(i, "phash", pa.array(col, pa.int64())), p)
    return set(new)


@pytest.mark.parametrize("variant", ["default", "near_dup_hamming", "contamination"])
def test_stream_filter_matches_batch(spark, fixture_files, tmp_path, variant):
    """One FilterConfig, one verdict: the stream's micro-batch must keep the
    batch job's ids and scrubbed captions under each decision option. The
    non-default options must move the verdicts against the default, so
    neither case can pass vacuously."""
    files, staging = fixture_files
    cfg = FilterConfig(num_buckets=8)
    targets: set = set()
    if variant == "near_dup_hamming":
        targets = _plant_near_dups(staging)
        cfg = FilterConfig(num_buckets=8, near_dup_hamming=3)
    default_kept = _selected_ids(spark, staging, FilterConfig(num_buckets=8))
    if variant == "contamination":
        # eval set = the verbatim captions of 10 rows the default keeps
        import pandas as pd

        targets = set(sorted(default_kept)[:10])
        rows = spark.read.parquet(str(staging)).filter(F.col("image_id").isin(targets))
        caps = sorted({r["caption"] for r in rows.select("caption").collect()})
        eval_path = str(tmp_path / "eval.parquet")
        pd.DataFrame({"caption": caps}).to_parquet(eval_path)
        cfg = FilterConfig(num_buckets=8, contamination_eval_path=eval_path)

    landing = tmp_path / "landing"
    landing.mkdir()
    for f in files:
        shutil.copy(staging / f, landing / f)
    summary = run_stream_filter(
        spark, str(landing), str(tmp_path / "s_out"), str(tmp_path / "s_ckpt"), cfg
    )
    assert summary["batches"] == 1  # availableNow, no maxFilesPerTrigger cap
    assert summary["rows_in"] == 612  # 600 + 2% injected duplicate rows

    run_filter(spark, str(staging), str(tmp_path / "b_out"), str(tmp_path / "b_ckpt"), cfg)
    stream_kept = _kept(spark, tmp_path / "s_out")
    batch_kept = _kept(spark, tmp_path / "b_out")
    assert stream_kept == batch_kept  # ids AND scrubbed captions identical
    if variant != "default":
        assert targets & default_kept - set(batch_kept)

    # per-batch metrics landed in the stream's own table (separate from the
    # batch run_metrics schema), keyed by batch_id
    m = spark.read.parquet(str(tmp_path / "s_ckpt" / "stream_run_metrics")).collect()
    assert len(m) == 1 and m[0]["rows_kept"] == summary["rows_kept"]
    assert m[0]["batch_id"] == 0


def test_stream_rid_is_the_storage_position(spark, fixture_files, tmp_path):
    """The stream projects rid at its source as xxhash64(file path, row
    index) of each landed row — the batch job's rid, not a per-plan id."""
    from data_quality_check_spark.streaming.stream_filter import read_image_stream

    files, staging = fixture_files
    landing = tmp_path / "landing"
    shutil.copytree(staging, landing)
    got = []
    q = (
        read_image_stream(spark, str(landing))
        .writeStream.foreachBatch(
            lambda df, _: got.extend(df.select("image_id", "rid").collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rid = F.xxhash64(F.col("_metadata.file_path"), F.col("_metadata.row_index"))
    want = spark.read.parquet(str(landing)).select("image_id", rid.alias("rid")).collect()
    assert len(got) == 612
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_filter_incremental_resume(spark, fixture_files, tmp_path):
    files, staging = fixture_files
    landing = tmp_path / "landing"
    landing.mkdir()
    first, rest = files[:4], files[4:]
    for f in first:
        shutil.copy(staging / f, landing / f)

    cfg = FilterConfig(num_buckets=8)
    args = (spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg)
    s1 = run_stream_filter(*args)
    assert s1["rows_in"] > 0

    # drain again with nothing new: checkpoint says all files are processed
    s2 = run_stream_filter(*args)
    assert s2["rows_in"] == 0

    # new files land; only they are processed
    for f in rest:
        shutil.copy(staging / f, landing / f)
    s3 = run_stream_filter(*args)
    assert s1["rows_in"] + s3["rows_in"] == 612
    total_rows = spark.read.parquet(str(tmp_path / "out" / "filtered")).count()
    assert total_rows == s1["rows_kept"] + s3["rows_kept"]
    # write fan-out: each arrival writes ONE data file per non-empty bucket
    # partition (the rest of a partition dir is Hadoop .crc sidecars)
    part_dirs = list((tmp_path / "out" / "filtered").glob("_batch_id=*/_bucket=*"))
    assert {d.parent.name for d in part_dirs} == {"_batch_id=0", "_batch_id=1"}
    for d in part_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, sorted(os.listdir(d))


def test_windowed_metrics_stream_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    rules = [{"name": "value_nonneg", "condition": "value >= 0"}]
    kw = dict(
        ts_col="ts",
        window_duration="6 hours",
        check_cols=["user_id", "value"],
        rules=rules,
    )
    expected = {
        tuple(r): None for r in windowed_quality_metrics(batch, **kw).collect()
    }

    events_dir = tmp_path / "events_landing"  # file source wants a directory
    events_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), events_dir / "events.parquet")
    stream_src = spark.readStream.schema(batch.schema).parquet(str(events_dir))
    q = (
        windowed_quality_metrics(stream_src, **kw)
        .writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r): None for r in spark.sql("SELECT * FROM win_metrics").collect()}
    assert got == expected and len(got) > 0


def test_stateful_running_metrics_accumulate(spark, tmp_path):
    """applyInPandasWithState: per-event-type counters must accumulate ACROSS
    micro-batches (2 files → 2 batches via maxFilesPerTrigger=1) and the final
    update per group must equal a plain batch groupBy over all the data."""
    import pandas as pd

    from data_quality_check_spark.streaming import running_group_metrics

    batch = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    half = batch.count() // 2
    landing = tmp_path / "ev_landing"
    landing.mkdir()
    # split with Spark (not pandas) so the parquet types match the stream schema
    ordered = batch.orderBy("event_id")
    ordered.limit(half).coalesce(1).write.parquet(str(landing / "p0"))
    ordered.subtract(ordered.limit(half)).coalesce(1).write.parquet(str(landing / "p1"))
    for i, sub in enumerate(["p0", "p1"]):
        src = next(f for f in os.listdir(landing / sub) if f.endswith(".parquet"))
        shutil.move(str(landing / sub / src), str(landing / f"part-{i}.parquet"))
        shutil.rmtree(landing / sub)

    def with_rule(df):
        # every 7th event gets a NULL rule verdict: exercises the null ⇒ no
        # violation convention through the object-dtype pandas fold
        return df.withColumn(
            "value_ok",
            F.expr(
                "CASE WHEN pmod(event_id, 7) = 0 THEN CAST(NULL AS BOOLEAN) "
                "ELSE value >= 0 END"
            ),
        )

    stream_src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing))
    )
    q = (
        running_group_metrics(
            with_rule(stream_src), "event_type", ["user_id", "value"], "value_ok"
        )
        .writeStream.format("memory")
        .queryName("running_metrics")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "rm_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM running_metrics").toPandas()
    # update mode appends one row per (group, batch); keep each group's LAST
    final = (
        got.sort_values(["group", "batches"]).groupby("group").tail(1).set_index("group")
    )
    assert (final["batches"] >= 2).any()  # state really crossed a batch boundary

    want = (
        with_rule(batch)
        .groupBy(F.col("event_type").alias("group"))
        .agg(
            F.count(F.lit(1)).alias("rows_total"),
            (F.count_if(F.col("user_id").isNull()) + F.count_if(F.col("value").isNull())).alias(
                "nulls_total"
            ),
            F.count_if(~F.coalesce(F.col("value_ok"), F.lit(True))).alias("violations_total"),
        )
        .toPandas()
        .set_index("group")
    )
    for g, row in want.iterrows():
        for c in ["rows_total", "nulls_total", "violations_total"]:
            assert final.loc[g, c] == row[c], (g, c)
    pd.testing.assert_series_equal(
        final["null_rate"],
        (final["nulls_total"] / (final["rows_total"] * 2)).rename("null_rate"),
    )

    # non-string group keys must work too (schema stringifies the key)
    stream2 = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(landing))
        .withColumn("bucket_id", F.pmod(F.col("event_id"), F.lit(3)))
    )
    q2 = (
        running_group_metrics(stream2, "bucket_id", ["value"])
        .writeStream.format("memory")
        .queryName("running_metrics_int")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "rm2_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got2 = spark.sql("SELECT * FROM running_metrics_int").toPandas()
    final2 = got2.sort_values(["group", "batches"]).groupby("group").tail(1)
    assert set(final2["group"]) == {"0", "1", "2"}
    assert final2["rows_total"].sum() == batch.count()


def test_cross_batch_dedup_within_watermark(spark, tmp_path):
    """A duplicate image_id landing in a LATER micro-batch is dropped by the
    dropDuplicatesWithinWatermark state (VERDICT r1 item 8), while without
    dedup_within the re-delivery would be scored and written twice."""
    import pyarrow.parquet as pq

    from data_quality_check_spark.pipeline.fixtures import generate_images_pdf, _pa_schema
    import pyarrow as pa

    pdf = generate_images_pdf(n=60, dup_rate=0.0)
    landing = tmp_path / "landing"
    landing.mkdir()
    schema = _pa_schema()
    # batch 1: rows 0..39; batch 2: rows 40..59 PLUS re-delivered rows 0..9
    b1 = pdf.iloc[:40]
    b2 = pdf.iloc[40:].copy()
    redelivered = pdf.iloc[:10]
    import pandas as pd

    b2 = pd.concat([b2, redelivered], ignore_index=True)
    pq.write_table(pa.Table.from_pandas(b1, schema=schema, preserve_index=False), str(landing / "part-000.parquet"))
    pq.write_table(pa.Table.from_pandas(b2, schema=schema, preserve_index=False), str(landing / "part-001.parquet"))

    cfg = FilterConfig(num_buckets=4)
    summary = run_stream_filter(
        spark,
        str(landing),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        cfg,
        max_files_per_trigger=1,  # force two micro-batches
        dedup_within="1 hour",
    )
    # ≥2 real batches (stateful ops may append a trailing empty watermark batch)
    assert summary["batches"] >= 2
    assert summary["rows_in"] == 60  # 70 landed - 10 cross-batch re-deliveries dropped
    out = spark.read.parquet(os.path.join(str(tmp_path / "out"), "filtered"))
    ids = [r["image_id"] for r in out.select("image_id").collect()]
    assert len(ids) == len(set(ids))  # no id written twice


def test_stream_replay_is_idempotent(spark, fixture_files, tmp_path):
    """foreachBatch is at-least-once: simulate the crash window (batch wrote
    its output, offsets never committed) by deleting the streaming commit log
    and re-draining — the replayed batch must REPLACE its own output and
    metrics row, not append duplicates."""
    files, staging = fixture_files
    landing = tmp_path / "landing"
    landing.mkdir()
    for f in files:
        shutil.copy(staging / f, landing / f)

    cfg = FilterConfig(num_buckets=8)
    args = (spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg)
    s1 = run_stream_filter(*args)
    kept1 = _kept(spark, tmp_path / "out")

    shutil.rmtree(tmp_path / "ckpt" / "stream" / "commits")  # offsets survive, commit doesn't
    s2 = run_stream_filter(*args)
    assert s2["rows_in"] == s1["rows_in"]  # the same batch re-ran...
    kept2 = _kept(spark, tmp_path / "out")
    assert kept2 == kept1  # ...and replaced, not duplicated, its output
    rows = spark.read.parquet(str(tmp_path / "out" / "filtered")).count()
    assert rows == s1["rows_kept"]
    m = spark.read.parquet(str(tmp_path / "ckpt" / "stream_run_metrics")).collect()
    assert len(m) == 1  # one metrics row per batch_id, replay replaced it


def test_stream_corpus_dedup_against_seen_artifacts(spark, tmp_path):
    """Streaming ingest with a persisted seen corpus (SeenCorpusArtifacts):
    captions already in the corpus drop as corpus_duplicate; batch 2 dedups
    against batch 1's appended survivors WITHOUT re-reading batch 1's text;
    and a replayed batch (crash after the artifact append, before the stream
    commit) is a no-op instead of dropping its own rows as self-duplicates."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.dedup import SeenCorpusArtifacts
    from data_quality_check_spark.pipeline.fixtures import (
        _pa_schema,
        generate_images_pdf,
    )
    from data_quality_check_spark.sources.tables import TableIO

    pdf = generate_images_pdf(n=60, dup_rate=0.0)
    # b2 rows 30..34 copy the captions of b1 rows 10..14 (cross-batch dups)
    donors_b2 = list(range(10, 15))
    for j, s in enumerate(donors_b2):
        pdf.loc[30 + j, "caption"] = pdf.loc[s, "caption"]
    landing = tmp_path / "landing"
    landing.mkdir()
    schema = _pa_schema()
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[:30], schema=schema, preserve_index=False),
        str(landing / "part-000.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[30:], schema=schema, preserve_index=False),
        str(landing / "part-001.parquet"),
    )
    # the file source takes files in modification-time order (millisecond
    # resolution; a tie falls back to the listing order, which can put
    # part-001 first): date b2 a second after b1 so b1 is the first batch
    t0 = os.stat(landing / "part-000.parquet").st_mtime_ns
    os.utime(landing / "part-001.parquet", ns=(t0 + 10**9, t0 + 10**9))

    # baseline WITHOUT corpus dedup — the independent expectation source
    cfg = FilterConfig(num_buckets=4)
    run_stream_filter(
        spark, str(landing), str(tmp_path / "base_out"), str(tmp_path / "base_ckpt"),
        cfg, max_files_per_trigger=1,
    )
    kept_base = set(_kept(spark, tmp_path / "base_out"))
    id_of = pdf["image_id"].to_dict()

    # bootstrap corpus = captions of the first 2 baseline-kept b1 rows
    boot_rows = sorted(i for i in range(30) if id_of[i] in kept_base)[:2]
    assert len(boot_rows) == 2
    art = SeenCorpusArtifacts(
        TableIO(spark, str(tmp_path / "corpus_wh"), backend="parquet"), ngram=1
    )
    art.init(
        spark.createDataFrame(
            [(f"seen-{i}", pdf.loc[i, "caption"]) for i in boot_rows],
            "doc_id string, caption string",
        ),
        "doc_id",
        "caption",
    )
    fp_after_init = art.fingerprints().count()

    # threshold 0.95: only (near-)identical caption token sets fire, so the
    # planted exact copies are the only corpus verdicts in play
    summary = run_stream_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        max_files_per_trigger=1, seen_artifacts=art, content_dedup_threshold=0.95,
    )
    assert summary["batches"] >= 2

    # expectation: baseline kept set, minus the bootstrap donors (their caption
    # is in the corpus), minus b2 copies whose donor's caption reached the
    # corpus (donor kept in batch 1, or donor was itself a bootstrap donor)
    expected = set(kept_base)
    for i in boot_rows:
        expected.discard(id_of[i])
    batch1_kept = {id_of[i] for i in range(30) if id_of[i] in expected}
    for j, s in enumerate(donors_b2):
        if id_of[s] in batch1_kept or s in boot_rows:
            expected.discard(id_of[30 + j])
    got = set(_kept(spark, tmp_path / "out"))
    assert got == expected

    # corpus drops are first-class in the metrics rows
    m = spark.read.parquet(str(tmp_path / "ckpt" / "stream_run_metrics")).toPandas()
    assert int(m["n_corpus_duplicate"].sum()) == len(kept_base) - len(got)

    # survivors were appended once per batch, keyed by (checkpoint IDENTITY,
    # batch id) — identity is Spark's streaming query id, NOT the path: a
    # wiped-and-recreated checkpoint at the same path gets a fresh id, so its
    # restarted batch 0 can never read as an already-applied replay
    import json

    with open(tmp_path / "ckpt" / "stream" / "metadata") as fh:
        qid = json.load(fh)["id"]
    assert art.fingerprints().count() >= fp_after_init
    assert art.token_applied(f"{qid}-b0") and art.token_applied(f"{qid}-b1")
    assert not art.token_applied("batch-0")  # bare batch ids are not the key
    fp_before_replay = art.fingerprints().count()

    # replay the LAST batch (offsets survive, commits don't — recovery re-runs
    # the latest uncommitted batch): it already appended, so the replay must
    # be a NO-OP — same output, same metrics, no double-append, and crucially
    # no self-duplicate drops from seeing its own captions in the corpus
    shutil.rmtree(tmp_path / "ckpt" / "stream" / "commits")
    summary2 = run_stream_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        max_files_per_trigger=1, seen_artifacts=art, content_dedup_threshold=0.95,
    )
    assert set(_kept(spark, tmp_path / "out")) == expected
    assert art.fingerprints().count() == fp_before_replay
    m2 = spark.read.parquet(str(tmp_path / "ckpt" / "stream_run_metrics")).toPandas()
    assert len(m2) == len(m)  # one metrics row per batch_id, replay kept it


def test_stream_replay_without_metrics_file_refuses(spark, tmp_path):
    """A replayed batch that the seen corpus records as applied restores its
    totals from its own metrics file. With that file deleted it cannot, and
    reprocessing would drop its rows as their own corpus duplicates: the
    replay raises the diverged-metrics error instead."""
    from data_quality_check_spark.operators.dedup import SeenCorpusArtifacts
    from data_quality_check_spark.sources.tables import TableIO

    landing = tmp_path / "landing"
    write_images_parquet(str(landing), n=40, num_files=2)
    art = SeenCorpusArtifacts(
        TableIO(spark, str(tmp_path / "corpus_wh"), backend="parquet"), ngram=1
    )
    art.init(
        spark.createDataFrame(
            [("seen-0", "a bootstrap caption no fixture row carries")],
            "doc_id string, caption string",
        ),
        "doc_id",
        "caption",
    )
    ckpt = tmp_path / "ckpt"
    args = (spark, str(landing), str(tmp_path / "out"), str(ckpt), FilterConfig(num_buckets=4))
    assert run_stream_filter(*args, seen_artifacts=art)["batches"] == 1

    shutil.rmtree(ckpt / "stream" / "commits")  # offsets survive, commit doesn't
    os.remove(ckpt / "stream_run_metrics" / "batch-0000000000.parquet")
    with pytest.raises(Exception, match="diverged"):
        run_stream_filter(*args, seen_artifacts=art)


def test_stream_corpus_dedup_duplicate_rows_no_fanout(spark, tmp_path):
    """A micro-batch carrying the same image_id twice (re-delivered rows,
    dedup_within unset) must still write ONE physical row and count metrics
    once: the corpus-decision table is aggregated per image_id before the
    join, so it cannot fan scored rows out. (Regression: a row-level decision
    table made the join produce rows x copies duplicates.)"""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.dedup import SeenCorpusArtifacts
    from data_quality_check_spark.pipeline.fixtures import (
        _pa_schema,
        generate_images_pdf,
    )
    from data_quality_check_spark.sources.tables import TableIO

    pdf = generate_images_pdf(n=40, dup_rate=0.0)
    dup = pd.concat([pdf, pdf.iloc[:6]], ignore_index=True)  # 6 verbatim copies
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(
        pa.Table.from_pandas(dup, schema=_pa_schema(), preserve_index=False),
        str(landing / "part-000.parquet"),
    )

    art = SeenCorpusArtifacts(
        TableIO(spark, str(tmp_path / "wh"), backend="parquet"), ngram=1
    )
    art.init(
        spark.createDataFrame([("boot-1", "bootstrap corpus caption nothing matches")],
                              "doc_id string, caption string"),
        "doc_id", "caption",
    )
    summary = run_stream_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        FilterConfig(num_buckets=4), seen_artifacts=art,
        content_dedup_threshold=0.95,
    )
    out = spark.read.parquet(os.path.join(str(tmp_path / "out"), "filtered"))
    ids = [r["image_id"] for r in out.select("image_id").collect()]
    assert len(ids) == len(set(ids))  # one physical row per kept id
    assert summary["rows_kept"] == len(ids)  # metrics agree with the output


def test_stream_corpus_dedup_competes_only_among_published_rows(spark, tmp_path):
    """Corpus content dedup must compete only among rows the filter would
    PUBLISH: a caption carried by a quality-dropped row (smaller image_id —
    the would-be within-batch dedup winner) must not veto the kept row that
    shares it, or the caption reaches neither the output nor the corpus. The
    survivor's caption must then be corpus membership for the NEXT batch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_check_spark.operators.dedup import SeenCorpusArtifacts
    from data_quality_check_spark.pipeline.fixtures import (
        _pa_schema,
        generate_images_pdf,
    )
    from data_quality_check_spark.sources.tables import TableIO

    pdf = generate_images_pdf(n=8, dup_rate=0.0)
    id_of = pdf["image_id"].to_dict()

    # learn which rows the quality gates keep, independent of corpus dedup
    base_landing = tmp_path / "base_landing"
    base_landing.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_pa_schema(), preserve_index=False),
        str(base_landing / "part-000.parquet"),
    )
    cfg = FilterConfig(num_buckets=4)
    run_stream_filter(
        spark, str(base_landing), str(tmp_path / "base_out"), str(tmp_path / "base_ckpt"), cfg
    )
    kept_base = set(_kept(spark, tmp_path / "base_out"))
    donors = [i for i in range(1, 8) if id_of[i] in kept_base]
    assert donors, "fixture must keep at least one row beyond index 0"
    k = donors[0]

    # row 0: quality-dropped (bad dims) but carrying row k's caption; its
    # image_id sorts before k's, so whole-batch caption dedup would crown it
    # within-batch winner and drop row k as corpus_duplicate
    pdf.loc[0, "w"] = 0
    pdf.loc[0, "caption"] = pdf.loc[k, "caption"]
    assert id_of[0] < id_of[k]
    landing = tmp_path / "landing"
    landing.mkdir()
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=_pa_schema(), preserve_index=False),
        str(landing / "part-000.parquet"),
    )

    art = SeenCorpusArtifacts(
        TableIO(spark, str(tmp_path / "wh"), backend="parquet"), ngram=1
    )
    art.init(
        spark.createDataFrame(
            [("boot-1", "bootstrap corpus caption nothing matches")],
            "doc_id string, caption string",
        ),
        "doc_id", "caption",
    )
    run_stream_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        seen_artifacts=art, content_dedup_threshold=0.95,
    )
    got = set(_kept(spark, tmp_path / "out"))
    # row k survives; nothing at all drops as corpus_duplicate (captions are
    # unique except the planted copy on the quality-dropped row)
    assert id_of[k] in got
    assert got == kept_base - {id_of[0]}
    m = spark.read.parquet(str(tmp_path / "ckpt" / "stream_run_metrics")).toPandas()
    assert int(m["n_corpus_duplicate"].sum()) == 0

    # and the SURVIVOR's caption is in the corpus now: a later batch's clone
    # of row k (same image, fresh id) must drop as corpus_duplicate
    clone = pdf.iloc[[k]].copy()
    clone["image_id"] = "zzz-clone-of-k"
    pq.write_table(
        pa.Table.from_pandas(clone, schema=_pa_schema(), preserve_index=False),
        str(landing / "part-001.parquet"),
    )
    summary2 = run_stream_filter(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt"), cfg,
        seen_artifacts=art, content_dedup_threshold=0.95,
    )
    assert summary2["rows_kept"] == 0  # clone not published (totals are per call)
    m2 = spark.read.parquet(str(tmp_path / "ckpt" / "stream_run_metrics")).toPandas()
    assert int(m2["n_corpus_duplicate"].sum()) == 1


def test_stream_assign_aspect_buckets_matches_batch(spark, fixture_files, tmp_path):
    """The opt-in aspect_bucket column rides the streaming twin through the
    SAME shared projection as the batch job (run.optional_out_cols): both
    outputs carry it, never NULL on kept rows, with identical per-id values."""
    files, staging = fixture_files
    landing = tmp_path / "landing"
    landing.mkdir()
    for f in files:
        shutil.copy(staging / f, landing / f)

    cfg = FilterConfig(num_buckets=8, assign_aspect_buckets=True)
    run_stream_filter(
        spark, str(landing), str(tmp_path / "s_out"), str(tmp_path / "s_ckpt"), cfg
    )
    run_filter(spark, str(staging), str(tmp_path / "b_out"), str(tmp_path / "b_ckpt"), cfg)

    def buckets(out):
        df = spark.read.parquet(os.path.join(str(out), "filtered"))
        rows = df.select("image_id", "aspect_bucket").collect()
        assert all(r["aspect_bucket"] is not None for r in rows)
        return {r["image_id"]: r["aspect_bucket"] for r in rows}

    assert buckets(tmp_path / "s_out") == buckets(tmp_path / "b_out")


def test_resume_refuses_output_schema_config_change(spark, fixture_files, tmp_path):
    """Toggling a schema-affecting option against an existing checkpoint must
    be refused (mixed-schema partitions under dynamic overwrite), while
    resuming with the SAME config stays a clean no-op."""
    import pytest as _pt

    _, staging = fixture_files
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cfg = FilterConfig(num_buckets=8)
    run_filter(spark, str(staging), out, ckpt, cfg)
    # same schema config (fresh run_id) → allowed, no pending work
    again = run_filter(spark, str(staging), out, ckpt, FilterConfig(num_buckets=8))
    assert again["processed_buckets"] == []
    with _pt.raises(ValueError, match="output-schema config changed"):
        run_filter(
            spark, str(staging), out, ckpt,
            FilterConfig(num_buckets=8, assign_aspect_buckets=True),
        )
    with _pt.raises(ValueError, match="output-schema config changed"):
        run_filter(
            spark, str(staging), out, ckpt,
            FilterConfig(num_buckets=8, splits={"train": 0.9, "val": 0.1}),
        )


def test_stream_ppl_bucket_labels_match_batch(spark, fixture_files, tmp_path):
    """The opt-in frozen-cut ppl_bucket column rides the streaming twin through
    the SAME shared projection as the batch job (run.optional_out_cols):
    identical per-id labels, and a mid-checkpoint toggle is refused by the
    schema fingerprint."""
    import pytest as _pt

    files, staging = fixture_files
    landing = tmp_path / "landing"
    landing.mkdir()
    for f in files:
        shutil.copy(staging / f, landing / f)

    cuts = {lang: [8.0, 40.0] for lang in ("en", "fr", "de")}
    cfg = FilterConfig(num_buckets=8, ppl_bucket_cuts=cuts)
    run_stream_filter(
        spark, str(landing), str(tmp_path / "s_out"), str(tmp_path / "s_ckpt"), cfg
    )
    run_filter(spark, str(staging), str(tmp_path / "b_out"), str(tmp_path / "b_ckpt"), cfg)

    def labels(out):
        df = spark.read.parquet(os.path.join(str(out), "filtered"))
        rows = df.select("image_id", "ppl_bucket").collect()
        assert all(r["ppl_bucket"] is not None for r in rows)
        return {r["image_id"]: r["ppl_bucket"] for r in rows}

    assert labels(tmp_path / "s_out") == labels(tmp_path / "b_out")
    with _pt.raises(ValueError, match="output-schema config changed"):
        run_filter(
            spark, str(staging), str(tmp_path / "b_out"), str(tmp_path / "b_ckpt"),
            FilterConfig(num_buckets=8),
        )
