"""Incremental (micro-batch) variant of the image+caption quality filter.

Batch (`pipeline.run.run_filter`) is the canonical job — the north rule's
resume semantics come from its per-bucket checkpoint manifest. This module
covers the other operational shape: a landing directory that keeps receiving
new image files, filtered as they arrive.

Design:
  * file source `readStream.parquet` over the landing dir; the Structured
    Streaming checkpoint tracks processed files, so a restarted query is
    exactly-once over inputs without any manifest logic of our own;
  * the source projects the stable row id (`run.with_rid`: a hash of the
    row's file path and row index) — a foreachBatch frame can no longer
    resolve `_metadata`;
  * `foreachBatch` runs the batch job's own filter core on each micro-batch:
    `run.decide` (the same decision tables, near_dup_hamming and
    contamination options and `RunRecord.local` size gate as `run_filter`) and
    `run._write_selected` (the same optional columns, observe() metrics and
    bucketed write) — so one FilterConfig means the same keep/drop/scrub
    verdicts in both jobs, by construction;
  * per-batch metrics go to a `stream_run_metrics` table keyed by batch_id (a
    separate table, not the batch `run_metrics` — mixing the two schemas in
    one directory would read back depending on which file Spark samples for
    the footer);
  * foreachBatch is at-least-once, so both side effects are IDEMPOTENT per
    batch_id: kept rows overwrite their own `_batch_id` partition (the
    writer's dynamic partition overwrite) and the metrics row lands at a
    deterministic per-batch filename — a replayed micro-batch replaces its
    own output instead of duplicating it.

Dedup layering: the decision tables inside a micro-batch collapse duplicates
within that batch; `dedup_within` additionally drops CROSS-batch re-deliveries
with keyed state (`dropDuplicatesWithinWatermark` on an ingest timestamp):
first arrival wins, state retained only for the watermark delay, so state size
is bounded by (arrival rate × delay) keys — the retention bound a 10^12-row
stream needs. Cross-batch semantics differ from the batch job by design:
first-wins on re-delivery (the streaming at-least-once concern) vs min-id-wins
over the full corpus (the batch job still owns corpus-wide dedup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_quality_check_spark.pipeline.fixtures import IMAGES_DDL
from data_quality_check_spark.pipeline.run import (
    FilterConfig,
    _append_parquet,
    _write_selected,
    bucket_col,
    decide,
    with_rid,
)
from data_quality_check_spark.record import current, run_record


def read_image_stream(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: int | None = None,
    dedup_within: str | None = None,
    dedup_keys: list[str] | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of image parquet files.

    File sources need an explicit schema (no inference mid-stream); it is the
    north-rule input shape (`IMAGES_DDL`). `maxFilesPerTrigger` bounds
    micro-batch size — at production rates, set it so one batch's `bytes`
    payload fits the executors' Arrow/python memory, same sizing rule as the
    batch job's input splits.

    `dedup_within` (e.g. "1 hour") turns on cross-batch re-delivery dedup:
    `dropDuplicatesWithinWatermark` on an ingest timestamp keyed by
    `dedup_keys` (default: image_id). First arrival wins; a duplicate landing
    in a later micro-batch inside the delay window is dropped, and the keyed
    state is evicted after the delay, bounding state size at any input rate."""
    reader = spark.readStream.schema(IMAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = with_rid(reader.parquet(input_path))
    if dedup_within is not None:
        stream = (
            stream.withColumn("_ingest_ts", F.current_timestamp())
            .withWatermark("_ingest_ts", dedup_within)
            .dropDuplicatesWithinWatermark(dedup_keys or ["image_id"])
            .drop("_ingest_ts")
        )
    return stream


def run_stream_filter(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: FilterConfig | None = None,
    max_files_per_trigger: int | None = None,
    dedup_within: str | None = None,
    seen_artifacts=None,
    content_dedup_threshold: float = 0.6,
) -> dict:
    """Drain all currently-available files through the filter and stop
    (`Trigger.AvailableNow`), writing kept rows append-only, bucket-partitioned.

    Returns {batches, rows_in, rows_kept}. Re-running after new files land
    processes ONLY the new files (streaming checkpoint), making this the
    incremental twin of the batch job's bucket-manifest resume. `dedup_within`
    enables cross-batch re-delivery dedup (see `read_image_stream`).

    `seen_artifacts` (a `dedup.SeenCorpusArtifacts`) adds CORPUS-level caption
    content dedup — the continuously-running-crawl shape: every micro-batch is
    checked against the persisted seen corpus (exact fingerprint + MinHash
    near-dup, O(batch) via `dedup_incremental`) and against itself; losers
    drop with reason 'corpus_duplicate'; survivors' captions are appended back
    to the artifacts AFTER the batch's output commits, keyed by (checkpoint
    identity, streaming batch id) via `append_once` so an at-least-once replay
    of the batch never double-appends, a crashed half-append is excluded from
    the replay's own verdicts (`exclude_token`), and two streams sharing one
    corpus never mistake each other's batch numbering. Batch N+1 therefore
    dedups against batch N without ever re-reading batch N's text — the
    artifact tables are the only cross-batch state, and they grow
    O(kept rows)."""
    cfg = cfg or FilterConfig()
    totals = {"batches": 0, "rows_in": 0, "rows_kept": 0}
    # artifact idempotency tokens are (checkpoint IDENTITY, batch id): batch
    # ids restart at 0 for every new checkpoint, so a bare id would collide
    # across streams sharing one corpus. Identity = the streaming query id
    # Spark writes to <checkpoint>/stream/metadata at query creation — stable
    # across restarts of the same checkpoint, fresh when the checkpoint is
    # wiped and recreated. A path hash would NOT be: wipe-and-recreate at the
    # same path keeps the key while batch ids restart at 0, so every early
    # batch of the new run reads as an already-applied replay and is silently
    # skipped. Two hosts with identical local paths sharing one corpus
    # collide the same way; UUIDs never do.
    _key_cache: dict[str, str] = {}

    def _ckpt_key() -> str:
        key = _key_cache.get("key")
        if key is None:
            import json

            meta_path = os.path.join(checkpoint_dir, "stream", "metadata")
            try:
                with open(meta_path) as fh:
                    key = str(json.load(fh)["id"])
            except Exception as exc:  # no silent path-hash fallback: it
                # reintroduces the wipe-and-recreate collision invisibly
                raise RuntimeError(
                    f"cannot read the streaming query id from {meta_path} — "
                    "needed to key seen-corpus idempotency tokens"
                ) from exc
            _key_cache["key"] = key
        return key

    def _token(batch_id: int) -> str:
        return f"{_ckpt_key()}-b{int(batch_id)}"

    def _metrics_file(batch_id: int) -> str:
        return os.path.join(
            checkpoint_dir, "stream_run_metrics", f"batch-{int(batch_id):010d}.parquet"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one run record per micro-batch: dedup_incremental's signature pins,
        # the decision gate's pins and the scored snapshot are released when
        # the batch ends, crash or not, so a long-lived stream does not
        # accumulate storage for the query's lifetime
        with run_record():
            _process_batch(batch_df, batch_id)

    def _process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if seen_artifacts is not None and seen_artifacts.token_applied(
            _token(batch_id)
        ):
            # the artifact append is the LAST side effect of a batch, so a
            # recorded token means output + metrics + append all committed and
            # only the streaming offset commit was lost. Reprocessing would be
            # WRONG, not just wasteful: the batch's own captions are in the
            # corpus now, so a recomputed verdict would drop every row as its
            # own corpus_duplicate. Replay = restore totals from the committed
            # metrics row (its own per-batch file, read on the driver) and do
            # nothing else.
            import pyarrow.parquet as pq

            try:
                m = pq.read_table(
                    _metrics_file(batch_id), columns=["rows_in", "rows_kept"]
                ).to_pylist()[0]
            except FileNotFoundError as exc:
                raise RuntimeError(
                    f"batch {batch_id} is recorded as applied in the seen "
                    "corpus but its stream_run_metrics row is missing — the "
                    "metrics table and the checkpoint have diverged (was the "
                    "metrics directory deleted?); reprocessing is NOT safe "
                    "(the batch's captions are in the corpus already)"
                ) from exc
            totals["batches"] += 1
            totals["rows_in"] += int(m["rows_in"])
            totals["rows_kept"] += int(m["rows_kept"])
            return
        df = batch_df
        if "_bucket" not in df.columns:
            df = df.withColumn("_bucket", bucket_col(num_buckets=cfg.num_buckets))
        # the batch job's decisions, scoped to the micro-batch (see the module
        # docstring); the gate's pins release with this batch's run record
        scored = decide(df, cfg)
        if seen_artifacts is not None:
            from data_quality_check_spark.operators.dedup import dedup_incremental

            # corpus dedup competes ONLY among rows the filter would PUBLISH
            # (row_selected) — not the raw batch: a non-emitted duplicate
            # copy's caption must not veto its image_id, and a within-batch
            # near-dup loser must not drop as corpus_duplicate when its winner
            # row is itself dropped for quality (the caption would then reach
            # neither the output nor the corpus). Snapshot the scored batch
            # eagerly first: `dec` is derived from it AND joined back onto it,
            # so a lazy plan would evaluate the scoring twice — and this
            # batch's later artifact appends must not shift what dec's
            # lineage reads. exclude_token makes a retry of THIS batch blind
            # to its own crashed attempt's partial appends. The decision
            # table is batch-sized — broadcast it onto the scored rows and
            # fold the verdict into keep/drop_reason BEFORE the metrics
            # observe, so corpus drops are first-class in the metric row.
            scored = current().snapshot(scored)
            dec = (
                dedup_incremental(
                    scored.filter(F.col("row_selected")).select("image_id", "caption"),
                    None,
                    "image_id",
                    "caption",
                    threshold=content_dedup_threshold,
                    ngram=seen_artifacts.ngram,
                    num_hashes=seen_artifacts.num_hashes,
                    bands=seen_artifacts.bands,
                    seen_artifacts=seen_artifacts,
                    exclude_token=_token(batch_id),
                )
                # one physical row per selected image_id already; bool_and is
                # belt-and-braces against a caller-side duplicate-id slip
                .groupBy("image_id")
                .agg(F.bool_and("keep").alias("_corpus_keep"))
            )
            scored = scored.join(F.broadcast(dec), "image_id", "left")
            # rows outside the decision table (not row_selected, or null
            # caption → no fingerprint) keep their existing verdict: a NULL
            # _corpus_keep must never flip them
            corpus_dup = ~F.coalesce(F.col("_corpus_keep"), F.lit(True))
            scored = (
                scored.withColumn(
                    "drop_reason",
                    F.when(
                        F.col("keep") & corpus_dup, F.lit("corpus_duplicate")
                    ).otherwise(F.col("drop_reason")),
                )
                .withColumn("keep", F.col("keep") & ~corpus_dup)
                .withColumn("row_selected", F.col("row_selected") & ~corpus_dup)
                .drop("_corpus_keep")
            )
        # AFTER the corpus overlay: n_scrubbed must count kept-and-scrubbed
        # rows, not rows later dropped as corpus duplicates.
        m = _write_selected(
            scored,
            cfg,
            [],
            os.path.join(output_dir, "filtered"),
            f"stream-metrics-{cfg.run_id}-{batch_id}",
            batch_id=batch_id,
        )
        import pandas as pd

        row = {
            "run_id": cfg.run_id,
            "batch_id": int(batch_id),
            **{k: int(v) for k, v in m.items()},
        }
        pdf = pd.DataFrame([row])
        # µs unit explicitly: DataFrame-from-dict upcasts Timestamp scalars to
        # ns, which Spark's parquet reader rejects (TIMESTAMP(NANOS)).
        pdf["committed_at"] = pd.Series([pd.Timestamp.now(tz="UTC")]).dt.as_unit("us")
        # own table (NOT the batch job's run_metrics — its rows carry no
        # batch_id, and one directory with two schemas reads back
        # footer-dependently); deterministic per-batch filename → a replayed
        # batch REPLACES its metrics row instead of double-counting
        metrics_dir, fname = os.path.split(_metrics_file(batch_id))
        _append_parquet(pdf, metrics_dir, cfg.run_id, fname=fname)
        totals["batches"] += 1
        totals["rows_in"] += int(m["rows_in"])
        totals["rows_kept"] += int(m["rows_kept"])
        if seen_artifacts is not None:
            # fold this batch's survivors into the seen corpus — read them back
            # from the COMMITTED output partition (cheap narrow scan of what
            # actually landed; re-evaluating `kept`'s lineage here would re-run
            # the scoring plan against artifact tables mid-append). Token =
            # (checkpoint, batch id): stable across restarts of this
            # checkpoint, so an at-least-once replay skips the append
            # (append_once) — and the token must be recorded even for an
            # all-dropped batch, whose output dir may hold no readable files.
            if int(m["rows_kept"]) > 0:
                committed = (
                    spark.read.parquet(os.path.join(output_dir, "filtered"))
                    .filter(F.col("_batch_id") == int(batch_id))
                    .select("image_id", "caption")
                )
            else:
                committed = spark.createDataFrame(
                    [], "image_id string, caption string"
                )
            # assume_new: this batch's entry guard already read the applied
            # table and proved the token absent — don't pay that read twice
            seen_artifacts.append_once(
                committed, "image_id", "caption", token=_token(batch_id), assume_new=True
            )

    stream = read_image_stream(spark, input_path, max_files_per_trigger, dedup_within)
    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return totals
