"""The north-star job: image+caption quality filter with checkpointed resume.

    read (bucket-pruned) → heuristic flags (pure expressions)
      → fused decode-check + langid + perplexity UDF (one Python crossing)
      → dedup decision (narrow broadcast subquery — no separate action)
      → keep/drop decision + scrub → observe() metrics
      → bucket-partitioned write → per-bucket metrics + checkpoint manifest

Scale design notes (SURVEY.md §3.4, §4.2):
  * ONE heavy pass. Each commit group is a single Spark action (the filtered
    write); per-run metrics and the per-bucket counts no file holds
    (n_scrubbed; rows_in on a flat input) ride along via `DataFrame.observe` —
    computed by the very tasks that write the output, so nothing is persisted,
    re-scanned, or re-decoded. Per-bucket rows_kept (and rows_in on a
    partition-dir input) are read from Parquet footers on the driver: the
    `_bucket=b` partitions the write just produced hold exactly those rows.
    The only other actions are the bounded collects of `RunRecord.local`,
    which bring the narrow dup-phash and dedup-decision tables to the driver
    when they fit; the write then broadcasts those rows as local relations,
    without another job. The reference
    issues O(cols + rules) full-scan jobs for the same information
    (engine.py:439-553); this plan issues one per commit group.
  * `bytes` never shuffles on the production layout: a pre-bucketed input
    (`bucket(B, image_id)` — discovered `_bucket` partition column) makes the
    bucketed output write shuffle-free and the resume filter partition pruning.
    Flat inputs fall back to one kept-rows-only `repartition(num_buckets,
    _bucket)` before the write.
  * dedup needs no wide shuffle and no second action: one long-key phash
    aggregation finds dup phashes (map-side combine, tiny result), a broadcast
    semi-join restricts the id-level logic to the ~dup-rate fraction of a
    narrow (image_id, phash, rid) scan — `bytes`/`caption` never read — and
    the resulting small "dup decisions" table (phash-losers to drop + the
    surviving row id for multi-row ids) joins back as a broadcast. The
    broadcast is size-gated: past `record.BROADCAST_ROWS` rows the table
    spills bucket-partitioned beside the checkpoint and pending buckets are
    processed in groups against their partition-pruned slice (on Iceberg: a
    storage-partitioned join against a bucket(B, image_id) decisions table).
  * same-id exact-dup collapse uses a deterministic per-row id (a hash of the
    row's storage position — `_metadata.file_path` + `row_index`, identical on
    every plan branch by construction) to select ONE physical row per image_id
    instead of a `dropDuplicates` shuffle of kept bytes. The golden `keep` label (both copies keep=true, matching
    reference semantics where duplicates are id-level) is untouched; selection
    is a separate `row_selected` column.
  * resume = anti-filter on the manifest's completed-bucket list (partition
    pruning when the input is bucket-partitioned). The output writer (never
    the session) uses dynamic partition overwrite, so re-processing a bucket
    after a crash is idempotent. Every pending bucket gets a manifest row (even
    empty ones), so resume converges.
  * ONE filter core for both jobs: the streaming twin
    (streaming/stream_filter.py) runs `decide` and `_write_selected` on each
    micro-batch — the same decision tables, size gate (`RunRecord.local`)
    and bucketed write as `run_filter`, so one FilterConfig means one verdict.
  * per-language skew: the model stage is one map-side Arrow UDF
    (functions/fused.py), so there is no language-keyed shuffle and no skewed
    key to salt; the Zipf-heavy language mix costs nothing extra.

Run via spark-submit (the application file is this module; the package ships
as the --py-files zip so executors can import it):
    spark-submit --py-files dqx.zip data_quality_check_spark/pipeline/run.py \
        --input <parquet/iceberg> --output <dir> --checkpoint <dir>
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

if __package__ in (None, ""):  # spark-submit runs this file as a plain script;
    # make the enclosing package importable without requiring the --py-files
    # zip on the driver's own path
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from data_quality_check_spark import record
from data_quality_check_spark.functions.fused import with_model_scores_fused
from data_quality_check_spark.pipeline.heuristics import (
    FLAG_COLS,
    heuristic_ok,
    trim_col,
    with_flags,
)
from data_quality_check_spark.record import current, run_record
from data_quality_check_spark.sources.commit import replace_file

DATA_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]

# the filtered-output schema of both jobs (they write through _write_selected)
OUT_COLS = DATA_COLS + ["lang", "lang_conf", "ppl", "scrubbed_caption", "_bucket"]

# priority-ordered drop reasons; the first 12 mirror reference_impl.DROP_PRIORITY
# exactly (keep/label parity with the reference is over those); the curation
# reasons come LAST and only ever fire when their FilterConfig options are set,
# so a default-config run is bit-identical to the pre-curation pipeline.
DROP_REASONS = [
    "caption_missing",
    "fake_null",
    "too_short",
    "too_long",
    "low_alpha",
    "repetitive",
    "bad_dims",
    "bytes_implausible",
    "decode_failed",
    "language",
    "perplexity",
    "duplicate",
    "contamination",
    "mixture",
    # opt-in Gopher §A1.1 caption rules (FilterConfig.gopher_rules); zero
    # selected rules → the flag is constant false and default parity holds
    "gopher",
    # streaming-only (run_stream_filter seen_artifacts=): caption content
    # already in the persisted seen corpus or an earlier micro-batch — never
    # fires in the batch job, so batch metrics rows just carry a zero column
    "corpus_duplicate",
]

# fixed facets of the curation stages (FilterConfig.mixture_weights,
# contamination_eval_path, ppl_bucket_cuts)
MIXTURE_GROUP_COL = "lang"
CONTAMINATION_NGRAM = 3
PPL_BUCKET_LABELS = ("head", "middle", "tail")


@dataclass
class FilterConfig:
    target_langs: list[str] | None = None  # None → all model languages
    min_lang_conf: float = 0.15
    max_ppl: float = 30_000.0
    num_buckets: int = 64  # checkpoint/commit granularity; also the write-task fan-out
    # None → exact-phash dedup only; k → ALSO group ids whose phashes are
    # within Hamming k (perceptual near-dups: re-encodes, slight crops) via
    # banded pairs + connected components over the DISTINCT-phash table.
    near_dup_hamming: int | None = None
    # ── curation stages riding the SAME commit-group pass (all default-off;
    # the keep/scrub parity contract vs the reference is over the defaults) ──
    # hash_split: deterministic md5-threshold train/val/test assignment added
    # as a `split` output column — a shuffle-free projection on kept rows.
    splits: "dict[str, float] | None" = None
    split_salt: str = ""
    # mixture_sample: rate-based data-mix downsampling of kept rows (group →
    # Bernoulli keep-rate from weights + FROZEN group counts). Counts MUST be
    # supplied (from a prior run's lang histogram / monitoring table): the
    # job's one-action-per-commit-group contract forbids a counting pre-pass,
    # and frozen counts are also what makes the mix reproducible and
    # append-stable (curation.mixture_sample's documented production shape).
    mixture_weights: "dict[str, float] | None" = None
    mixture_output_rows: int | None = None
    mixture_counts: "dict[str, int] | None" = None
    mixture_salt: str = ""
    # contamination_overlap: drop kept rows whose caption shingles overlap an
    # eval benchmark set ≥ threshold_pct% (GPT-3 §C). The eval parquet needs a
    # `contamination_text_col` column; the decision table is computed ONCE per
    # run from a narrow (image_id, caption) scan — bytes never read — and
    # joins back exactly like dup decisions (size-gated broadcast).
    contamination_eval_path: str | None = None
    contamination_text_col: str = "caption"
    contamination_threshold_pct: int = 50
    # Gopher §A1.1 caption rules (heuristics.gopher_flags keys) applied as
    # EXTRA drop conditions — default None keeps the reference keep/scrub
    # parity contract untouched; selected rules ride the same finalize
    # projection (pure expressions, no extra pass, no shuffle)
    gopher_rules: "list[str] | None" = None
    # add the SDXL-ladder aspect_bucket column to kept rows (the bucketed-
    # batch dataloader key, heuristics.aspect_bucket_col) — one more pure
    # projection riding the same pass; NULL never appears on kept rows
    # (flag_bad_dims already drops non-positive dims)
    assign_aspect_buckets: bool = False
    # label kept rows with a perplexity bucket (the CCNet head/middle/tail
    # shape) under FROZEN per-language cuts: {lang: [cut1, ..., cut_{n-1}]},
    # ascending, typically collected once from curation.bucket_thresholds on a
    # calibration run and pinned — labeling is then a pure row-local CASE
    # riding the same pass (curation.bucket_label_col, the SAME expression
    # apply_bucket_thresholds uses), append-stable and identical on resume.
    # Languages absent from the cuts get ppl_bucket NULL (surfaced, not
    # guessed). Default None keeps the output schema and parity bit-identical.
    ppl_bucket_cuts: "dict[str, list[float]] | None" = None
    run_id: str = field(default_factory=lambda: f"run-{int(time.time())}")

    def split_labels(self) -> list[str]:
        return list(self.splits) if self.splits else []


def _bucket_sql(id_col: str, num_buckets: int) -> str:
    return f"CAST(pmod(xxhash64(`{id_col}`), {int(num_buckets)}) AS INT)"


def bucket_col(id_col: str = "image_id", num_buckets: int = 16) -> F.Column:
    """Deterministic bucket id — the parquet stand-in for Iceberg bucket(B, image_id)."""
    return F.expr(_bucket_sql(id_col, num_buckets))


def _validate_bucket_layout(raw: DataFrame, num_buckets: int) -> dict[int, list[str]] | None:
    """Fail fast when a prebucketed input's layout disagrees with
    cfg.num_buckets. pending = range(num_buckets), so `_bucket` values outside
    that range match no group filter — their rows would be scored never,
    written never, yet the run would return success: silent data loss.

    Partition-dir layouts (the production shape) are validated driver-side by
    parsing the partition values out of the file list — no Spark job — and
    that file list, by bucket, is returned: its footers hold each bucket's
    rows_in. A data-column `_bucket` (no `_bucket=` path segments) instead
    pays one narrow pushed-down scan for out-of-range values and returns
    None; that shape is the test/flat path, never the 10^12 one."""
    import re

    files: dict[int, list[str]] = {}
    for p in raw.inputFiles():
        m = re.search(r"/_bucket=(-?\d+)/", p)
        if m:
            files.setdefault(int(m.group(1)), []).append(p)
    if files:
        bad = sorted(v for v in files if v < 0 or v >= num_buckets)
    else:
        bad = [
            r["_bucket"]
            for r in raw.filter(
                (F.col("_bucket") < 0) | (F.col("_bucket") >= num_buckets)
            )
            .select("_bucket")
            .limit(5)
            .collect()
        ]
    if bad:
        raise ValueError(
            f"prebucketed input has _bucket values {sorted(set(bad))[:5]} outside "
            f"range(num_buckets={num_buckets}); cfg.num_buckets must match the "
            "layout's bucket count — those buckets would otherwise be silently "
            "skipped"
        )
    return files or None


def read_manifest(checkpoint_dir: str):
    """The checkpoint's manifest as a pandas frame: one row per committed
    bucket. `_write_checkpoint` appends it with local file I/O, so it is read
    the same way — pyarrow on the driver, no Spark job. A missing manifest
    raises FileNotFoundError; an unreadable file raises too."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(checkpoint_dir, "manifest")).to_pandas()


def completed_buckets(checkpoint_dir: str) -> list[int]:
    """Buckets the manifest records as committed; none before the first
    commit. An unreadable manifest raises instead of reading as "no bucket
    done", which would re-run every bucket and append duplicate metrics."""
    try:
        manifest = read_manifest(checkpoint_dir)
    except FileNotFoundError:
        return []
    return sorted({int(b) for b in manifest.get("bucket", ())})


def _decisions_from_candidates(cand: DataFrame, gkey: str) -> DataFrame:
    """Shared id-level decision tail for dup_decisions / near_dup_decisions:
    candidate rows (image_id, <gkey>, rid) → (image_id, is_loser, keep_rid).
    One function so the winner/tie-break/keep_rid contract — which the resume
    and determinism guarantees of BOTH callers rest on — cannot drift between
    the exact and perceptual variants."""
    ids = cand.groupBy("image_id").agg(
        F.min(gkey).alias(gkey),
        F.min("rid").alias("keep_rid"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    groups = ids.groupBy(gkey).agg(
        F.min("image_id").alias("winner"), F.count(F.lit(1)).alias("n_ids")
    )
    return (
        ids.join(groups, gkey)
        .filter((F.col("n_ids") > 1) | (F.col("n_rows") > 1))
        .select(
            "image_id",
            (F.col("image_id") != F.col("winner")).alias("is_loser"),
            "keep_rid",
        )
    )


def dup_decisions(df: DataFrame) -> DataFrame:
    """Small table of ids needing dedup action, from a narrow
    (image_id, phash, rid) columnar scan — `bytes` is never read.

      is_loser  — id loses its phash group (winner = min image_id): drop all rows
      keep_rid  — for ids stored as >1 physical row, the one row to emit

    MUST be computed over the FULL input, not a bucket subset: phash groups span
    buckets, and a resumed run has to pick the same winners a fresh run would.
    Only acting ids are returned (~duplicate-rate · n), small enough to
    broadcast; at 10^12 scale this becomes a bucketed intermediate table keyed
    by image_id instead of a broadcast.

    Every id needing action sits in a phash group holding >1 physical row:
    near-dup losers share a phash with another id by definition, and same-id
    copies are verbatim (same phash) by construction. So stage 1 finds dup
    phashes with ONE long-key aggregation (no strings, map-side combine, tiny
    result), and the id-level logic — two groupBys + a join, which cost 3 full
    8M-row shuffles when run over everything — only ever touches the ~dup-rate
    fraction of rows surviving the broadcast semi-join (measured 12.9s → ~3s
    at 32 cores / 8M rows).

    The dup-phash table is dup-rate-proportional, same magnitude as the final
    decisions table the callers size-gate, so it goes through the same gate,
    `RunRecord.local`: it reaches the join as a broadcast local relation, and
    a high-dup corpus past `record.BROADCAST_ROWS` falls back to a shuffled
    semi-join instead of OOMing every executor.
    """
    narrow = df.select("image_id", "phash", "rid")
    dup_ph, _ = current().local(
        narrow.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select("phash")
    )
    cand = narrow.join(dup_ph, "phash")
    return _decisions_from_candidates(cand, "phash")


def near_dup_decisions(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """dup_decisions extended to PERCEPTUAL near-dups: ids whose phashes sit
    within Hamming `max_hamming` of each other form ONE group (connected
    components over pigeonhole-banded pairs, dedup.hamming_near_pairs), and
    the min image_id per group wins. Output contract, determinism, and resume
    semantics are identical to dup_decisions — a resumed run re-derives the
    same decisions because every stage is a pure function of the full input.

    Cost: the Hamming pair join + components run over the DISTINCT-phash
    table — bounded by the corpus's perceptual diversity, not its row count
    (the fixture measures ~11k distinct hashes per 20k rows; a 10^12-row
    crawl still has ~10^9 distinct phashes). Candidate arithmetic (VERDICT r2
    item 3): one-level pigeonhole banding collides random phash pairs at
    ~4/2^16, so 10^9 distinct hashes would produce ~3×10^13 one-level
    candidates — NOT viable on its own. hamming_near_pairs' `bucket_cap`
    escalation handles exactly this: (chunk, ckey) buckets past the cap are
    re-banded by a second exact pigeonhole over the complement bits (recall
    stays 1, effective key space ~2^28, expected candidates at n=10^9 drop to
    ~n²·4·4/2^28 ≈ 6×10^10 verify-only rows spread across buckets — a large
    but tractable shuffle; beyond that, raise max_hamming's chunk count or
    pre-block by coarse image features). The full-width input pays exactly
    what the exact path pays: one broadcast semi-join."""
    from data_quality_check_spark.operators.dedup import (
        connected_components,
        hamming_near_pairs,
    )

    narrow = df.select("image_id", "phash", "rid")
    ph_counts = narrow.groupBy("phash").agg(F.count(F.lit(1)).alias("n"))
    edges = hamming_near_pairs(
        ph_counts.select("phash"), "phash", "phash", max_hamming
    )
    labels = connected_components(edges).withColumnRenamed("id", "phash")
    # acting phashes: near a different phash (component member) or repeated
    # (exact dups / same-id copies); group key = component, else own phash.
    # The semi-join broadcast is SIZE-GATED like the final decisions table
    # (ADVICE r2): acting is dup-rate-proportional, and at the ~10^9-distinct-
    # phash scale this module targets, a high perceptual-dup rate could exceed
    # executor broadcast memory. The Hamming-pair lineage already ran once,
    # behind `connected_components`' own gate; `RunRecord.local` runs the
    # phash-count + label join once, whichever side of the cap acting lands on.
    acting, _ = current().local(
        ph_counts.join(labels, "phash", "left")
        .filter((F.col("n") > 1) | F.col("comp").isNotNull())
        .select("phash", F.coalesce("comp", "phash").alias("gkey"))
    )
    cand = narrow.join(acting, "phash")
    return _decisions_from_candidates(cand, "gkey")


def decisions_for(df: DataFrame, cfg: FilterConfig) -> DataFrame:
    """Exact-phash decisions, or the perceptual near-dup variant when
    cfg.near_dup_hamming is set."""
    if cfg.near_dup_hamming is not None:
        return near_dup_decisions(df, cfg.near_dup_hamming)
    return dup_decisions(df)


def with_rid(df: DataFrame) -> DataFrame:
    """Stable physical row id: `xxhash64(_metadata.file_path,
    _metadata.row_index)` — a pure function of WHERE the row sits in storage
    (Spark ≥3.5 hidden file-source metadata; Iceberg's `_file`/`_pos` play the
    same role). Every plan branch that re-scans the input (the narrow dedup
    scan, the heavy scoring scan) therefore assigns identical rids to
    identical rows by construction — independent of split planning, AQE,
    partition count, or upstream layout changes, which a
    `monotonically_increasing_id` rid silently depended on (VERDICT r1 watch
    item b). rid is only ever compared WITHIN one image_id (keep_rid
    selection), so a 64-bit collision matters only between two copies of the
    same id: ~k²/2⁶⁴ per id — negligible at any scale.

    A streaming file source resolves `_metadata` too (read_image_stream
    projects rid there, because a foreachBatch frame no longer can). A frame
    with no input files (in-memory test fixtures) gets
    `monotonically_increasing_id` instead: single-scan determinism suffices
    there because such frames never take the production multi-branch path.
    Same-id duplicate rows are verbatim copies, so WHICH copy wins is
    immaterial to the output; the rid only guarantees exactly one survives."""
    if df.isStreaming or df.inputFiles():
        rid = F.xxhash64(F.col("_metadata.file_path"), F.col("_metadata.row_index"))
    else:
        rid = F.monotonically_increasing_id()
    return df.withColumn("rid", rid)


def score_rows(df: DataFrame, cfg: FilterConfig) -> DataFrame:
    """The heavy per-row stages: heuristic flags + the fused model UDF (ONE
    python crossing for decode+langid+ppl+scrub). No shuffle, no dup
    information — one map-side pass."""
    return with_model_scores_fused(with_flags(df))


def decide(df: DataFrame, cfg: FilterConfig) -> DataFrame:
    """All per-row scoring stages; adds flags, lang, ppl, dup flag, keep, reason.
    Honors the FULL FilterConfig — near_dup_hamming and
    contamination_eval_path — with run_filter's own decision tables, and
    sizes their joins with the same `RunRecord.local` gate, so its verdicts
    AND its join strategy agree with run_filter's for the same config. The
    streaming twin runs it on every micro-batch. Pins go to the current run
    record (open a `run_record()` to release them with it)."""
    if "rid" not in df.columns:
        df = with_rid(df)
    rec = current()
    dups, _ = rec.local(decisions_for(df, cfg))
    # un-gated, the eval-overlap lineage would re-execute per action, and a
    # handful of contaminated ids would shuffle-join
    contaminated = contamination_decisions(df.sparkSession, df, cfg)
    if contaminated is not None:
        contaminated, _ = rec.local(contaminated)
    return finalize(score_rows(df, cfg), cfg, dups, contaminated=contaminated)


def _mixture_ok_col(cfg: FilterConfig) -> F.Column:
    """Row-local mixture-sampling predicate (curation.mixture_sample semantics:
    keep iff md5(salt:id) < threshold(group), thresholds from FROZEN counts).
    Pure projection — no shuffle, no action; a group absent from the
    weights/thresholds drops entirely (NULL threshold → not ok). The predicate
    itself is curation.mixture_keep_col — the SAME builder mixture_sample
    filters on, so the two surfaces cannot drift."""
    from data_quality_check_spark.operators.curation import (
        mixture_keep_col,
        mixture_thresholds,
    )

    if cfg.mixture_counts is None or cfg.mixture_output_rows is None:
        raise ValueError(
            "mixture_weights needs mixture_counts + mixture_output_rows: the "
            "filter job never runs a counting pre-pass — freeze the group "
            "counts from a prior run's metrics and pass them in"
        )
    th = mixture_thresholds(cfg.mixture_counts, cfg.mixture_weights, cfg.mixture_output_rows)
    if not th:
        return F.lit(False)
    return F.coalesce(
        mixture_keep_col(MIXTURE_GROUP_COL, "image_id", th, cfg.mixture_salt),
        F.lit(False),
    )


def finalize(
    df: DataFrame,
    cfg: FilterConfig,
    dups: DataFrame,
    contaminated: DataFrame | None = None,
) -> DataFrame:
    """Cheap tail over scored rows: dup decision join, keep/drop decision,
    drop reason, scrub, output-row selection — pure expressions.
    Both decision tables (`dups`, `contaminated`) are joined AS GIVEN — the
    caller owns the size-gated broadcast hint (run_filter's per-group slices
    and decide()'s gated table arrive pre-hinted); forcing a broadcast here
    would override the gate the config knob exists for."""
    from data_quality_check_spark.functions.textmodel import default_model

    target = cfg.target_langs or default_model().langs

    df = df.join(dups, "image_id", "left")
    df = df.withColumn("flag_duplicate", F.coalesce(F.col("is_loser"), F.lit(False))).drop(
        "is_loser"
    )
    if contaminated is not None:
        df = df.join(contaminated, "image_id", "left")
        contam = F.coalesce(F.col("_contam"), F.lit(False))
        df = df.withColumn("flag_contamination", contam).drop("_contam")
    else:
        df = df.withColumn("flag_contamination", F.lit(False))
    mix_ok = _mixture_ok_col(cfg) if cfg.mixture_weights is not None else F.lit(True)

    if cfg.gopher_rules:
        from data_quality_check_spark.pipeline.heuristics import gopher_flags

        gf = gopher_flags(F.col("caption"))
        unknown = sorted(set(cfg.gopher_rules) - set(gf))
        if unknown:
            raise ValueError(
                f"unknown gopher_rules {unknown}; valid: {sorted(gf)}"
            )
        gopher_col = F.lit(False)
        for r in cfg.gopher_rules:
            gopher_col = gopher_col | gf[r]
    else:
        gopher_col = F.lit(False)
    df = df.withColumn("flag_gopher", gopher_col)

    lang_ok = F.col("lang").isin(list(target)) & (F.col("lang_conf") >= cfg.min_lang_conf)
    ppl_ok = F.col("ppl") <= cfg.max_ppl
    keep = (
        heuristic_ok()
        & ~F.col("flag_decode_failed")
        & lang_ok
        & ppl_ok
        & ~F.col("flag_duplicate")
        & ~F.col("flag_contamination")
        & mix_ok
        & ~F.col("flag_gopher")
    )
    df = df.withColumn("keep", keep)

    # first-match drop reason, priority-ordered (mirrors reference_impl.DROP_PRIORITY)
    cond_of = {
        "language": ~lang_ok,
        "perplexity": ~ppl_ok,
        "duplicate": F.col("flag_duplicate"),
        "contamination": F.col("flag_contamination"),
        "mixture": ~mix_ok,
        "gopher": F.col("flag_gopher"),
        # streaming-only: run_stream_filter overlays this verdict AFTER
        # finalize (it needs the persisted seen-corpus tables); here it is
        # never the reason, it just must not look for a flag_ column
        "corpus_duplicate": F.lit(False),
    }
    pairs = [(r, cond_of.get(r, F.col(f"flag_{r}"))) for r in DROP_REASONS]
    expr = F.when(pairs[0][1], pairs[0][0])
    for name, cond in pairs[1:]:
        expr = expr.when(cond, name)
    df = df.withColumn("drop_reason", expr)

    # exactly one physical row per kept image_id reaches the output; the keep
    # LABEL (reference semantics: id-level) stays true on every copy
    row_selected = F.col("keep") & (
        F.col("keep_rid").isNull() | (F.col("rid") == F.col("keep_rid"))
    )
    df = df.withColumn("row_selected", row_selected).drop("keep_rid")
    # the fused model UDF pre-computed scrub (one compiled-re pass on rows
    # already in Python); only kept rows carry it
    return df.withColumn(
        "scrubbed_caption", F.when(F.col("keep"), F.col("_scrubbed_all"))
    ).drop("_scrubbed_all")


def contamination_decisions(
    spark: SparkSession, df: DataFrame, cfg: FilterConfig
) -> DataFrame | None:
    """Small (image_id, _contam) table of captions contaminated by the eval
    set, or None when the check is off. Derived from a NARROW (image_id,
    caption) scan — bytes never read — with the eval shingle universe
    broadcast (curation.contamination_overlap); like dup_decisions it is
    computed over the FULL input so a resumed run reaches the same verdicts.
    The caller passes the result through `RunRecord.local`, which broadcasts
    it when it fits."""
    if not cfg.contamination_eval_path:
        return None
    from data_quality_check_spark.operators.curation import contamination_overlap

    eval_df = spark.read.parquet(cfg.contamination_eval_path)
    if cfg.contamination_text_col != "caption":
        # select-and-alias, not withColumnRenamed: the eval parquet may ALSO
        # carry a 'caption' column (common for caption benchmarks), and a
        # rename would produce two ambiguous 'caption' columns
        eval_df = eval_df.select(F.col(cfg.contamination_text_col).alias("caption"))
    overlap = contamination_overlap(
        df.select("image_id", "caption"),
        eval_df,
        "image_id",
        "caption",
        ngram=CONTAMINATION_NGRAM,
        threshold_pct=cfg.contamination_threshold_pct,
    )
    return (
        overlap.filter(F.col("contaminated"))
        .select("image_id")
        .withColumn("_contam", F.lit(True))
    )


def optional_out_cols(scored: DataFrame, cfg: FilterConfig, out_cols: "list[int]"):
    """Config-driven OPTIONAL output projections of both jobs' write step
    (`_write_selected`). Mutates out_cols in place, returns the projected
    frame.

      * cfg.splits → `split` (curation.hash_split: pure function of
        (salt, image_id), append-safe, identical on resume)
      * cfg.assign_aspect_buckets → `aspect_bucket` (SDXL-ladder id; never
        NULL on kept rows because flag_bad_dims drops non-positive dims)
      * cfg.ppl_bucket_cuts → `ppl_bucket` (frozen per-language perplexity
        tercile label via curation.bucket_label_col — a broadcast-free
        row-local CASE, since the cuts are config constants)
    """
    if cfg.splits:
        from data_quality_check_spark.operators.curation import hash_split

        scored = hash_split(scored, "image_id", cfg.splits, cfg.split_salt)
        out_cols.append("split")
    if cfg.assign_aspect_buckets:
        from data_quality_check_spark.pipeline.heuristics import aspect_bucket_col

        scored = scored.withColumn(
            "aspect_bucket", aspect_bucket_col(F.col("w"), F.col("h"))
        )
        out_cols.append("aspect_bucket")
    if cfg.ppl_bucket_cuts is not None:
        from data_quality_check_spark.operators.curation import bucket_label_col

        n = len(PPL_BUCKET_LABELS)
        for lang, cuts in cfg.ppl_bucket_cuts.items():
            if len(cuts) != n - 1:
                raise ValueError(
                    f"ppl_bucket_cuts[{lang!r}] has {len(cuts)} cuts; "
                    f"{n} labels need exactly {n - 1}"
                )
            if sorted(cuts) != list(cuts):
                raise ValueError(f"ppl_bucket_cuts[{lang!r}] must be ascending")
        # per-language cuts as ONE chained CASE of array literals (the dict is
        # config-small by contract — one entry per model language); languages
        # absent from the cuts fall through to NULL cuts -> NULL bucket
        cuts_col = F.lit(None).cast("array<double>")
        for lang in sorted(cfg.ppl_bucket_cuts, reverse=True):
            arr = F.array(*[F.lit(float(c)) for c in cfg.ppl_bucket_cuts[lang]])
            cuts_col = F.when(F.col("lang") == F.lit(lang), arr).otherwise(cuts_col)
        scored = scored.withColumn(
            "ppl_bucket",
            bucket_label_col(F.col("ppl"), cuts_col, PPL_BUCKET_LABELS),
        )
        out_cols.append("ppl_bucket")
    return scored


def output_schema_fingerprint(cfg: FilterConfig) -> dict:
    """The config facets that change the OUTPUT SCHEMA (not just row
    verdicts). Persisted into the checkpoint on first commit and enforced on
    resume: toggling them mid-checkpoint would leave earlier _bucket
    partitions with one schema and later ones with another under dynamic
    partition overwrite — readers would silently lose or NULL-fill columns
    depending on which file Spark samples for inference."""
    return {
        "split_labels": sorted(cfg.splits) if cfg.splits else [],
        "assign_aspect_buckets": bool(cfg.assign_aspect_buckets),
        # presence of the column AND the label alphabet are schema facets; the
        # cut VALUES are row-verdict facets and deliberately excluded (same
        # rule as filter thresholds: a resume must not be blocked by a
        # verdict-identical rewrite of the config object)
        "ppl_bucket_labels": (
            list(PPL_BUCKET_LABELS) if cfg.ppl_bucket_cuts is not None else []
        ),
    }


# The value each output-schema facet had before it was added to the
# fingerprint: a checkpoint written by an earlier code revision lacks the
# facet, and reads as this value. Every key `output_schema_fingerprint`
# returns must be here (pinned by test).
FINGERPRINT_COMPAT_DEFAULTS = {
    "split_labels": [],
    "assign_aspect_buckets": False,
    "ppl_bucket_labels": [],
}


def _check_output_schema_fingerprint(checkpoint_dir: str, cfg: FilterConfig) -> None:
    """Write the fingerprint on first run; refuse a resume whose config would
    change the output schema mid-corpus. A facet missing from a stored
    fingerprint reads as its `FINGERPRINT_COMPAT_DEFAULTS` value; a facet this
    code does not know (written by a later revision) is refused."""
    import json

    path = os.path.join(checkpoint_dir, "output_schema.json")
    fp = output_schema_fingerprint(cfg)
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        unknown = sorted(set(prev) - set(FINGERPRINT_COMPAT_DEFAULTS))
        if unknown:
            raise ValueError(
                f"checkpoint {checkpoint_dir} has output-schema facets {unknown} "
                "this code does not know: it was written by a later code "
                "revision. Resume it with that revision."
            )
        prev = {**FINGERPRINT_COMPAT_DEFAULTS, **prev}
        if prev != fp:
            raise ValueError(
                "output-schema config changed mid-checkpoint: committed "
                f"buckets were written with {prev}, this run requests {fp}. "
                "Resume with the original config, or start a fresh "
                "checkpoint+output for the new schema."
            )
        return
    os.makedirs(checkpoint_dir, exist_ok=True)

    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            json.dump(fp, f)

    replace_file(path, write)


def _sql_str(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _bucket_metric_aggs(
    pending: list[int],
    split_labels: list[str] | None = None,
    check_hash_buckets: int | None = None,
    bucket_rows_in: bool = True,
) -> F.Column:
    """The observe() aggregates of one write, as ONE `named_struct` SQL
    expression (built in one parse instead of one py4j Column per count):
    per-run totals (rows_in, rows_kept, n_scrubbed), the drop-reason and flag
    breakdowns, per-split kept counts when the job assigns splits, and the
    per-bucket counts no file holds — `b{b}_scrubbed` for every pending
    bucket, plus `b{b}_rows_in` when `bucket_rows_in` (a flat or
    data-column-`_bucket` input; a partition-dir input's per-bucket rows_in
    and every bucket's rows_kept come from Parquet footers instead, see
    `_process_group`). All plain conditional counts (observe forbids
    distinct aggregates — which `row_selected` makes unnecessary: output rows
    = count_if(row_selected), exactly), so each row pays one conditional per
    bucket count.

    `check_hash_buckets` (prebucketed inputs only) rides one more counter:
    rows whose layout `_bucket` disagrees with bucket_col(image_id). The spill
    path prunes decision slices by the COMPUTED bucket, so a layout bucketed
    by a different hash would silently join no decisions onto its rows;
    _process_group refuses to commit any group observing a mismatch."""
    fields = [
        ("rows_in", "count(1)"),
        ("rows_kept", "count_if(row_selected)"),
        ("n_scrubbed", "count_if(_scrub_changed)"),
    ]
    if check_hash_buckets is not None:
        fields.append((
            "n_bucket_mismatch",
            f"count_if(`_bucket` != {_bucket_sql('image_id', check_hash_buckets)})",
        ))
    fields += [(f"n_{r}", f"count_if(drop_reason = {_sql_str(r)})") for r in DROP_REASONS]
    fields += [(c.replace("flag_", "nf_"), f"count_if({c})") for c in FLAG_COLS]
    fields += [
        (f"split_{s}_kept", f"count_if(row_selected AND split = {_sql_str(s)})")
        for s in split_labels or []
    ]
    for b in pending:
        if bucket_rows_in:
            fields.append((f"b{b}_rows_in", f"count_if(`_bucket` = {int(b)})"))
        # the rare side first: most rows skip the bucket compare
        fields.append((f"b{b}_scrubbed", f"count_if(_scrub_changed AND `_bucket` = {int(b)})"))
    body = ", ".join(f"{_sql_str(k)}, {v}" for k, v in fields)
    return F.expr(f"named_struct({body})").alias("m")


def _footer_rows(uris: list[str]) -> int:
    """Rows in the given parquet files, summed from their footers — read on
    the driver with pyarrow, no Spark job. URIs are Hadoop-qualified
    (`inputFiles()`, `_partition_files`)."""
    import pyarrow.parquet as pq
    from pyarrow.fs import FileSystem

    n = 0
    for u in uris:
        fs, p = FileSystem.from_uri(u)
        n += pq.read_metadata(p, filesystem=fs).num_rows
    return n


def _partition_uris(spark: SparkSession, path: str, buckets: list[int]) -> dict[int, str]:
    """URI of each bucket's `_bucket=b` partition dir under the write path,
    qualified through Hadoop's FileSystem as Spark's writer qualifies it (a
    schemeless path resolves against fs.defaultFS)."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.makeQualified(hp).toUri().toString().rstrip("/")
    return {b: f"{root}/_bucket={b}" for b in buckets}


def _partition_files(part_uri: str) -> list[str]:
    """URIs of one partition dir's data files (none when it does not exist).
    Names starting with `_` or `.` (markers, checksums) are skipped, as
    Spark's reader skips them."""
    from pyarrow.fs import FileSelector, FileSystem, FileType

    fs, p = FileSystem.from_uri(part_uri)
    return [
        f"{part_uri}/{i.base_name}"
        for i in fs.get_file_info(FileSelector(p, allow_not_found=True))
        if i.type == FileType.File and not i.base_name.startswith(("_", "."))
    ]


def _clear_partitions(part_uris) -> None:
    """Delete the given partition dirs where they exist."""
    from pyarrow.fs import FileSystem, FileType

    for u in part_uris:
        fs, p = FileSystem.from_uri(u)
        if fs.get_file_info(p).type == FileType.Directory:
            fs.delete_dir(p)


def _append_parquet(pdf, dir_path: str, run_id: str, fname: str | None = None) -> None:
    """Append one small pandas frame as a parquet file. Default filename is
    uuid-randomized (append-only); pass `fname` for an IDEMPOTENT slot — a
    retry replaces the same file instead of appending a duplicate (the
    streaming metrics path keys on batch_id this way)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    fname = fname or f"part-{run_id}-{uuid.uuid4().hex[:8]}.parquet"
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    replace_file(os.path.join(dir_path, fname), lambda tmp: pq.write_table(table, tmp))


def _write_checkpoint(
    checkpoint_dir: str,
    cfg: FilterConfig,
    m: dict,
    rows_in: dict[int, int],
    rows_kept: dict[int, int],
) -> None:
    """Metrics + manifest of one commit group — ≤num_buckets driver-local rows;
    pyarrow appends skip a whole Spark job each. Per bucket (the keys of
    `rows_kept`, in order): `rows_in` and `rows_kept` as `_process_group`
    counted them (Parquet footers, or the observed count where no file holds
    it) and `n_scrubbed` from the observe() row `m`; the run_metrics row is
    `m`'s run totals. Manifest commit LAST: a bucket is only "done" once data
    + metrics landed."""
    import pandas as pd

    pending = list(rows_kept)
    now = pd.Timestamp.now(tz="UTC").as_unit("us")
    metrics_pdf = pd.DataFrame(
        {
            "bucket": pending,
            "rows_in": [rows_in[b] for b in pending],
            "rows_kept": [rows_kept[b] for b in pending],
            "n_scrubbed": [m[f"b{b}_scrubbed"] for b in pending],
        }
    )
    for c in ["rows_in", "rows_kept", "n_scrubbed"]:
        metrics_pdf[c] = metrics_pdf[c].astype("int64")
    metrics_pdf["run_id"] = cfg.run_id
    metrics_pdf["committed_at"] = now
    _append_parquet(metrics_pdf, os.path.join(checkpoint_dir, "metrics"), cfg.run_id)

    run_pdf = pd.DataFrame(
        [
            {
                "run_id": cfg.run_id,
                "rows_in": m["rows_in"],
                "rows_kept": m["rows_kept"],
                "n_scrubbed": m["n_scrubbed"],
                **{f"n_{r}": m[f"n_{r}"] for r in DROP_REASONS},
                **{c.replace("flag_", "nf_"): m[c.replace("flag_", "nf_")] for c in FLAG_COLS},
                **{f"split_{s}_kept": m[f"split_{s}_kept"] for s in cfg.split_labels()},
            }
        ]
    )
    for c in run_pdf.columns:
        if run_pdf[c].dtype.kind == "i":
            run_pdf[c] = run_pdf[c].astype("int64")
    # post-construction assignment keeps the µs unit; dict-row inference would
    # upcast to ns, writing TIMESTAMP(NANOS) parquet that Spark refuses to read
    run_pdf["committed_at"] = now
    _append_parquet(run_pdf, os.path.join(checkpoint_dir, "run_metrics"), cfg.run_id)

    manifest_pdf = metrics_pdf[["bucket", "rows_in", "rows_kept", "run_id", "committed_at"]]
    _append_parquet(manifest_pdf, os.path.join(checkpoint_dir, "manifest"), cfg.run_id)


def run_filter(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: FilterConfig | None = None,
    max_buckets: int | None = None,
) -> dict:
    """Execute (or resume) the filter job. `max_buckets` limits how many pending
    buckets are processed this invocation (used by the kill/resume tests).

    Returns a summary dict {processed_buckets, rows_in, rows_kept, steps}:
    `steps` is the run record's [(step, seconds)], in run order. The record
    also holds every pin of the run and releases them on return.
    """
    cfg = cfg or FilterConfig()
    if cfg.mixture_weights is not None:
        _mixture_ok_col(cfg)  # validate counts/output_rows BEFORE any Spark work
    _check_output_schema_fingerprint(checkpoint_dir, cfg)
    with run_record() as rec:
        summary = {"processed_buckets": [], "rows_in": 0, "rows_kept": 0,
                   "steps": rec.steps}
        with rec.step("read_input"):
            raw = spark.read.parquet(input_path)
            # A `_bucket` column discovered from the layout means the input
            # already IS the production table — partitioned by
            # bucket(num_buckets, image_id), the parquet stand-in for the
            # Iceberg bucket transform (cfg.num_buckets must match the layout).
            # Then the resume filter below is partition pruning and the
            # bucketed output write needs no shuffle at all: every scan task
            # holds rows of exactly one bucket. A flat input falls back to
            # computing the bucket and repartitioning before the write.
            prebucketed = "_bucket" in raw.columns
            input_files = None
            if prebucketed:
                input_files = _validate_bucket_layout(raw, cfg.num_buckets)
            else:
                raw = raw.withColumn("_bucket", bucket_col(num_buckets=cfg.num_buckets))
            df = with_rid(raw)

        with rec.step("read_manifest"):
            done = completed_buckets(checkpoint_dir)
        pending = [b for b in range(cfg.num_buckets) if b not in done]
        if max_buckets is not None:
            pending = pending[:max_buckets]
        if not pending:
            return summary
        summary["processed_buckets"] = pending

        # dedup decisions come from the FULL input (phash groups span buckets)
        # via a narrow columnar scan. The decisions table is ~duplicate-rate · n
        # rows, so its broadcast is size-gated (VERDICT r1 item 4,
        # `RunRecord.local`): one bounded collect over the 3-column lineage —
        # the price of knowing the size before choosing a join strategy —
        # then either broadcast whole into ONE write action as a local
        # relation, or — when the dup rate makes it too large to ship to every
        # executor — spilled bucket-partitioned next to the checkpoint, and
        # pending buckets are processed in groups whose partition-pruned
        # decision slice fits `record.BROADCAST_ROWS`. Decision rows land in
        # the same _bucket as their data rows (both derive from image_id), so
        # each group's join is a broadcast of only that group's slice and
        # `bytes` still never shuffles; on Iceberg the same fallback is a
        # storage-partitioned join against a bucket(B, image_id) decisions
        # table. Per-group commits also tighten resume granularity: a kill
        # mid-run loses at most one group. Contamination verdicts take the
        # same gate; the run record releases both.
        spill_dir = os.path.join(checkpoint_dir, "dup_decisions", cfg.run_id)
        with rec.step("decisions_plan"):
            dups = decisions_for(df, cfg)
            contaminated = contamination_decisions(spark, df, cfg)
        if contaminated is not None:
            with rec.step("contamination_count"):
                contaminated, _ = rec.local(contaminated)
        with rec.step("dup_decisions_count"):
            dups, fits = rec.local(dups)
        if fits:
            groups = [pending]
            slice_for = lambda grp: dups  # noqa: E731 — hinted by the gate
        else:
            with rec.step("dup_decisions_spill"):
                (
                    dups.withColumn("_bucket", bucket_col(num_buckets=cfg.num_buckets))
                    .write.mode("overwrite")
                    .partitionBy("_bucket")
                    .parquet(spill_dir)
                )
                # Group pending buckets by their ACTUAL per-bucket decision
                # counts (the spill's Parquet footers, read on the driver —
                # no Spark job), not a uniform n/num_buckets estimate — a
                # skewed bucket could otherwise push one group's pruned slice
                # past the broadcast budget (ADVICE r2). Greedy fill: each
                # group's decision sum stays within record.BROADCAST_ROWS
                # (single oversized buckets get their own group — their slice
                # is the irreducible minimum).
                by_bucket = {
                    b: _footer_rows(_partition_files(u))
                    for b, u in _partition_uris(spark, spill_dir, pending).items()
                }
                # one read: its schema inference is a Spark job, and each
                # group's filter below still prunes to its own partitions
                spilled = spark.read.parquet(spill_dir)
            groups, cur, cur_n = [], [], 0
            for bkt in pending:
                c = by_bucket.get(bkt, 0)
                if cur and cur_n + c > record.BROADCAST_ROWS:
                    groups.append(cur)
                    cur, cur_n = [], 0
                cur.append(bkt)
                cur_n += c
            if cur:
                groups.append(cur)
            # a group's pruned slice fits the gate by construction (greedy
            # fill) EXCEPT a single oversized bucket, which gets its own group
            # — the gate hands that irreducible slice back pinned, and it
            # joins un-hinted (shuffle join) instead of blowing the budget
            def slice_for(grp):
                sl = spilled.filter(F.col("_bucket").isin(grp)).drop("_bucket")
                return rec.local(sl)[0]

        for gi, grp in enumerate(groups):
            m = _process_group(df, cfg, grp, gi, slice_for, output_dir,
                               checkpoint_dir, prebucketed, input_files,
                               contaminated)
            summary["rows_in"] += int(m["rows_in"])
            summary["rows_kept"] += int(m["rows_kept"])
    return summary


def _write_selected(
    scored: DataFrame,
    cfg: FilterConfig,
    buckets: list[int],
    path: str,
    obs_name: str,
    prebucketed: bool = False,
    batch_id: int | None = None,
    bucket_rows_in: bool = True,
) -> dict:
    """The write step of both filter jobs (`_process_group`, the stream's
    micro-batch): ONE Spark action writing the selected rows of a finalized
    frame, partitioned by `_bucket` (under `_batch_id` when given), that
    returns the observe() row of `_bucket_metric_aggs` over `buckets` as a
    flat dict.
    Dynamic partition overwrite is an option of THIS writer, not the
    session: a re-processed bucket or replayed micro-batch replaces exactly
    its own partitions, and the caller's own overwrite writes keep theirs."""
    scored = scored.withColumn(
        "_scrub_changed",
        F.col("row_selected") & ~F.col("scrubbed_caption").eqNullSafe(trim_col(F.col("caption"))),
    )
    out_cols = list(OUT_COLS)
    scored = optional_out_cols(scored, cfg, out_cols)
    obs = Observation(obs_name)
    scored = scored.observe(
        obs,
        _bucket_metric_aggs(
            buckets,
            cfg.split_labels(),
            check_hash_buckets=cfg.num_buckets if prebucketed else None,
            bucket_rows_in=bucket_rows_in,
        ),
    )
    kept = scored.filter(F.col("row_selected")).select(*out_cols)
    if not prebucketed:
        # Flat input: tasks hold a mix of buckets, so without this partitionBy
        # fans every task out across all buckets (tasks × buckets files) and the
        # driver-side dynamic commit renames them serially. image_id determines
        # _bucket, so this kept-rows-only shuffle loses nothing. Pre-bucketed
        # input skips it — the storage-partitioned-join property the Iceberg
        # bucket layout exists for, and the bytes column never shuffles at all.
        kept = kept.repartition(cfg.num_buckets, F.col("_bucket"))
    parts = ["_bucket"]
    if batch_id is not None:
        kept = kept.withColumn("_batch_id", F.lit(int(batch_id)))
        parts = ["_batch_id", "_bucket"]
    # A write that keeps NO rows makes the observed plan's kept side empty at
    # runtime; AQE's AQEPropagateEmptyRelation then replaces the subtree and
    # the CollectMetrics row is never delivered — obs.get fails on an empty
    # observation, so the manifest never commits (a flat input's post-shuffle
    # stage, or a stream micro-batch whose snapshot's partition stats make
    # the emptiness visible to AQE; `RunRecord.candidates` hits the same
    # behavior). Exclude that single rule around this write; AQE itself stays
    # on. Set on the frame's own session (a micro-batch runs in a clone of
    # the stream's).
    sess_conf = scored.sparkSession.conf
    _EXCLUDED = "spark.sql.adaptive.optimizer.excludedRules"
    _EMPTY_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    prev_excluded = sess_conf.get(_EXCLUDED, None)
    sess_conf.set(
        _EXCLUDED,
        _EMPTY_RULE if not prev_excluded else f"{prev_excluded},{_EMPTY_RULE}",
    )
    try:
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*parts)
            # rows are bytes-dominated and image bytes are already
            # codec-compressed; container-level snappy would burn write+read
            # CPU for ~0% size win, and dictionary encoding would hash every
            # multi-KB blob into a dictionary that always overflows — pure
            # wasted CPU on this schema
            .option("compression", "uncompressed")
            .option("parquet.enable.dictionary", "false")
            .parquet(path)
        )
    finally:
        if prev_excluded is None:
            sess_conf.unset(_EXCLUDED)
        else:
            sess_conf.set(_EXCLUDED, prev_excluded)
    return obs.get["m"].asDict()


def _process_group(
    df: DataFrame,
    cfg: FilterConfig,
    grp: list[int],
    group_idx: int,
    slice_for,
    output_dir: str,
    checkpoint_dir: str,
    prebucketed: bool,
    input_files: dict[int, list[str]] | None = None,
    contaminated: DataFrame | None = None,
) -> dict:
    """Score, write, and checkpoint one group of buckets (the whole pending set
    in broadcast mode) as ONE Spark action with observe() metrics riding along.
    `slice_for(grp)` gives the group's (hinted) dup-decision table;
    `input_files` is a partition-dir input's files by bucket
    (`_validate_bucket_layout`), None for any other layout.

    Per-bucket counts that files already hold come from Parquet footers read
    on the driver: every bucket's rows_kept from the `_bucket=b` partitions
    the write just produced, and — on a partition-dir input — its rows_in
    from the input files. The group commits only when those sums equal the
    observed totals.

    Bucket prune: on Iceberg/bucketed-parquet layouts the isin filter is
    partition pruning — each group's action scans only its own files; on a
    flat file it is a pushed-down row filter (every group re-reads the file,
    which is why flat layouts are the test path, never the 10^12 one)."""
    rec = current()
    path = os.path.join(output_dir, "filtered")
    with rec.step(f"finalize_plan g{group_idx}"):
        work = df.filter(F.col("_bucket").isin(grp))
        scored = finalize(score_rows(work, cfg), cfg, slice_for(grp), contaminated)
    with rec.step(f"bucket_clear g{group_idx}"):
        # Dynamic partition overwrite replaces only the partitions a write
        # touches, so a pending bucket that now keeps no rows would keep an
        # earlier attempt's files. A pending bucket is not in the manifest:
        # its partition is uncommitted, and the footer counts below need it
        # to hold this write's files only.
        parts = _partition_uris(df.sparkSession, path, grp)
        _clear_partitions(parts.values())
    with rec.step(f"score+write g{group_idx}"):
        m = _write_selected(
            scored,
            cfg,
            grp,
            path,
            f"metrics-{cfg.run_id}-g{group_idx}",
            prebucketed,
            bucket_rows_in=input_files is None,
        )
    with rec.step(f"bucket_counts g{group_idx}"):
        rows_kept = {b: _footer_rows(_partition_files(u)) for b, u in parts.items()}
        if input_files is None:
            rows_in = {b: m[f"b{b}_rows_in"] for b in grp}
        else:
            rows_in = {b: _footer_rows(input_files.get(b, [])) for b in grp}

    with rec.step(f"metrics_write g{group_idx}"):
        # staged data exists but the manifest is NOT committed on a refusal —
        # the group stays pending, and a rerun rewrites its partitions
        if int(m.get("n_bucket_mismatch", 0)) > 0:
            raise ValueError(
                f"{m['n_bucket_mismatch']} rows have a layout _bucket that "
                "disagrees with bucket(num_buckets, image_id) — the input was "
                "bucketed with a different hash or bucket count, so decision-"
                "slice pruning would be misaligned; refusing to commit"
            )
        footer = (sum(rows_in.values()), sum(rows_kept.values()))
        if footer != (m["rows_in"], m["rows_kept"]):
            raise ValueError(
                f"group {group_idx}: Parquet footers count (rows_in, rows_kept) "
                f"= {footer}, the write observed {(m['rows_in'], m['rows_kept'])} "
                "— input or output files changed under the run; refusing to "
                "commit"
            )
        _write_checkpoint(checkpoint_dir, cfg, m, rows_in, rows_kept)
    return m


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor python workers when the job was
    launched without `--py-files` (plain `python run.py` / notebook): zip the
    installed package dir and `addPyFile` it — exactly what --py-files does."""
    import shutil
    import tempfile

    import data_quality_check_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if not os.path.isdir(pkg_dir):  # already running from a zip
        return
    z = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(prefix="dqx_pyfiles_"), "dqx"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(z)


def main() -> None:  # pragma: no cover - CLI wrapper
    import argparse

    from data_quality_check_spark.session import get_spark

    p = argparse.ArgumentParser(description="image+caption quality-filter job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--max-buckets", type=int, default=None)
    args = p.parse_args()

    spark = get_spark(app_name="quality-filter", master=args.master)
    _ship_package(spark)
    summary = run_filter(
        spark, args.input, args.output, args.checkpoint, max_buckets=args.max_buckets
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
