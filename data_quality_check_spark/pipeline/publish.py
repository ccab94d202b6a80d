"""Write-audit-publish (WAP) for the filter job's staged output.

`run_filter` writes to a STAGING root; nothing downstream should read it until
an audit verifies the run. This module is that gate:

  1. AUDIT — recount the staged `filtered/` data with ONE fused Spark
     aggregate and cross-check it against the checkpoint's manifest
     (written from `observe()` counters DURING the job): a mismatch
     means lost or duplicated output files — the write itself is broken, no
     threshold can make it publishable. Then apply the configurable quality
     gates (keep-fraction band, caption completeness) to the run's metrics.
  2. PUBLISH — atomically promote the staged root to the final location
     (one `os.rename`; readers see the old corpus or the new one, never a
     mix), with the audit report persisted next to the data as _AUDIT.json.

On Iceberg this maps 1:1 to the WAP the north rule's deployment would use:
`run_filter` writes to a branch (`spark.wap.branch`), the audit reads the
branch snapshot, and publish is `fastForward(main, branch)` — the directory
rename below is the parquet-sandbox twin of that atomic ref swap.

The audit Spark pass is ONE aggregate over the staged parquet (count +
conditional counts + distinct buckets) — at 10^12 rows it is a columnar scan
of two narrow columns (caption NULLness, _bucket), no shuffle past the
map-side partials.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_quality_check_spark.pipeline.run import read_manifest


@dataclass
class AuditGates:
    """Quality bounds a staged run must satisfy to publish."""

    min_keep_fraction: float = 0.05  # a near-empty corpus means upstream broke
    max_keep_fraction: float = 0.999  # keeping ~everything means the filter no-oped
    min_rows_kept: int = 1
    max_null_caption_fraction: float = 0.0  # kept rows must carry their caption
    # ── optional keep/drop F1 gate (VERDICT r4 task 2): the north rule's
    # "F1 ≥ 0.99 vs reference labels" enforced at DEPLOY time, not just in
    # pytest. `labels_path` is a parquet of (labels_id_col, labels_keep_col:
    # boolean) reference verdicts; the audit reconstructs the staged run's
    # keep decisions (id present in staged ⇔ kept — run_filter writes kept
    # rows only) and scores them through operators.curation.decision_eval.
    # Rows labeled but missing a prediction read as pred=False (dropped);
    # staged ids absent from the label table are n_unlabeled, never false
    # anything. min_f1 set without labels_path is a config error (raised,
    # not skipped: a silently-skipped acceptance gate is worse than none). ──
    min_f1: float | None = None
    labels_path: str | None = None
    labels_id_col: str = "image_id"
    labels_keep_col: str = "keep"


class PublishRejected(RuntimeError):
    """Raised by audit_and_publish(strict=True) when a check fails; carries the
    full audit report."""

    def __init__(self, report: dict):
        super().__init__(
            "audit failed: "
            + "; ".join(c["name"] for c in report["checks"] if not c["passed"])
        )
        self.report = report


def _staged_counts(staged: DataFrame) -> dict:
    row = staged.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col("scrubbed_caption").isNull()).alias("null_captions"),
        F.count_distinct(F.col("_bucket")).alias("buckets"),
    ).collect()[0]
    return {k: int(row[k]) for k in ("rows", "null_captions", "buckets")}


def audit_staged(
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    gates: AuditGates | None = None,
) -> dict:
    """Audit a staged run; returns {"passed", "checks", "observed", "gates"}.

    Consistency checks compare the independent recount of the staged data to
    the manifest the job committed per bucket-group — catching partial writes,
    double-commits after a botched resume, and files lost between job and
    audit. Gate checks bound the run's keep/caption semantics.
    """
    gates = gates or AuditGates()
    if gates.min_f1 is not None and not gates.labels_path:
        raise ValueError(
            "AuditGates.min_f1 requires labels_path: the F1 gate needs a "
            "reference-label table to score against (a silently-skipped "
            "acceptance gate would be worse than none)"
        )
    manifest = read_manifest(checkpoint_dir)
    expect_kept = int(manifest["rows_kept"].sum())
    expect_in = int(manifest["rows_in"].sum())
    expect_buckets = int((manifest["rows_kept"] > 0).sum())

    # A run that kept ZERO rows writes only _SUCCESS; ONLY that shape (or a
    # missing dir) counts as an empty corpus. Any other read failure —
    # transient IO, corrupt footer, permissions — must surface as a FAILED
    # audit check carrying the error, never be conflated with rows=0 (with
    # relaxed gates that conflation could publish a broken staging).
    filtered_dir = os.path.join(output_dir, "filtered")
    read_error: str | None = None
    # data = any subdirectory (partition dirs like `_bucket=0` start with "_"
    # but hold the corpus) or any non-marker file
    data_entries = (
        [
            e
            for e in os.listdir(filtered_dir)
            if os.path.isdir(os.path.join(filtered_dir, e))
            or not e.startswith(("_", "."))
        ]
        if os.path.isdir(filtered_dir)
        else []
    )
    staged: DataFrame | None = None
    if not data_entries:
        got = {"rows": 0, "null_captions": 0, "buckets": 0}
    else:
        try:
            staged = spark.read.parquet(filtered_dir)
            got = _staged_counts(staged)
        except Exception as e:  # recorded, not swallowed: fails the audit below
            read_error = f"{type(e).__name__}: {e}"
            staged = None
            got = {"rows": 0, "null_captions": 0, "buckets": 0}

    keep_fraction = expect_kept / expect_in if expect_in else 0.0
    null_caption_fraction = got["null_captions"] / got["rows"] if got["rows"] else 0.0
    checks = [
        {
            "name": "staged_readable",
            "passed": read_error is None,
            "observed": read_error or "ok",
            "bound": "staged parquet readable (or legitimately empty)",
        },
        {
            "name": "staged_rows_match_manifest",
            "passed": got["rows"] == expect_kept,
            "observed": got["rows"],
            "bound": expect_kept,
        },
        {
            "name": "all_nonempty_buckets_present",
            "passed": got["buckets"] == expect_buckets,
            "observed": got["buckets"],
            "bound": expect_buckets,
        },
        {
            "name": "min_rows_kept",
            "passed": expect_kept >= gates.min_rows_kept,
            "observed": expect_kept,
            "bound": gates.min_rows_kept,
        },
        {
            "name": "keep_fraction_in_band",
            "passed": gates.min_keep_fraction <= keep_fraction <= gates.max_keep_fraction,
            "observed": keep_fraction,
            "bound": [gates.min_keep_fraction, gates.max_keep_fraction],
        },
        {
            "name": "max_null_caption_fraction",
            "passed": null_caption_fraction <= gates.max_null_caption_fraction,
            "observed": null_caption_fraction,
            "bound": gates.max_null_caption_fraction,
        },
    ]
    if gates.min_f1 is not None:
        checks.append(_f1_check(spark, staged, gates))
    return {
        "passed": all(c["passed"] for c in checks),
        "checks": checks,
        "observed": {**got, "rows_in": expect_in, "keep_fraction": keep_fraction},
        "gates": asdict(gates),
    }


def _f1_check(spark: SparkSession, staged: DataFrame | None, gates: AuditGates) -> dict:
    """The min_keep_f1 audit check: staged keep decisions vs reference labels
    through `decision_eval`'s confusion cells (same NULL-exclusion policy, same
    from-the-cells F1 as the gate query / pytest parity suite — one scorer, so
    the deploy gate can never drift from the test gate).

    Prediction reconstruction: run_filter writes KEPT rows only, so
    id ∈ staged ⇔ predicted keep; a legitimately-empty staging predicts
    drop-everything (pred=False for every label) rather than skipping the
    gate. The staged side is always run_filter's output, keyed `image_id`
    (run.OUT_COLS); only the label table's id column varies (labels_id_col).
    An all-negative label table leaves F1 undefined (0/0) — that reads as a
    FAILED check, surfaced as such, because an acceptance gate that cannot
    measure must not pass."""
    from data_quality_check_spark.operators.curation import decision_eval

    labels = spark.read.parquet(gates.labels_path).select(
        F.col(gates.labels_id_col).alias("_id"),
        F.col(gates.labels_keep_col).cast("boolean").alias("_label"),
    )
    # one label row per id: exact repeats collapse; CONTRADICTORY repeats
    # (both keep and drop for one id — merged hand-label sets do this) become
    # label NULL → n_unlabeled, because double-counting confusion cells or
    # picking a side arbitrarily would silently skew the acceptance F1
    labels = (
        labels.distinct()
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"), F.first("_label").alias("_label"))
        .withColumn("_label", F.when(F.col("_n") == 1, F.col("_label")))
        .drop("_n")
    )
    if staged is not None:
        pred = (
            staged.select(F.col("image_id").alias("_id"))
            .distinct()
            .withColumn("_pred", F.lit(True))
        )
        ev = labels.join(pred, "_id", "full_outer")
    else:
        ev = labels.withColumn("_pred", F.lit(None).cast("boolean"))
    ev = ev.withColumn("_pred", F.coalesce(F.col("_pred"), F.lit(False)))
    cells = decision_eval(ev, "_pred", "_label").collect()[0].asDict()
    f1 = cells["f1"]
    return {
        "name": "min_keep_f1",
        "passed": f1 is not None and f1 >= gates.min_f1,
        "observed": {
            k: cells[k]
            for k in ("f1", "precision", "recall", "tp", "fp", "fn", "tn", "n_unlabeled")
        },
        "bound": gates.min_f1,
    }


def publish_staged(output_dir: str, final_dir: str, report: dict) -> str:
    """Atomically promote the staged root with one rename. The audit report is
    written INTO the staged root first, so the published corpus carries its
    _AUDIT.json from the instant it becomes visible — a crash can lose the
    staged copy, never publish an unaudited one. Refuses to clobber an
    existing published corpus — version the final path (the Iceberg twin is a
    new snapshot, not an overwrite). Staging and final must share a
    filesystem (rename is only atomic within one; a cross-mount layout should
    stage under the final root, or use the Iceberg WAP branch instead)."""
    if os.path.exists(final_dir):
        raise FileExistsError(
            f"{final_dir} already published; version the path instead of overwriting"
        )
    with open(os.path.join(output_dir, "_AUDIT.json"), "w") as f:
        json.dump(report, f, indent=2, default=str)
    os.makedirs(os.path.dirname(os.path.abspath(final_dir)), exist_ok=True)
    try:
        os.rename(output_dir, final_dir)
    except OSError as e:
        import errno

        if getattr(e, "errno", None) == errno.EXDEV:
            raise OSError(
                f"staging {output_dir} and final {final_dir} are on different "
                "filesystems; atomic publish needs them co-located"
            ) from e
        raise
    return final_dir


def audit_and_publish(
    spark: SparkSession,
    output_dir: str,
    checkpoint_dir: str,
    final_dir: str,
    gates: AuditGates | None = None,
    strict: bool = True,
) -> dict:
    """The WAP gate: audit the staged run; publish only if every check passes.
    A failed audit leaves BOTH the staged data and the final location exactly
    as they were (re-run the job or loosen the gates, then audit again)."""
    report = audit_staged(spark, output_dir, checkpoint_dir, gates)
    if report["passed"]:
        publish_staged(output_dir, final_dir, report)
        report["published_to"] = final_dir
    elif strict:
        raise PublishRejected(report)
    return report
