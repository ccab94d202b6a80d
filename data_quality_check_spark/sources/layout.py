"""Corpus-layout audit: rows-per-file distribution of a parquet dataset.

The 100 TB failure mode this catches is operational, not semantic: a corpus
written by too many tasks (or appended in tiny increments) becomes millions
of small files — every downstream scan pays open/footer costs per file, task
scheduling dominates, and object-store listing throttles. The inverse — a few
giant single-row-group files — serializes vectorized reads, because a row
group is the smallest unit a scan can split (BENCH.md finding 1).
Both show up in the rows-per-file distribution long before they show up in a
query profile.

Scale shape: ONE distributed scan projecting only `input_file_name()` (no
data columns — column pruning makes this a footer-metadata-weight pass),
a groupBy on the file name (≤ #files keys, map-side combined), then a 1-row
summary aggregate. The DuckDB twin reads the same files with
`read_parquet(..., filename=true)`; the summary carries no paths, so the
engines' URI-vs-path spelling difference never reaches the hash."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

SMALL_FILE_ROWS = 10_000  # flag threshold: files carrying fewer rows than this


def layout_audit(
    spark: SparkSession, path: str, small_file_rows: int = SMALL_FILE_ROWS
) -> DataFrame:
    """One-row layout summary of a parquet dataset: (n_files, total_rows,
    min_rows_per_file, max_rows_per_file, avg_rows_per_file, n_small_files,
    skew_x_mean). avg = ONE rounded double division of exact integer counts;
    skew_x_mean = max/avg the same way (how many mean-files the biggest file
    carries — >>1 means stragglers)."""
    per_file = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("_f"))
        .groupBy("_f")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n").alias("total_rows"),
        F.min("n").alias("min_rows_per_file"),
        F.max("n").alias("max_rows_per_file"),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double"), 4
        ).alias("avg_rows_per_file"),
        F.sum(F.when(F.col("n") < small_file_rows, 1).otherwise(0)).alias(
            "n_small_files"
        ),
        F.round(
            F.max("n").cast("double")
            * F.count(F.lit(1)).cast("double")
            / F.sum("n").cast("double"),
            4,
        ).alias("skew_x_mean"),
    )


def layout_audit_sql(glob: str, small_file_rows: int = SMALL_FILE_ROWS) -> str:
    """DuckDB twin over the same files (read_parquet filename=true)."""
    return f"""
WITH per_file AS (
  SELECT filename AS f, count(*) AS n
  FROM read_parquet('{glob}', filename=true)
  GROUP BY 1
)
SELECT count(*) AS n_files,
       CAST(sum(n) AS BIGINT) AS total_rows,
       CAST(min(n) AS BIGINT) AS min_rows_per_file,
       CAST(max(n) AS BIGINT) AS max_rows_per_file,
       round(CAST(sum(n) AS DOUBLE) / count(*), 4) AS avg_rows_per_file,
       CAST(sum(CASE WHEN n < {small_file_rows} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_files,
       round(CAST(max(n) AS DOUBLE) * count(*) / CAST(sum(n) AS DOUBLE), 4)
         AS skew_x_mean
FROM per_file
"""
