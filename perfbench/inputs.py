"""Seeded benchmark inputs, cached inside the checkout.

Image rows come from the package's own generator, `pipeline.fixtures.make_row`
(every row a pure function of its index), run on all cores through
`mapInPandas`, once per checkout into a pool of POOL_ROWS rows. The seed picks
a window of the pool that starts on a near-dup block boundary (so every
planted near-dup keeps its leader), and 2% of the window's rows, also chosen
by the seed, are appended a second time as verbatim duplicates. Each pool
row carries the bucket the pipeline's own `run.bucket_col` gives it, and the
batch input is written as one file per `_bucket=NN/` directory, the
production layout.

`query_mix` reads the read-only sf0.01 driver tables copied under
`perfbench/data/`; nothing is generated for it.

Every cache entry is keyed on the generator versions, the seed, the row count
and the layout, is published by atomic rename, and its row count is checked
before it is reused.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# Bump when anything this module generates changes.
GEN_VERSION = "pb2"
POOL_ROWS = 40_000
DUP_RATE = 0.02
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def _versions() -> str:
    from data_quality_check_spark.pipeline.fixtures import FIXTURE_GEN_VERSION

    return f"{GEN_VERSION}-{FIXTURE_GEN_VERSION}"


def parquet_rows(path: str) -> int:
    """Row count from parquet footers only (file or partitioned directory)."""
    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n


def cached(path: str, rows: int, build) -> str:
    """Return `path`, building it first with `build(tmp)` unless a complete
    entry (its `_ROWS` marker written last) holds the expected row count."""
    marker = os.path.join(path, "_ROWS")
    if os.path.exists(marker):
        with open(marker) as fh:
            if int(fh.read()) == rows == parquet_rows(path):
                return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    with open(os.path.join(tmp, "_ROWS"), "w") as fh:
        fh.write(str(parquet_rows(tmp)))
    os.rename(tmp, path)
    return path


def read_images(path: str) -> pd.DataFrame:
    """Image rows of a parquet file or `_bucket=NN/` directory, without `_bucket`."""
    from data_quality_check_spark.pipeline.fixtures import IMAGES_DDL

    cols = [c.split()[0] for c in IMAGES_DDL.split(",")]
    return ds.dataset(path, format="parquet", ignore_prefixes=[".", "_SUCCESS", "_ROWS"]).to_table(
        columns=cols).to_pandas()


def _make_rows(batches):
    from data_quality_check_spark.pipeline.fixtures import make_row

    for pdf in batches:
        yield pd.DataFrame([make_row(int(i)) for i in pdf["id"]])


def _image_id(i: int) -> str:
    return f"img{i:08d}"  # make_row's id of row i


def image_pool(spark, cache_dir: str, buckets: int) -> str:
    """Rows make_row(0 .. POOL_ROWS-1), made once per checkout on all cores:
    a row costs ~1.5 ms of CPU, too much to make a window's rows in every run.
    Each row carries its `_bucket` (`run.bucket_col`), a function of its id
    alone, so a window's rows can be laid out without Spark."""
    from data_quality_check_spark.pipeline.fixtures import IMAGES_DDL
    from data_quality_check_spark.pipeline.run import bucket_col

    def build(tmp: str) -> None:
        parts = 4 * spark.sparkContext.defaultParallelism
        (spark.range(POOL_ROWS, numPartitions=parts).mapInPandas(_make_rows, IMAGES_DDL)
         .withColumn("_bucket", bucket_col(num_buckets=buckets))
         .write.option("compression", "uncompressed").parquet(tmp))

    path = os.path.join(cache_dir, f"pool-{_versions()}-n{POOL_ROWS}-b{buckets}")
    return cached(path, POOL_ROWS, build)


def window(seed: int, n: int, salt: int) -> tuple[int, np.ndarray]:
    """(first index, duplicated indexes) of the seeded window of `n` pool rows."""
    from data_quality_check_spark.pipeline.fixtures import NEAR_DUP_BLOCK

    if n % NEAR_DUP_BLOCK or n > POOL_ROWS:
        raise ValueError(f"n must be a multiple of {NEAR_DUP_BLOCK} and <= {POOL_ROWS}")
    rng = np.random.default_rng([seed, salt])
    start = int(rng.integers(0, (POOL_ROWS - n) // NEAR_DUP_BLOCK + 1)) * NEAR_DUP_BLOCK
    dups = start + np.sort(rng.choice(n, size=int(n * DUP_RATE), replace=False))
    return start, dups


def _window(pool: pa.Table, start: int, n: int, dups: np.ndarray) -> pa.Table:
    """Pool rows start .. start+n-1, plus a second copy of the `dups` rows."""
    ids = pool.column("image_id")

    def rows(idx) -> pa.Table:
        return pool.filter(pc.is_in(ids, pa.array([_image_id(int(i)) for i in idx])))

    return pa.concat_tables([rows(range(start, start + n)), rows(dups)])


def _read_pool(pool: str) -> pa.Table:
    # without the Spark schema in the footer metadata: Spark would read it
    # back and add the dropped `_bucket` column, as nulls, to files written
    # from this table
    return ds.dataset(pool, format="parquet", ignore_prefixes=[".", "_SUCCESS", "_ROWS"]
                      ).to_table().replace_schema_metadata(None)


def _evict(cache_dir: str, prefix: str, keep: str) -> None:
    """Drop the other seeds' entries: runs rarely repeat a seed."""
    for name in os.listdir(cache_dir):
        if name.startswith(prefix) and os.path.join(cache_dir, name) != keep:
            shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def batch_fixture(pool: str, cache_dir: str, seed: int, n: int,
                  buckets: int) -> tuple[str, pd.DataFrame]:
    """Seeded batch input: the window's rows plus its duplicates, one file per
    `_bucket=NN/` directory, as run_filter reads it (it checks every row's
    bucket against its directory). Returns the path and the rows as pandas
    (the golden check's input)."""
    start, dups = window(seed, n, 3)
    path = os.path.join(cache_dir, f"batch-{_versions()}-s{seed}-n{n}-b{buckets}")
    _evict(cache_dir, "batch-", path)

    def build(tmp: str) -> None:
        t = _window(_read_pool(pool), start, n, dups)
        bucket = t.column("_bucket").to_numpy()
        t = t.drop_columns(["_bucket"])
        for b in np.unique(bucket):
            d = os.path.join(tmp, f"_bucket={b}")
            os.makedirs(d)
            pq.write_table(t.filter(bucket == b), os.path.join(d, "part-00000.parquet"),
                           compression="none")

    cached(path, n + len(dups), build)
    return path, read_images(path)


def stream_arrivals(pool: str, cache_dir: str, seed: int, count: int,
                    size: int) -> list[str]:
    """`count` arrival files of `size` consecutive pool rows each, plus their
    own verbatim duplicates. Consecutive block-aligned windows keep every
    duplicate group inside one arrival, so per-micro-batch dedup and a batch
    run over all files make the same decisions."""
    start, _ = window(seed, count * size, 7)
    rng = np.random.default_rng([seed, 7, 1])
    path = os.path.join(cache_dir, f"arrivals-{_versions()}-s{seed}-c{count}-n{size}")
    _evict(cache_dir, "arrivals-", path)
    spans = []
    for a in range(count):
        lo = start + a * size
        spans.append((lo, lo + np.sort(rng.choice(size, int(size * DUP_RATE), replace=False))))

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        rows = _read_pool(pool)
        for a, (lo, dups) in enumerate(spans):
            pq.write_table(_window(rows, lo, size, dups).drop_columns(["_bucket"]),
                           os.path.join(tmp, f"arrival-{a:04d}.parquet"), compression="none")

    cached(path, count * size + sum(len(d) for _, d in spans), build)
    return [os.path.join(path, f"arrival-{a:04d}.parquet") for a in range(count)]
