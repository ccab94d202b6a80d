"""Deterministic image+caption fixture generator (FIXTURES.md F2).

Schema per BASELINE.json input_hint:
  image_id string, bytes binary, w int, h int, fmt string, caption string, phash long

Every defect is gated on crc32 of the image_id (label-derivable, seed-free per row),
pixel content is procedural RGB from a per-row seeded RNG, and encodings use the
deterministic codecs in `pipeline/codecs.py`, so the PSNR invariant is real.
Duplicate rows (2%) are re-appended verbatim; ~2% of ids are near-dups (another
id's pixels re-encoded → shared phash, distinct accidental collisions ≈ 0).
No external data.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd

from data_quality_check_spark.functions.wordlists import LANGS, VOCAB
from data_quality_check_spark.pipeline import codecs

FMTS = ["bmp", "png", "jpeg"]
SIZES = [16, 24, 32]
GIBBERISH = ["xqzjw", "vkpqq", "zzxxj", "wvkpt", "qqzzv", "jjxxq"]


def _g(image_id: str, salt: str = "") -> int:
    return zlib.crc32((salt + image_id).encode())


def _lang_for(image_id: str) -> str:
    """Zipf-skewed language mix: ~70% of rows in one language, as in real
    caption crawls. The fused model stage is map-side, so the skew costs no
    shuffle."""
    r = _g(image_id, "lang") % 100
    if r < 70:
        return "en"
    others = [l for l in LANGS if l != "en"]
    return others[(r - 70) % len(others)]


# Bump when ANY generated content changes (images, captions, defects): both
# bench fixture caches key on it, so stale /tmp//dev/shm fixtures from an older
# generator are never silently reused.
FIXTURE_GEN_VERSION = "v2"


def _base_caption(image_id: str, lang: str) -> str:
    rng = np.random.RandomState(_g(image_id, "cap") & 0x7FFFFFFF)
    n = rng.randint(6, 14)
    return " ".join(rng.choice(VOCAB[lang], size=n))


def _make_caption(image_id: str, lang: str) -> str | None:
    g = _g(image_id)
    rng = np.random.RandomState(_g(image_id, "defect") & 0x7FFFFFFF)
    # defect branches that never use the base caption come FIRST, before the
    # (RNG init + 6-13 vocab draws) cost of building it — this is the per-row
    # hot loop of the 8M-row scaling fixture
    if g % 20 == 0:
        return None if g % 40 == 0 else ""
    if g % 25 == 3:
        return rng.choice(["n/a", "null", "-", "NA", "unknown"])
    if g % 30 == 5:
        return "ok"
    cap = _base_caption(image_id, lang)
    if g % 30 == 6:
        return cap + " " + " ".join(rng.choice(VOCAB[lang], size=400))
    if g % 25 == 7:
        word = rng.choice(VOCAB[lang])
        return " ".join([word] * 10)
    if g % 30 == 8:
        return "@#$% ^&*() 12@@!! ##++ %%$$"
    if g % 20 == 11:
        return " ".join(np.random.RandomState(g & 0x7FFFFFFF).choice(GIBBERISH, size=8))
    if g % 15 == 2:
        cap = cap + " contact user123@example.com"
    if g % 15 == 9:
        cap = cap + " call +33612345678"
    if g % 40 == 4:
        words = cap.split()
        words.insert(len(words) // 2, "stupid")
        cap = " ".join(words)
    if g % 10 == 1:
        cap = "  " + cap + "  "
    return cap


def _make_image(image_id: str) -> tuple[np.ndarray, int, int, str]:
    g = _g(image_id, "img")
    rng = np.random.RandomState(g & 0x7FFFFFFF)
    w = SIZES[g % len(SIZES)]
    h = SIZES[(g >> 3) % len(SIZES)]
    # random 8×8 block pattern + gradient + noise. The block pattern matters:
    # `average_hash` thresholds 8×8 cell means against their global mean, and a
    # smooth gradient alone yields half-plane bit patterns that collide for ~40%
    # of rows (measured 11k distinct hashes over 20k images — phash groups of
    # 200+). Random per-cell block means make the 64 hash bits independent, so
    # accidental collisions vanish (~8M²/2⁶⁵ expected pairs) and the only shared
    # phashes are the deliberately injected near-dups below.
    yy, xx = np.mgrid[0:h, 0:w]
    base = rng.randint(0, 128, size=3)[None, None, :]
    blocks = rng.randint(0, 128, size=(8, 8, 3))
    by = (yy * 8 // h).clip(0, 7)
    bx = (xx * 8 // w).clip(0, 7)
    pattern = blocks[by, bx]
    slopes = rng.uniform(-3, 3, size=(2, 3))
    grad = xx[:, :, None] * slopes[0][None, None, :] + yy[:, :, None] * slopes[1][None, None, :]
    noise = rng.randint(-20, 21, size=(h, w, 3))
    arr = np.clip(base + pattern + grad + noise, 0, 255).astype(np.uint8)
    fmt = FMTS[g % len(FMTS)]
    return arr, w, h, fmt


# ~2% of ids are near-dups: they reuse the pixels of their 40-block "leader"
# (re-encoded in their own format — the classic same-image-different-encoding
# web duplicate), so they share the leader's phash and lose the dedup vote to
# it (leader id = block minimum, and min image_id wins).
NEAR_DUP_BLOCK = 40


def _near_dup_source(image_id: str, i: int) -> int | None:
    leader = i - (i % NEAR_DUP_BLOCK)
    if leader != i and _g(image_id, "near") % 50 == 3:
        return leader
    return None


def make_row(i: int) -> dict:
    """One fixture row, fully determined by the integer index `i` — which is what
    makes driver-side and Spark-distributed generation produce identical data."""
    image_id = f"img{i:08d}"
    g = _g(image_id)
    arr, w, h, fmt = _make_image(image_id)
    src = _near_dup_source(image_id, i)
    if src is not None:
        arr, w, h, _ = _make_image(f"img{src:08d}")  # leader's pixels, own fmt
    data = codecs.encode(arr, fmt)
    phash = codecs.average_hash(arr)
    lang = _lang_for(image_id)
    caption = _make_caption(image_id, lang)
    if g % 50 == 12:  # bad dims defect
        w = 0 if g % 100 == 12 else w * 9
    if g % 100 == 13:  # corrupt bytes defect
        data = data[: max(len(data) // 2, 8)]
    return {
        "image_id": image_id,
        "bytes": data,
        "w": np.int32(w),
        "h": np.int32(h),
        "fmt": fmt,
        "caption": caption,
        "phash": np.int64(phash),
    }


def generate_images_pdf(n: int = 2000, dup_rate: float = 0.02) -> pd.DataFrame:
    pdf = pd.DataFrame([make_row(i) for i in range(n)])
    n_dup = int(n * dup_rate)
    if n_dup:
        dup = pdf.iloc[[(i * 37) % n for i in range(n_dup)]]
        pdf = pd.concat([pdf, dup], ignore_index=True)
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    return pdf


def _pa_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )


def write_images_parquet(
    path: str, n: int = 2000, dup_rate: float = 0.02, num_files: int = 1
) -> str:
    """Write the fixture as parquet; returns the path.

    `num_files > 1` writes a directory of part files — the layout a real
    Iceberg/warehouse table has. A single large file caps the scan at
    ceil(bytes / maxPartitionBytes) partitions, which serializes the pre-shuffle
    UDF stages and ruins scaling measurements; production inputs never look
    like that.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_images_pdf(n, dup_rate)
    schema = _pa_schema()
    if num_files <= 1:
        table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        pq.write_table(table, path)
        return path
    os.makedirs(path, exist_ok=True)
    chunk = (len(pdf) + num_files - 1) // num_files
    for i in range(num_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if part.empty:
            break
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return path


IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def write_images_parquet_spark(
    spark,
    path: str,
    n: int,
    dup_rate: float = 0.02,
    num_files: int = 64,
    bucket_by_id: int | None = None,
) -> str:
    """Distributed fixture generation — same rows as `generate_images_pdf` (every
    row is a pure function of its index via `make_row`), but built on all cores
    with `mapInPandas`, which is what makes million-row scaling fixtures feasible
    (driver-side generation runs ~130 rows/s).

    `bucket_by_id=B` writes the production layout the north rule names — a table
    partitioned by `bucket(B, image_id)` (`_bucket=NN/` dirs, the parquet
    stand-in for Iceberg's bucket transform). On this layout `run_filter`'s
    resume filter is partition pruning and its bucketed output needs NO
    shuffle, which is precisely the property the Iceberg design is for; the
    flat layout keeps exercising the repartition fallback."""
    import pandas as pd  # noqa: F811 (worker-side import)

    from pyspark.sql import functions as F

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([make_row(int(i)) for i in pdf["id"]])

    base = spark.range(n).repartition(num_files).mapInPandas(gen, IMAGES_DDL)
    n_dup = int(n * dup_rate)
    if n_dup:
        dup_ids = spark.createDataFrame([((i * 37) % n,) for i in range(n_dup)], "id long")
        base = base.unionAll(
            dup_ids.repartition(max(1, num_files // 16)).mapInPandas(gen, IMAGES_DDL)
        )
    if bucket_by_id:
        from data_quality_check_spark.pipeline.run import bucket_col

        salt = F.pmod(F.xxhash64("image_id", F.lit(1)), F.lit(max(1, num_files // bucket_by_id)))
        base = (
            base.withColumn("_bucket", bucket_col(num_buckets=bucket_by_id))
            .repartition(num_files, F.col("_bucket"), salt)  # ~num_files files, bucket-aligned
        )
    # `bytes` is already codec-compressed (png/jpeg): snappy on top costs scan
    # CPU for ~nothing, exactly as in a production image table. ONE writer
    # built after the branch so both layouts share the write settings.
    writer = base.write.mode("overwrite").option("compression", "uncompressed")
    if bucket_by_id:
        writer = writer.partitionBy("_bucket")
    writer.parquet(path)
    return path

