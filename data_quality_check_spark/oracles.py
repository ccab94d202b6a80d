"""Driver-side oracle twins for gate queries whose Spark side runs model/UDF
stages plain SQL cannot express (VERDICT r1 item 5: shrink the no_oracle set).

Pattern: the deterministic NON-relational part of each operator — SimHash
signatures, the char-trigram language model, SRP hyperplanes, k-means
centroids — is reproduced driver-side from the *same shared kernel* the Spark
path executes (dedup.simhash_signatures, textmodel.CharTrigramLM,
similarity.srp_planes / spherical_kmeans) and either embedded in the SQL as
literals (planes, centroids) or materialized to a scratch parquet the SQL
reads. The RELATIONAL part — banded joins, Hamming verification, bucket joins,
cell probing, top-k ranking — stays genuine DuckDB SQL, so the driver's
value-hash cross-checks the distributed join/verify/rank logic end to end
against an independent engine, and the kernel outputs are cross-checked
between a Spark executor run and a driver-process run.

Float-determinism notes:
  * SRP buckets: both engines fold the SAME float64 plane literals against the
    same cast-to-double embedding values; a sign flip would need |dot| ≲ 1e-16,
    probability ~1e-12 per (vector, plane) on this data.
  * IVF centroids: trained on the head of a `crc32(cast(id AS string))`
    ordering, which zlib.crc32 reproduces exactly, so both sides train on the
    identical sample with the identical numpy kernel → identical centroids.
  * Rounding twin (`spark_round`): Spark's Round(double) goes through
    java.math.BigDecimal.valueOf (i.e. Double.toString, shortest round-trip
    decimal) + HALF_UP; python's repr() is the same shortest representation,
    so Decimal(repr(x)).quantize(HALF_UP) is bit-exact against F.round.
"""

from __future__ import annotations

import os
import tempfile
import zlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from data_quality_check_spark.sources.commit import content_key, replace_file

SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), "dqx_oracle_scratch")


def _scratch(sf_dir: str, name: str) -> str:
    # keyed on the input parquets' content, so a regenerated fixture at the
    # same path gets a fresh scratch file, never a stale twin
    d = os.path.join(SCRATCH_ROOT, content_key(sf_dir))
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, name)


def _write_parquet(pdf: pd.DataFrame, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a concurrent reader never sees a half-written file, and racing writers
    # (same deterministic content) harmlessly replace each other
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    return replace_file(path, lambda tmp: pq.write_table(table, tmp))


def _read_cols(sf_dir: str, table: str, cols: list[str]) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(sf_dir, f"{table}.parquet"), columns=cols).to_pandas()


def spark_round(values, scale: int) -> np.ndarray:
    """Bit-exact twin of Spark's `F.round` on DoubleType (HALF_UP over the
    shortest-round-trip decimal representation)."""
    q = Decimal(1).scaleb(-scale)
    out = np.empty(len(values), dtype=np.float64)
    for i, v in enumerate(values):
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            out[i] = f
        else:
            out[i] = float(Decimal(repr(f)).quantize(q, ROUND_HALF_UP))
    return out


def _float_list_sql(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


# ───────────────────────── simhash pairs ─────────────────────────


def simhash_pairs_sql(sf_dir: str, ngram: int, max_hamming: int) -> str:
    """Signatures from the shared numpy kernel, materialized to scratch
    parquet; the 4×16-bit pigeonhole band join + bit_count(xor) Hamming
    verification runs as genuine SQL (twin of dedup.simhash_near_pairs)."""
    from data_quality_check_spark.operators.dedup import simhash_signatures

    docs = _read_cols(sf_dir, "documents", ["doc_id", "text"])
    sigs = pd.DataFrame(
        {
            "id": docs["doc_id"],
            "simhash": simhash_signatures(docs["text"].fillna("").tolist(), ngram),
        }
    )
    path = _write_parquet(sigs, _scratch(sf_dir, f"simhash_sigs_n{ngram}.parquet"))
    return f"""
WITH sigs AS (SELECT id, simhash FROM '{path}'),
chunks AS (
  SELECT id, simhash, c.chunk,
         (simhash >> (c.chunk * 16)) & 65535 AS ckey
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS chunk) c
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM chunks a JOIN chunks b ON a.chunk = b.chunk AND a.ckey = b.ckey
  WHERE a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


# ───────────────────────── model scores ─────────────────────────


def model_scores_sql(sf_dir: str) -> str:
    """Full driver-process twin of the langid + perplexity UDF (same
    CharTrigramLM tables, same rounding), materialized to scratch parquet.
    It takes the golden two-call form (`predict`, then `perplexity`) where the
    UDF takes the fused `score`, so the value-hash checks the fusion as well
    as the Spark plumbing — Arrow batching, iterator UDF state, the
    asNondeterministic fence — against a single-process execution."""
    from data_quality_check_spark.functions.textmodel import default_model

    docs = _read_cols(sf_dir, "documents", ["doc_id", "text"])
    texts = docs["text"].fillna("").tolist()
    m = default_model()
    langs, conf, _ = m.predict(texts)
    ppl = m.perplexity(texts, [l if l else "und" for l in langs])
    out = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "lang": langs,
            "lang_conf": spark_round(conf, 6),
            "ppl": spark_round(ppl, 4),
        }
    )
    path = _write_parquet(out, _scratch(sf_dir, "model_scores.parquet"))
    return f"SELECT doc_id, lang, lang_conf, ppl FROM '{path}'"


def _planted_caption(i, s) -> str:
    """Driver-side twin of entry_queries._planted_caption_col — the ONE
    planting kernel shared by scrub_sql and pii_density_sql, so the two
    oracles can never disagree on the planted rows."""
    base = "" if pd.isna(s) else s
    if pd.isna(i):
        return base
    i = int(i)
    if i % 7 == 0:
        return f"{base} contact user{i}@example.com now"
    if i % 11 == 0:
        return f"{base} call 555-867-{i % 10000:04d}"
    if i % 13 == 0:
        return f"{base} you absolute loser"
    return base


def scrub_sql(sf_dir: str) -> str:
    """Driver-process twin of the PII/toxicity scrub (functions/scrub.py):
    the pure-python compiled-`re` golden path (`scrub_text`) over every
    document, materialized to scratch parquet. The value-hash therefore
    checks the north rule's OWN invariant — Java-regexp_replace output ==
    python-re golden output, byte-for-byte — on the driver gate, not just in
    pytest property tests."""
    from data_quality_check_spark.functions.scrub import scrub_text

    docs = _read_cols(sf_dir, "documents", ["doc_id", "text"])

    texts = [_planted_caption(i, s) for i, s in zip(docs["doc_id"], docs["text"])]
    scrubbed = [scrub_text(s) for s in texts]
    out = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "scrubbed": scrubbed,
            "changed": [
                (a is not None or b is not None) and a != b
                for a, b in zip(texts, scrubbed)
            ],
        }
    )
    path = _write_parquet(out, _scratch(sf_dir, "scrub_golden.parquet"))
    return f"SELECT doc_id, scrubbed, changed FROM '{path}'"


def decode_health_sql(sf_dir: str) -> str:
    """Driver-process twin of the per-format decode-health audit: the shared
    image_payload synthesis kernel + the SAME deterministic corruption the
    gate query applies (1/9 truncated to 8 bytes, else 1/13 first byte
    dropped), decoded with codecs.decode, per-image rows materialized to
    scratch parquet; the per-format aggregation runs as genuine DuckDB SQL.
    Every output is exact int64 (counts + decoded-pixel sums)."""
    from data_quality_check_spark.gate_fixtures import synthetic_image_bytes_pdf
    from data_quality_check_spark.pipeline import codecs

    ids = _read_cols(sf_dir, "documents", ["doc_id"])["doc_id"].to_numpy()
    imgs = synthetic_image_bytes_pdf(ids)

    def corrupt(i: int, b: bytes) -> bytes:
        if i % 9 == 0:
            return b[:8]
        if i % 13 == 0:
            return b[1:]
        return b

    rows = []
    for i, b, fmt in zip(imgs["image_id"], imgs["bytes"], imgs["fmt"]):
        arr = codecs.decode(corrupt(int(i), b))
        rows.append(
            (
                fmt,
                arr is not None,
                0 if arr is None else int(arr.shape[0]) * int(arr.shape[1]),
            )
        )
    out = pd.DataFrame(rows, columns=["fmt", "ok", "pixels"])
    path = _write_parquet(out, _scratch(sf_dir, "decode_health_golden.parquet"))
    return f"""
SELECT fmt, count(*) AS n_images,
       CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_decode_ok,
       CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_decode_failed,
       CAST(sum(pixels) AS BIGINT) AS total_pixels
FROM '{path}' GROUP BY fmt ORDER BY fmt
"""


def pii_density_sql(sf_dir: str) -> str:
    """Driver-process twin of the PII density audit (functions/scrub.py
    `pii_density`): per-doc per-class match counts from the pure-python
    compiled-`re` golden (`pii_counts_text`) over the SAME planted captions as
    the scrub gate, materialized to scratch parquet; the aggregation to
    per-language density rows then runs as genuine DuckDB SQL. Same
    python-golden contract as `scrub_sql` — the patterns use ASCII lookarounds
    RE2 lacks."""
    from data_quality_check_spark.functions.scrub import pii_counts_text

    docs = _read_cols(sf_dir, "documents", ["doc_id", "text", "lang"])

    counts = [
        pii_counts_text(_planted_caption(i, s))
        for i, s in zip(docs["doc_id"], docs["text"])
    ]
    out = pd.DataFrame(
        {
            "lang": docs["lang"],
            **{
                f"{cls}_n": [c[cls] for c in counts]
                for cls in ("email", "phone", "toxic")
            },
        }
    )
    path = _write_parquet(out, _scratch(sf_dir, "pii_density_golden.parquet"))
    per_class = ",\n       ".join(
        f"CAST(sum({cls}_n) AS BIGINT) AS {cls}_hits,\n       "
        f"CAST(sum(CASE WHEN {cls}_n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS {cls}_docs"
        for cls in ("email", "phone", "toxic")
    )
    return f"""
SELECT lang, count(*) AS n_docs,
       {per_class},
       CAST(sum(CASE WHEN email_n > 0 OR phone_n > 0 OR toxic_n > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
       round(CAST(sum(CASE WHEN email_n > 0 OR phone_n > 0 OR toxic_n > 0
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pii_doc_frac
FROM '{path}' GROUP BY lang ORDER BY lang
"""


# ───────────────────────── ANN: SRP-LSH ─────────────────────────


def _bucket_sql(col_expr: str, planes: np.ndarray) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({col_expr}, {_float_list_sql(p)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def ann_lsh_sql(k: int, n_bits: int, dim: int, query_mod: int = 100) -> str:
    """Pure-SQL twin of similarity.ann_lsh_topk: the SAME seeded hyperplanes
    (similarity.srp_planes) are embedded as float64 literals, so DuckDB buckets
    every vector identically, joins candidates to queries on the bucket, and
    reranks by rounded cosine with the same (cosine DESC, id) tie-break."""
    from data_quality_check_spark.operators.similarity import srp_planes

    planes = srp_planes(n_bits, dim)
    b = _bucket_sql("ev", planes)
    # validity predicate mirrors the Spark side's _hoist_norms + dim filter:
    # NULL / wrong-width / zero-norm vectors are absent from BOTH engines
    # (without it a NULL vector dots every plane to NULL → bucket 0, emitting
    # NULL-cosine rank rows the Spark path excludes)
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0
),
cand AS (SELECT vec_id, ev, {b} AS bucket FROM v),
q AS (SELECT vec_id AS query_id, ev AS qv, {b} AS bucket FROM v WHERE vec_id % {query_mod} = 0),
s AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(c.ev, q.qv), 4) AS cosine
  FROM cand c JOIN q USING (bucket) WHERE c.vec_id <> q.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}
"""


# ───────────────────────── ANN: IVF ─────────────────────────


def ivf_centroids_twin(
    sf_dir: str, n_centroids: int, sample_size: int = 2048, iters: int = 10, seed: int = 13
) -> np.ndarray:
    """Driver-process twin of similarity.ivf_train_centroids: identical sample
    (head of the crc32(str(id)) ordering, which Spark's
    crc32(cast(id AS string)) reproduces bit-for-bit) through the identical
    spherical_kmeans kernel → identical centroids."""
    from data_quality_check_spark.operators.similarity import _unit_rows, spherical_kmeans

    pdf = _read_cols(sf_dir, "embeddings", ["vec_id", "embedding"])
    pdf = pdf[pdf["embedding"].notna()].copy()
    pdf["_crc"] = [zlib.crc32(str(v).encode()) for v in pdf["vec_id"]]
    pdf = pdf.sort_values(["_crc", "vec_id"], kind="mergesort").head(sample_size)
    x, _ = _unit_rows(pdf["embedding"].reset_index(drop=True))
    return spherical_kmeans(x, n_centroids, iters=iters, seed=seed)


def ann_ivf_sql(
    sf_dir: str, k: int, n_centroids: int, nprobe: int, query_mod: int = 100
) -> str:
    """SQL twin of similarity.ann_ivf_topk over twin-trained centroid literals:
    assign every vector to its max-cosine cell (ties → lowest cell, matching
    numpy argmax-first), probe the nprobe nearest cells per query, exact
    rounded-cosine rerank with the shared (cosine DESC, id) tie-break."""
    cents = ivf_centroids_twin(sf_dir, n_centroids)
    values = ", ".join(f"({j}, {_float_list_sql(c)})" for j, c in enumerate(cents))
    return f"""
WITH cents AS (SELECT * FROM (VALUES {values}) AS t(cell, cv)),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
assign AS (
  SELECT vec_id, ev, cell FROM (
    SELECT v.vec_id, v.ev, c.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.ev, c.cv) DESC, c.cell
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, ev AS qv FROM v WHERE vec_id % {query_mod} = 0),
probe AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cell
           ) AS rn
    FROM q, cents c
  ) WHERE rn <= {nprobe}
),
s AS (
  SELECT p.query_id, a.vec_id,
         round(list_cosine_similarity(a.ev, p.qv), 4) AS cosine
  FROM assign a JOIN probe p USING (cell) WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM s
)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= {k}
"""

def _planted_gate_paths(sf_dir: str, bands: int, bits_per_band: int, dim: int
                        ) -> tuple[str, str]:
    """Materialize the planted embedding gate table and its banded-SRP chunk
    table to scratch parquet — BOTH from shared kernels: the planted vectors
    from gate_fixtures.planted_embeddings_pdf (bit-identical to the Spark
    `transform` construction — exact IEEE arithmetic, see gate_fixtures.py)
    and the chunks from similarity.srp_band_chunks (the batch-invariant
    signature kernel the Spark pandas UDF runs). The RELATIONAL stages — the
    banded self-join, the distinct, the exact cosine confirm — stay genuine
    DuckDB SQL."""
    from data_quality_check_spark.gate_fixtures import planted_embeddings_pdf
    from data_quality_check_spark.operators.similarity import (
        srp_band_chunks,
        srp_planes,
    )

    pdf = _read_cols(sf_dir, "embeddings", ["vec_id", "embedding"])
    planted = planted_embeddings_pdf(pdf)
    vec_path = _write_parquet(
        planted.rename(columns={"embedding": "ev"}),
        _scratch(sf_dir, "emb_gate_planted.parquet"),
    )
    planes = srp_planes(bands * bits_per_band, dim)
    x = np.asarray(planted["embedding"].tolist(), dtype=np.float64)
    ch = srp_band_chunks(x, planes, bands)
    ids = planted["vec_id"].to_numpy()
    chunk_pdf = pd.DataFrame(
        {
            "vec_id": np.repeat(ids, bands),
            "band": np.tile(np.arange(bands, dtype=np.int32), len(ids)),
            "chunk": ch.reshape(-1),
        }
    )
    chunk_path = _write_parquet(
        chunk_pdf,
        _scratch(sf_dir, f"emb_gate_chunks_b{bands}_r{bits_per_band}.parquet"),
    )
    return vec_path, chunk_path


def embedding_neardup_lsh_sql(
    sf_dir: str, threshold: float, bands: int, bits_per_band: int, dim: int = 64
) -> str:
    """Twin of similarity.neardup_pairs_lsh over the PLANTED gate table:
    shared-kernel signatures from scratch parquet (`_planted_gate_paths`),
    banded join + distinct + exact rounded-cosine confirm as genuine SQL —
    the driver value-checks the whole bucketing composition at the production
    threshold (recall/candidate-fraction properties are asserted separately
    in tests/test_dedup_similarity.py)."""
    vec_path, chunk_path = _planted_gate_paths(sf_dir, bands, bits_per_band, dim)
    return f"""
WITH v AS (SELECT vec_id, ev FROM '{vec_path}'),
chunks AS (SELECT vec_id, band, chunk FROM '{chunk_path}'),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM chunks a JOIN chunks b USING (band, chunk)
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2
),
p AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(va.ev, vb.ev), 4) AS cosine
  FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= {threshold!r}
"""


def embedding_neardup_clusters_sql(
    sf_dir: str, threshold: float, bands: int, bits_per_band: int, dim: int = 64
) -> str:
    """Recursive-CTE twin of similarity.neardup_clusters_lsh: the LSH pair
    query feeds the same min-reachable-id labeling used by the text
    clustering oracle, so the driver value-checks pair generation AND the
    distributed components labeling over embedding edges."""
    pair_sql = embedding_neardup_lsh_sql(sf_dir, threshold, bands, bits_per_band, dim)
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
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
SELECT l.id AS vec_id, l.comp AS component, s.csize AS csize
FROM labels l JOIN sizes s USING (comp)
"""


def embedding_neardup_ivf_sql(
    sf_dir: str, threshold: float, n_centroids: int
) -> str:
    """SQL twin of similarity.neardup_pairs_ivf: twin-trained centroid
    literals (ivf_centroids_twin — identical sample, identical kernel) assign
    every vector to its max-cosine cell, then exact within-cell pairs at the
    threshold — the low-τ blocking path SRP-LSH cannot serve.

    Float caveat (same class as the SRP sign-flip note above): cell assignment
    is an argmax DuckDB computes via list_cosine_similarity on raw vectors
    while Spark normalizes then takes batch-invariant per-centroid row sums
    (similarity._centroid_sims) — different summation order between ENGINES
    (though no longer between Arrow batch compositions), so a between-centroid
    cosine TIE within ~1e-15 could assign different cells. On unit-norm random
    embeddings the top-2 centroid gap is ~1e-2; a flip needs a
    13-orders-closer tie, far rarer than the accepted SRP risk."""
    cents = ivf_centroids_twin(sf_dir, n_centroids)
    values = ", ".join(f"({j}, {_float_list_sql(c)})" for j, c in enumerate(cents))
    return f"""
WITH cents AS (SELECT * FROM (VALUES {values}) AS t(cell, cv)),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
assign AS (
  SELECT vec_id, ev, cell FROM (
    SELECT v.vec_id, v.ev, c.cell,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.ev, c.cv) DESC, c.cell
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.ev, b.ev), 4) AS cosine
  FROM assign a JOIN assign b USING (cell)
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= {threshold!r}
"""


def semdedup_sql(sf_dir: str, threshold: float, n_centroids: int) -> str:
    """SQL twin of similarity.semdedup (SemDeDup, arXiv:2303.09540): the
    embedding_neardup_ivf assignment/pair stages (identical twin-trained
    centroid literals, identical rounded-cosine pair threshold) feeding a
    recursive min-label reachability and the paper's keeper election — per
    component, rank by (4-dp centroid cosine ASC, id ASC); rank 1 keeps.

    Float caveats are exactly the IVF twin's (argmax near-tie between
    ENGINES at ~1e-15) plus the election's: two members whose centroid
    cosines agree to 4 dp order by id in both engines, so only a cross-engine
    disagreement in the 4th decimal itself could flip a keeper — the same
    accepted class as the pair threshold's boundary."""
    cents = ivf_centroids_twin(sf_dir, n_centroids)
    values = ", ".join(f"({j}, {_float_list_sql(c)})" for j, c in enumerate(cents))
    return f"""
WITH RECURSIVE cents AS (SELECT * FROM (VALUES {values}) AS t(cell, cv)),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
      WHERE embedding IS NOT NULL),
assign AS (
  SELECT vec_id, ev, cell,
         round(list_cosine_similarity(ev, cv), 4) AS centroid_cosine
  FROM (
    SELECT v.vec_id, v.ev, c.cell, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.ev, c.cv) DESC, c.cell
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assign a JOIN assign b USING (cell)
  WHERE a.vec_id < b.vec_id
    AND round(list_cosine_similarity(a.ev, b.ev), 4) >= {threshold!r}
),
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
ranked AS (
  SELECT l.comp AS component, a.vec_id, a.cell, a.centroid_cosine,
         row_number() OVER (
           PARTITION BY l.comp ORDER BY a.centroid_cosine ASC, a.vec_id ASC
         ) AS rn
  FROM labels l JOIN assign a ON a.vec_id = l.id
)
SELECT component, vec_id, cell, centroid_cosine, (rn = 1) AS keep FROM ranked
"""


# ───────────────────────── cross-modal alignment ─────────────────────────


def alignment_sql(sf_dir: str, threshold: float) -> str:
    """Driver-process twin of functions.alignment.with_alignment over the
    synthetic image gate table. The (image_id, caption, phash) rows come from
    DuckDB evaluating the SAME SQL twin the phash/image gate queries are
    hash-verified against (gate_fixtures.synthetic_image_meta_sql), then the
    shared batch-invariant kernel scores them in one driver batch — so the
    value-hash checks Spark's Arrow batching + UDF plumbing against a
    single-process execution, exactly the model_scores pattern."""
    import duckdb

    from data_quality_check_spark.functions.alignment import alignment_scores
    from data_quality_check_spark.gate_fixtures import synthetic_image_meta_sql

    con = duckdb.connect()
    docs = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    meta = con.execute(
        f"SELECT image_id, caption, phash FROM ({synthetic_image_meta_sql('documents')})"
    ).df()
    con.close()
    scores = alignment_scores(
        meta["caption"].fillna("").tolist(), meta["phash"].to_numpy(np.int64)
    )
    out = pd.DataFrame(
        {
            "image_id": meta["image_id"],
            # aligned is decided on the RAW score (as the Spark side does),
            # rounding is display-only
            "align_score": spark_round(scores, 6),
            "aligned": scores >= float(threshold),
        }
    )
    path = _write_parquet(out, _scratch(sf_dir, "alignment_scores.parquet"))
    return f"SELECT image_id, align_score, aligned FROM '{path}'"


def image_embedding_neardup_sql(
    sf_dir: str, threshold: float, bands: int, bits_per_band: int
) -> str:
    """Twin of the decode → grid-luma-embed → SRP-LSH near-dup chain over the
    synthetic image-BYTES gate table: bytes from the shared synthesis kernel
    (gate_fixtures.image_payload), decoded with the same codec family, embedded
    with the same grid_luma_features kernel — INCLUDING the array<float> Arrow
    boundary round-trip (float64 → float32 → float64, the exact precision the
    Spark UDF output carries) and the query's `x − 0.5` centering — then banded
    with the shared srp_band_chunks kernel. The relational stages (banded
    self-join, distinct, exact rounded-cosine confirm) stay genuine DuckDB SQL,
    mirroring embedding_neardup_lsh_sql."""
    from data_quality_check_spark.functions.multimodal import grid_luma_features
    from data_quality_check_spark.gate_fixtures import (
        IMG_FEATURE_GRID,
        synthetic_image_bytes_pdf,
    )
    from data_quality_check_spark.operators.similarity import (
        srp_band_chunks,
        srp_planes,
    )
    from data_quality_check_spark.pipeline import codecs

    ids = _read_cols(sf_dir, "documents", ["doc_id"])["doc_id"].to_numpy()
    imgs = synthetic_image_bytes_pdf(ids)
    feats = [
        grid_luma_features(codecs.decode(b), IMG_FEATURE_GRID)
        for b in imgs["bytes"]
    ]
    dim = IMG_FEATURE_GRID * IMG_FEATURE_GRID
    # float32 round-trip = the Spark UDF's array<float> Arrow boundary
    x = np.asarray(feats, dtype=np.float32).astype(np.float64) - 0.5
    vec_path = _write_parquet(
        pd.DataFrame(
            {"vec_id": imgs["image_id"], "ev": [row.tolist() for row in x]}
        ),
        _scratch(sf_dir, "img_bytes_feats.parquet"),
    )
    ch = srp_band_chunks(x, srp_planes(bands * bits_per_band, dim), bands)
    chunk_path = _write_parquet(
        pd.DataFrame(
            {
                "vec_id": np.repeat(imgs["image_id"].to_numpy(), bands),
                "band": np.tile(np.arange(bands, dtype=np.int32), len(imgs)),
                "chunk": ch.reshape(-1),
            }
        ),
        _scratch(sf_dir, f"img_bytes_chunks_b{bands}_r{bits_per_band}.parquet"),
    )
    return f"""
WITH v AS (SELECT vec_id, ev FROM '{vec_path}'),
chunks AS (SELECT vec_id, band, chunk FROM '{chunk_path}'),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM chunks a JOIN chunks b USING (band, chunk)
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2
),
p AS (
  SELECT c.id_a, c.id_b,
         round(list_cosine_similarity(va.ev, vb.ev), 4) AS cosine
  FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= {threshold!r}
"""


def ppl_buckets_sql(sf_dir: str, n: int = 3) -> str:
    """CCNet-style per-language perplexity terciles over the model_scores
    golden: the langid+ppl kernels are reproduced driver-side (same
    CharTrigramLM as the Spark UDF — see `model_scores_sql`), the bucketing
    stays genuine DuckDB window SQL, so the value-hash cross-checks BOTH the
    UDF plumbing and the exact-ntile assignment against an independent engine.
    ntile with a (ppl, doc_id) total order has no interpolation to drift."""
    from data_quality_check_spark.operators.curation import score_ntile_buckets_sql

    # materializes (or reuses) the golden scratch parquet and returns a SELECT
    inner = f"(SELECT doc_id, lang, ppl FROM ({model_scores_sql(sf_dir)}))"
    return score_ntile_buckets_sql(inner, "ppl", "lang", "doc_id", n=n)


def dsir_topk_sql(
    sf_dir: str,
    k: int,
    n_buckets: int,
    target_sql: str = "source IN ('src0', 'src1')",
) -> str:
    """SQL twin of dsir.dsir_topk (DSIR hashed-unigram importance weights).

    The bucket hash and tokenizer are cross-engine exact (dsir.bucket_sql /
    vocab.TOKEN_RE), so the only non-relational step is the log-ratio
    quantization: this twin aggregates bucket counts WITH DUCKDB, runs them
    through the SAME shared numpy kernel (dsir.log_ratio_micronats) the Spark
    path applies to ITS OWN distributed counts, and materializes the int64
    ratio table to scratch parquet. A wrong Spark-side count therefore
    produces a different ratio table and a hash mismatch — the kernel being
    shared does not shortcut the distributed-aggregation check. Weights are
    pure int64 sums in both engines (order-independent by construction)."""
    import duckdb

    from data_quality_check_spark.operators.dsir import (
        MICRO,
        bucket_sql,
        log_ratio_micronats,
    )

    docs = os.path.join(sf_dir, "documents.parquet")
    bucket = bucket_sql("token", n_buckets)
    counts = duckdb.sql(
        f"""
        SELECT {bucket} AS bucket,
               sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t,
               sum(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS r
        FROM (SELECT ({target_sql}) AS tgt,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
              FROM '{docs}')
        GROUP BY 1
        """
    ).df()
    t = np.zeros(n_buckets, dtype=np.int64)
    r = np.zeros(n_buckets, dtype=np.int64)
    b_idx = counts["bucket"].to_numpy(dtype=np.int64)
    t[b_idx] = counts["t"].to_numpy(dtype=np.int64)
    r[b_idx] = counts["r"].to_numpy(dtype=np.int64)
    ratios = log_ratio_micronats(t, r)
    path = _write_parquet(
        pd.DataFrame(
            {
                "bucket": np.arange(n_buckets, dtype=np.int64),
                "r_micronats": ratios,
            }
        ),
        _scratch(sf_dir, f"dsir_ratios_b{n_buckets}.parquet"),
    )
    return f"""
WITH raw_docs AS (SELECT doc_id FROM documents WHERE NOT ({target_sql})),
toks AS (SELECT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
         FROM documents WHERE NOT ({target_sql})),
bt AS (SELECT doc_id, {bucket} AS bucket FROM toks),
tw AS (SELECT bt.doc_id, sum(rt.r_micronats) AS w
       FROM bt JOIN '{path}' rt ON bt.bucket = rt.bucket
       GROUP BY 1)
SELECT d.doc_id,
       CAST(COALESCE(tw.w, 0) AS BIGINT) AS weight_micronats,
       CAST(COALESCE(tw.w, 0) AS DOUBLE) / {float(MICRO)!r} AS weight_nats
FROM raw_docs d LEFT JOIN tw USING (doc_id)
ORDER BY weight_micronats DESC, doc_id ASC
LIMIT {k}
"""


def prototype_prune_sql(sf_dir: str, n_centroids: int, m: int) -> str:
    """SQL twin of similarity.prototype_prune_candidates (SSL prototypes,
    arXiv:2206.14486): identical twin-trained centroid literals and argmax
    tie policy as ann_ivf_sql, 4-dp rounded centroid cosine, per-cell
    row_number over (cosine DESC, id ASC). Float caveats are exactly the IVF
    twin's: a cross-engine flip needs an argmax near-tie at ~1e-15 or a
    disagreement in the 4th decimal itself."""
    cents = ivf_centroids_twin(sf_dir, n_centroids)
    values = ", ".join(f"({j}, {_float_list_sql(c)})" for j, c in enumerate(cents))
    return f"""
WITH cents AS (SELECT * FROM (VALUES {values}) AS t(cell, cv)),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
      WHERE embedding IS NOT NULL),
assign AS (
  SELECT vec_id, cell,
         round(list_cosine_similarity(ev, cv), 4) AS centroid_cosine
  FROM (
    SELECT v.vec_id, v.ev, c.cell, c.cv,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_cosine_similarity(v.ev, c.cv) DESC, c.cell
           ) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
r AS (
  SELECT vec_id, cell, centroid_cosine,
         CAST(row_number() OVER (
           PARTITION BY cell ORDER BY centroid_cosine DESC, vec_id
         ) AS INT) AS proto_rank
  FROM assign
)
SELECT vec_id, cell, centroid_cosine, proto_rank FROM r WHERE proto_rank <= {m}
"""


def compression_stats_sql(sf_dir: str) -> str:
    """Driver-process twin of `functions.text.compression_stats`: the SAME
    `compressed_size_kernel` (same zlib level, same UTF-8 encoding) executed
    single-process over the documents table and materialized to scratch
    parquet — the value hash therefore checks the Spark Arrow plumbing, the
    model_scores_sql precedent. The ratio division/rounding is left to
    genuine SQL so the 6-dp arithmetic is DuckDB's own."""
    from data_quality_check_spark.functions.text import compressed_size_kernel

    docs = _read_cols(sf_dir, "documents", ["doc_id", "text"])
    comp = compressed_size_kernel(docs["text"])
    raw = docs["text"].map(
        lambda t: None if t is None else len(str(t).encode("utf-8")),
        na_action="ignore",
    )
    # ratio rounded DRIVER-side through the F.round twin: DuckDB's round()
    # disagrees with Spark's HALF_UP on 6-dp decimal ties (e.g. 41/640 =
    # 0.0640625 → 0.064062 vs 0.064063), so leaving the round to SQL makes
    # the value hash tie-fragile — the same reason model_scores_sql rounds
    # conf/ppl driver-side
    ratio = [
        None if (pd.isna(c) or not r) else float(spark_round([c / r], 6)[0])
        for c, r in zip(comp, raw.fillna(0))
    ]
    out = pd.DataFrame(
        {
            "doc_id": docs["doc_id"],
            "n_bytes": pd.array(raw, dtype="Int64"),
            "n_compressed": comp,
            "compression_ratio": pd.array(ratio, dtype="Float64"),
        }
    )
    path = _write_parquet(out, _scratch(sf_dir, "compression_stats.parquet"))
    return f"""
SELECT doc_id,
       CAST(n_bytes AS INTEGER) AS n_bytes,
       n_compressed,
       compression_ratio
FROM '{path}'
"""
