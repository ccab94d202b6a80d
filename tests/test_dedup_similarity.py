"""Correctness tests for dedup and similarity operators on controlled fixtures."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark import record
from data_quality_check_spark.operators import dedup as DD
from data_quality_check_spark.operators import similarity as SIM
from data_quality_check_spark.record import ambient, current, run_record


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "a completely different sentence about spark engines",
        "data pipelines filter tokens and count words daily",
        "rain in spain falls mainly on the plain",
        "machine learning models need lots of clean text data",
    ]
    rows = []
    i = 0
    for b in base:
        for _ in range(8):
            rows.append((i, b + f" variant{i}"))  # near-dups within each base, no exact dups
            i += 1
    rows.append((900, base[0] + " variant0"))  # exact dup of doc 0's text
    rows.append((901, "zzz qqq unique snowflake text vvv www"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pdf, spark.createDataFrame(pdf)


def _brute_jaccard(pdf, threshold):
    toks = {r.doc_id: set(r.text.lower().split()) for r in pdf.itertuples()}
    ids = sorted(toks)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(toks[a] & toks[b])
            j = inter / (len(toks[a]) + len(toks[b]) - inter)
            if j >= threshold:
                out.add((a, b))
    return out


def test_exact_duplicates(docs):
    pdf, df = docs
    groups = DD.exact_duplicate_groups(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["n"] == 2
    assert groups[0]["winner"] == 0


def test_jaccard_matches_brute_force(docs):
    pdf, df = docs
    got = {
        (r.id_a, r.id_b)
        for r in DD.jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect()
    }
    assert got == _brute_jaccard(pdf, 0.8)


def test_minhash_lsh_matches_brute_force(docs):
    pdf, df = docs
    got = {
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    # LSH+confirm: no false positives (confirmed exact) and recall 1 at τ=0.9
    assert got == _brute_jaccard(pdf, 0.9)


def test_simhash_finds_near_identical(docs):
    pdf, df = docs
    pairs = DD.simhash_near_pairs(df, "doc_id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 900) in got  # identical text → hamming 0
    for r in pairs:
        assert r.hamming <= 3
    # hamming from the simhash column matches a python recomputation for a sample
    sh = DD.with_simhash(df.limit(10), "doc_id", "text").collect()
    assert all(isinstance(r.simhash, int) for r in sh)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(5)
    centers = rng.standard_normal((4, 16)) * 3
    rows = []
    for i in range(120):
        label = i % 4
        vec = centers[label] + rng.standard_normal(16) * 0.3
        rows.append((i, [float(x) for x in vec], label))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    return pdf, spark.createDataFrame(pdf)


def _np_cosine_topk(pdf, qids, k):
    vecs = np.array(pdf["embedding"].tolist())
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(vecs, axis=1)
    out = {}
    for q in qids:
        qi = np.where(ids == q)[0][0]
        sims = np.round(vecs @ vecs[qi] / (norms * norms[qi]), 4)
        order = sorted(
            [(ids[j], sims[j]) for j in range(len(ids)) if ids[j] != q],
            key=lambda x: (-x[1], x[0]),
        )
        out[q] = [x[0] for x in order[:k]]
    return out


def test_cosine_topk_matches_numpy(vectors):
    pdf, df = vectors
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = SIM.cosine_topk(df.select("vec_id", "embedding"), queries, k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert by_q == _np_cosine_topk(pdf, [0, 1, 2], 5)


def test_ann_lsh_recall(vectors):
    """SRP-bucketed ANN must recover most true neighbors of clustered data."""
    pdf, df = vectors
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = _np_cosine_topk(pdf, list(range(8)), 5)
    approx = SIM.ann_lsh_topk(
        df.select("vec_id", "embedding"), queries, k=5, n_bits=6, dim=16
    ).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(by_q.get(q, set()) & set(exact[q])) / 5 for q in range(8)]
    assert np.mean(recalls) >= 0.6, recalls


def test_ann_ivf_recall(vectors):
    """IVF-cell ANN: probing 3 of 8 cells on 4-cluster data must recover nearly
    all true neighbors (near-dup neighbors share the query's cluster cell)."""
    pdf, df = vectors
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = _np_cosine_topk(pdf, list(range(8)), 5)
    approx = SIM.ann_ivf_topk(
        df.select("vec_id", "embedding"), queries, k=5, n_centroids=8, nprobe=3
    ).collect()
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [len(by_q.get(q, set()) & set(exact[q])) / 5 for q in range(8)]
    assert np.mean(recalls) >= 0.8, recalls
    # determinism: retraining on the same table yields the same result set
    again = SIM.ann_ivf_topk(
        df.select("vec_id", "embedding"), queries, k=5, n_centroids=8, nprobe=3
    ).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ann_ivf_null_and_ragged_safe(spark, vectors):
    """NULL / dimension-mismatched embeddings (feature_vector_udf emits NULL for
    undecodable images) must degrade to absent — never crash the GEMM batch."""
    pdf, df = vectors
    base = df.select("vec_id", "embedding")
    dirty = base.unionByName(
        spark.createDataFrame(
            [(9001, None), (9002, [0.5, 0.5])], "vec_id long, embedding array<double>"
        ).selectExpr("vec_id", "cast(embedding as array<double>) embedding")
    )
    queries = dirty.filter(F.col("vec_id").isin(0, 9001)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = SIM.ann_ivf_topk(dirty, queries, k=3, n_centroids=8, nprobe=3).collect()
    ids = {r.query_id for r in got}
    assert 0 in ids  # valid query still answered
    assert 9001 not in ids  # null query yields no rows, no crash
    assert all(r.vec_id not in (9001, 9002) for r in got)  # dirty candidates absent


def test_ann_ivf_indexed_matches_recompute_and_prunes(spark, vectors, tmp_path):
    """VERDICT r3 task 5: the persisted IVF index must (a) reproduce
    ann_ivf_topk's rows EXACTLY under the same centroids — an index changes
    the plan, never the answer — and (b) serve the probe as a
    partition-pruned scan: PartitionFilters on `cell` reaches the vectors
    scan, and only the probed cells' directories are opened on disk."""
    from data_quality_check_spark.sources.tables import TableIO

    pdf, df = vectors
    base = df.select("vec_id", "embedding")
    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    SIM.ivf_build_index(io, base, "ann", n_centroids=8)

    got = SIM.ann_ivf_topk_indexed(io, "ann", queries, k=5, nprobe=3)
    want = SIM.ann_ivf_topk(base, queries, k=5, n_centroids=8, nprobe=3).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))

    # (b) the pruning predicate reaches the scan as a PartitionFilter: a TIGHT
    # query batch (one cluster's queries — the realistic per-batch shape) must
    # open only its probed cells' directories, not the whole index
    tight = df.filter(F.col("vec_id").isin(0, 4)).select(  # both label 0
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    tight_res = SIM.ann_ivf_topk_indexed(io, "ann", tight, k=5, nprobe=2)
    plan = tight_res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:200]
    assert "cell" in pf and "IN" in pf.upper()
    # ...and the probed-cell union is a strict subset of cells on disk
    vec_dir = os.path.join(str(tmp_path / "wh"), "ann", "vectors")
    on_disk = {e for e in os.listdir(vec_dir) if e.startswith("cell=")}
    assert len(on_disk) > 3  # 8-centroid build really fanned out on disk
    cents = SIM.ivf_load_centroids(io, "ann")
    probed = {
        f"cell={c}"
        for r in tight.withColumn(
            "cells", SIM.ivf_probe_udf(cents, 2)(F.col("qvec"))
        ).select("cells").collect()
        for c in r.cells
    }
    assert probed < on_disk
    # the pruned scan's literal cell list is exactly the probe union
    import re

    m = re.search(r"IN \(([^)]*)\)", pf)
    assert m, pf
    in_cells = {f"cell={v.strip()}" for v in m.group(1).split(",")}
    assert in_cells == probed


def test_ivf_index_roundtrip_centroids(spark, vectors, tmp_path):
    """Centroids written at build time load back bit-identical, so a query
    process needs no retraining (and cannot drift from the build)."""
    from data_quality_check_spark.sources.tables import TableIO

    _, df = vectors
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    trained = SIM.ivf_build_index(io, df.select("vec_id", "embedding"), "ann", n_centroids=8)
    loaded = SIM.ivf_load_centroids(io, "ann")
    assert np.array_equal(trained, loaded)


def test_neardup_blocked(vectors):
    pdf, df = vectors
    got = SIM.neardup_pairs_blocked(df, threshold=0.98).collect()
    # clustered same-label vectors: plenty of high-cosine pairs, all same label
    assert len(got) > 10
    lab = {r.vec_id: r.label for r in df.select("vec_id", "label").collect()}
    for r in got:
        assert lab[r.id_a] == lab[r.id_b]
        assert r.cosine >= 0.98


# the two labeling paths of connected_components and the cap that selects
# each: the Spark loop takes -1, so that even an empty edge set takes it
CC_CAPS = {"driver": record.BROADCAST_ROWS, "spark": -1}


def _cc(edges, path: str, monkeypatch):
    """connected_components on `path`, checked from its plan: the driver
    path's labels are a local relation, the loop's are not."""
    with monkeypatch.context() as m:
        m.setattr(record, "BROADCAST_ROWS", CC_CAPS[path])
        out = DD.connected_components(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("LocalTableScan" in plan) == (path == "driver"), plan
    return out


def _labels_both_paths(edges, monkeypatch):
    """connected_components' rows (sorted by id, nulls first), which both
    paths must give with the same schema."""
    got = {}
    for path in CC_CAPS:
        out = _cc(edges, path, monkeypatch)
        rows = sorted(map(tuple, out.collect()), key=lambda r: (r[0] is not None, r[0]))
        DD.release_pins()
        got[path] = rows, out.schema
    assert got["driver"] == got["spark"]
    return got["driver"][0]


def test_connected_components_topologies(spark, monkeypatch):
    """Chain (forces multi-round propagation), triangle, and an isolated pair:
    component = min id reachable, regardless of edge direction/order."""
    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11), (11, 12), (10, 12), (21, 20)],
        "id_a long, id_b long",
    )
    got = dict(_labels_both_paths(edges, monkeypatch))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_raises_on_no_convergence(spark, monkeypatch):
    monkeypatch.setattr(DD, "CC_MAX_ROUNDS", 1)
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 8)], "id_a long, id_b long")
    for path in CC_CAPS:
        with pytest.raises(RuntimeError, match="converge"):
            _cc(edges, path, monkeypatch)
        DD.release_pins()


def test_connected_components_paths_agree_on_random_graph(spark, monkeypatch):
    """Seeded random blocks over sparse 40-bit ids (duplicate edges, both
    orientations, a self-loop) plus a shuffled 300-vertex path: the driver
    path and the Spark loop give the same rows and schema, and each vertex
    gets the min id of its union-find component."""
    rng = np.random.default_rng(7)
    ids = rng.choice(1 << 40, size=200, replace=False)
    edges = [
        tuple(int(v) for v in rng.choice(block, 2))
        for block in np.array_split(ids, 8)
        for _ in range(30)
    ]
    path = [(10**12 + i, 10**12 + i + 1) for i in range(299)]
    edges += [e if rng.random() < 0.5 else e[::-1] for e in rng.permutation(path).tolist()]
    edges += [(int(ids[0]), int(ids[0]))]
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    got = _labels_both_paths(spark.createDataFrame(edges, "id_a long, id_b long"), monkeypatch)
    assert got == sorted((v, find(v)) for v in parent)
    assert len({c for _, c in got}) > 2


def test_connected_components_paths_agree_on_empty_edges(spark, monkeypatch):
    assert _labels_both_paths(spark.createDataFrame([], "id_a long, id_b long"), monkeypatch) == []


def test_connected_components_paths_agree_on_null_endpoints(spark, monkeypatch):
    """A null endpoint joins nothing in the Spark loop: it links no vertices
    and yields one (None, min label of its non-null neighbors) row, or
    (None, None) with none. The driver path gives the same rows."""
    edges = spark.createDataFrame(
        [(None, None), (None, 8), (8, 9), (7, 9), (12, None), (20, 21)], "id_a long, id_b long"
    )
    got = _labels_both_paths(edges, monkeypatch)
    assert got == [(None, 7), (7, 7), (8, 7), (9, 7), (12, 12), (20, 20), (21, 20)]
    lone = spark.createDataFrame([(None, None), (4, 5)], "id_a long, id_b long")
    assert _labels_both_paths(lone, monkeypatch) == [(None, None), (4, 4), (5, 4)]


def _transitive_docs(spark):
    return spark.createDataFrame(
        [
            # a-b and b-c are near-dups; a-c only via transitivity → one cluster of 3
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "a quick brown fox jumps over the lazy dog today"),
            (4, "completely unrelated text about spark aggregation plans"),
        ],
        "doc_id long, text string",
    )


def test_neardup_clusters_transitive_and_excludes_singletons(spark):
    docs = _transitive_docs(spark)
    got = DD.neardup_clusters(docs, "doc_id", "text", threshold=0.5, ngram=3).collect()
    by_id = {r.doc_id: (r.component, r.csize) for r in got}
    assert set(by_id) == {1, 2, 3}  # singleton 4 excluded
    assert by_id[1] == by_id[2] == by_id[3] == (1, 3)


def test_neardup_clusters_minhash_matches_exact(spark):
    """The README's headline dedup call: MinHash-LSH pair generation feeds the
    same clustering as the exact-Jaccard pairs, so the clusters agree."""
    docs = _transitive_docs(spark)

    def clusters(fn):
        got = fn(docs, "doc_id", "text", threshold=0.5, ngram=3).collect()
        return sorted(tuple(r) for r in got)

    exact = clusters(DD.neardup_clusters)
    assert exact == [(1, 1, 3), (2, 1, 3), (3, 1, 3)]
    assert clusters(DD.neardup_clusters_minhash) == exact


def test_connected_components_long_path_converges(spark, monkeypatch):
    """Pointer jumping must converge in O(log diameter) rounds: a 300-vertex
    path (diameter 299) finishes far inside the 50-round budget on both
    paths, where pure min-label propagation needed one round per hop and
    crashed at 25 (ADVICE r1). Also checks pins/checkpoints are released
    afterwards."""
    from data_quality_check_spark.record import release_snapshot

    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    edges = spark.range(299).select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    for path in CC_CAPS:
        labels = _cc(edges, path, monkeypatch)
        rows = labels.collect()
        assert len(rows) == 300
        assert all(r["comp"] == 0 for r in rows)
        assert [f.nullable for f in labels.schema] == [False, True]
        DD.release_pins()
        release_snapshot(labels)  # done acting on the result
        # no NEW storage blocks survive (session may carry others' caches)
        assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) <= before, path


def test_embedding_neardup_lsh_recall_on_planted_neardups(spark):
    """Banded SRP (r=14 bits x 20 bands) must recover essentially all planted
    high-cosine near-dup pairs (tiny perturbations, cosine >= 0.999: per-pair
    miss probability ~1e-5) and never emit a pair below the confirm
    threshold."""
    rng = np.random.RandomState(3)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        pert = v + rng.standard_normal(64) * 0.02  # cosine ~0.9998
        rows.append((1000 + i, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = SIM.neardup_pairs_lsh(df, threshold=0.95).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    planted = {(i, 1000 + i) for i in range(40)}
    assert planted <= pairs, planted - pairs
    # exact confirm: nothing below threshold survives
    assert all(r.cosine >= 0.95 for r in got)
    # random 64-dim gaussians are near-orthogonal: no cross-base pair confirms
    assert pairs == planted


def test_lsh_low_threshold_raises(spark):
    """SRP banding cannot prune below ~0.8 (VERDICT r2 item 1) — the operator
    must refuse and name the blocking alternatives, not silently go O(n^2)."""
    df = spark.createDataFrame([(1, [0.0] * 64)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="neardup_pairs_ivf"):
        SIM.neardup_pairs_lsh(df, threshold=0.35)


def test_planted_embeddings_parity(spark, sf_dir):
    """The Spark `transform` construction and the pandas twin of the planted
    gate table must agree BIT-FOR-BIT (the oracle computes signatures from the
    twin's vectors, so any float drift would break the gate)."""
    import pyarrow.parquet as pq

    from data_quality_check_spark import gate_fixtures as GF

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    spark_rows = {
        r.vec_id: r.embedding
        for r in GF.planted_embeddings_df(emb).collect()
    }
    pdf = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas()
    twin = GF.planted_embeddings_pdf(pdf)
    assert len(twin) == len(spark_rows)
    for vid, vec in zip(twin["vec_id"], twin["embedding"]):
        sv = spark_rows[vid]
        assert len(sv) == len(vec)
        for a, b in zip(sv, vec):
            assert a == b, (vid, a, b, a - b)


def test_lsh_candidate_fraction_subquadratic(spark, sf_dir):
    """THE scale property of the banded-SRP near-dup path (VERDICT r2 item 1):
    on the planted gate table the candidate stage must pass <= 5% of all
    n(n-1)/2 pairs (round 2's r=3 config passed ~93%) while still recovering
    every planted near-dup pair at the production threshold."""
    from data_quality_check_spark import gate_fixtures as GF

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    gate = GF.planted_embeddings_df(emb)
    n = gate.count()
    with run_record() as rec:
        got = SIM.neardup_pairs_lsh(gate, threshold=0.9).collect()
        counts = rec.candidates()
    assert "neardup_pairs_lsh" in counts, counts
    frac = counts["neardup_pairs_lsh"] / (n * (n - 1) / 2)
    assert frac <= 0.05, f"candidate fraction {frac:.4f} exceeds 5% — not sub-quadratic"
    # recall 1.0 on the planted pairs (cosine ~0.9987 >> threshold)
    base_ids = [r.vec_id for r in emb.select("vec_id").collect() if r.vec_id % GF.PLANT_EVERY == 0]
    planted = {(i, i + GF.PLANT_ID_OFFSET) for i in base_ids}
    pairs = {(r.id_a, r.id_b) for r in got}
    assert planted <= pairs, planted - pairs


def test_neardup_pairs_ivf_blocks_by_cell(vectors):
    """IVF-cell blocking (the low-threshold path): clustered same-label vectors
    land in shared cells, so their high-cosine pairs surface; every emitted
    pair passes the exact confirm."""
    pdf, df = vectors
    got = SIM.neardup_pairs_ivf(
        df.select("vec_id", "embedding"), threshold=0.9, n_centroids=4
    ).collect()
    assert len(got) > 10
    assert all(r.cosine >= 0.9 for r in got)
    # cells block like labels on this clustered fixture: pairs stay in-label
    lab = {r.vec_id: r.label for r in df.select("vec_id", "label").collect()}
    assert all(lab[r.id_a] == lab[r.id_b] for r in got)


def test_hamming_near_pairs_matches_brute_force(spark):
    """Pigeonhole banding is EXACT (recall 1) for any 64-bit signature column —
    checked against a brute-force popcount over random longs plus planted
    near-dup perturbations (the phash image near-dup path)."""
    rng = np.random.RandomState(7)
    sigs = list(rng.randint(-(2**63), 2**63 - 1, size=60, dtype=np.int64))
    for i in range(0, 20, 2):  # plant pairs at hamming 1-3
        flips = rng.choice(64, size=(i % 3) + 1, replace=False)
        v = sigs[i]
        for f in flips:
            v = np.int64(v ^ np.int64(1) << np.int64(int(f)))
        sigs.append(v)
    rows = [(i, int(s)) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "id long, phash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.hamming_near_pairs(df, "id", "phash", max_hamming=3).collect()
    }
    DD.release_pins()
    expect = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            h = bin((int(sigs[i]) ^ int(sigs[j])) & (2**64 - 1)).count("1")
            if h <= 3:
                expect.add((i, j, h))
    assert got == expect and len(expect) >= 10


def test_hamming_bucket_cap_escalation_bounded_and_exact(spark):
    """VERDICT r2 item 3: adversarial common-chunk signatures (every phash
    shares chunk 0 → one giant one-level bucket) must stay sub-quadratic in
    candidates under bucket_cap escalation while keeping recall EXACTLY 1
    (second-level pigeonhole over the complement bits)."""
    rng = np.random.RandomState(11)
    n = 2000
    common_low16 = 0xBEEF
    highs = rng.randint(0, 2**48, size=n).astype(np.uint64)
    highs = np.unique(highs)[: n - 8]
    sigs = [(int(h) << 16) | common_low16 for h in highs]
    # plant near pairs at hamming 1-3 (bit flips in the high 48 bits)
    for i in range(8):
        v = sigs[i]
        for f in rng.choice(48, size=(i % 3) + 1, replace=False):
            v ^= 1 << (16 + int(f))
        sigs.append(v)
    sigs = [np.int64(np.uint64(s)) for s in sigs]
    n = len(sigs)
    df = spark.createDataFrame(
        [(i, int(s)) for i, s in enumerate(sigs)], "id long, phash long"
    )
    with run_record() as rec:
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in DD.hamming_near_pairs(
                df, "id", "phash", max_hamming=3, bucket_cap=100
            ).collect()
        }
        counts = rec.candidates()
    # brute force ground truth
    arr = np.array([np.uint64(s) for s in sigs], dtype=np.uint64)
    expect = set()
    for i in range(n):
        ham = np.array(
            [bin(int(arr[i] ^ arr[j])).count("1") for j in range(i + 1, n)]
        )
        for off in np.flatnonzero(ham <= 3):
            expect.add((i, i + 1 + int(off), int(ham[off])))
    assert got == expect  # recall exactly 1, no false positives
    total_pairs = n * (n - 1) / 2
    frac = counts["hamming_near_pairs"] / total_pairs
    # without escalation the common chunk alone yields >= 100% of all pairs
    assert frac <= 0.10, f"candidate fraction {frac:.3f} — escalation failed"


def test_dedup_incremental_semantics(spark):
    """Every reason branch of dedup_incremental on a hand-built increment:
    exact_seen beats near_seen, first-id-wins within the increment for both
    exact and near dups, null-text docs are never dups of each other."""
    seen = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a completely different sentence about spark engines"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # exact_seen
            (11, "the quick brown fox jumps over the lazy dog yesterday"),  # near_seen (j=0.8)
            (12, "rain in spain falls mainly on the plain"),  # kept (first of its group)
            (13, "rain in spain falls mainly on the plain"),  # exact_new (dup of 12)
            (14, "rain in spain falls mainly on the plain friends"),  # near_new (j=0.889 vs 12)
            (15, "zzz qqq unique snowflake text vvv www xyz"),  # kept
            (16, None),  # kept — null text has no fingerprint, no shingles
            (17, None),  # kept — NOT an exact dup of 16
        ],
        "doc_id long, text string",
    )
    try:
        got = {
            r["doc_id"]: (r["keep"], r["reason"])
            for r in DD.dedup_incremental(
                new, seen, "doc_id", "text", threshold=0.6, ngram=1
            ).collect()
        }
    finally:
        DD.release_pins()
    assert got == {
        10: (False, "exact_seen"),
        11: (False, "near_seen"),
        12: (True, "kept"),
        13: (False, "exact_new"),
        14: (False, "near_new"),
        15: (True, "kept"),
        16: (True, "kept"),
        17: (True, "kept"),
    }


def test_dedup_incremental_candidate_fraction(spark, sf_dir):
    """Scale property of the incremental path: the MinHash band joins must
    pass only a tiny fraction of the n_new x n_seen (cross) and
    n_new(n_new-1)/2 (self) pair universes — the banded candidate volume is
    what makes increment-vs-corpus dedup sub-quadratic."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    new = docs.filter(F.col("doc_id") % 4 == 0)
    seen = docs.filter(F.col("doc_id") % 4 != 0)
    n_new, n_seen = new.count(), seen.count()
    with run_record() as rec:
        DD.dedup_incremental(new, seen, "doc_id", "text", 0.6, ngram=3).collect()
        counts = rec.candidates()
    assert {"dedup_incremental_cross", "dedup_incremental_self"} <= counts.keys()
    cross_frac = counts["dedup_incremental_cross"] / (n_new * n_seen)
    self_frac = counts["dedup_incremental_self"] / (n_new * (n_new - 1) / 2)
    assert cross_frac <= 0.05, f"cross candidate fraction {cross_frac:.4f}"
    assert self_frac <= 0.05, f"self candidate fraction {self_frac:.4f}"


def test_duplicate_span_stats_semantics(spark):
    """Span accounting: a span shared by >=2 DOCS counts (per occurrence), a
    span repeated only WITHIN one doc does not, whitespace/case variants
    normalize to the same span, and empty docs vanish (no spans)."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-word span
    rows = [
        (1, shared + " tail1 a b c d e f g"),  # span1=shared, span2=tail
        (2, "  " + shared.upper() + "\t extra x y z 1 2 3 4"),  # normalizes
        (3, "self self2 self3 self4 self5 self6 self7 self8 "
            "self self2 self3 self4 self5 self6 self7 self8"),  # within-doc only
        (4, ""),  # no spans -> omitted
        (5, "lone span words here only four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.dup_spans, r.dup_frac)
        for r in DD.duplicate_span_stats(df, "doc_id", "text").collect()
    }
    assert got == {
        1: (2, 1, 0.5),
        2: (2, 1, 0.5),
        3: (2, 0, 0.0),
        5: (1, 0, 0.0),
    }


def test_duplicate_span_stats_gate_paths_identical(spark, monkeypatch):
    """The size-gated broadcast of the dup-span set must not change output:
    force the shuffled-join fallback (record.BROADCAST_ROWS=0) and compare."""
    docs = [(i, f"a b c d e f g h uniq{i} t u v w x y z q") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(
        map(tuple, DD.duplicate_span_stats(df, "doc_id", "text").collect())
    )
    monkeypatch.setattr(record, "BROADCAST_ROWS", 0)
    b = sorted(
        map(tuple, DD.duplicate_span_stats(df, "doc_id", "text").collect())
    )
    DD.release_pins()
    assert a == b
    # 17 words -> 3 spans: the leading 8 words and the final 1-word remnant
    # are corpus-wide duplicates, the uniq{i} middle span is solo
    assert all(r == (r[0], 3, 2, 0.666667) for r in a)


# ── degenerate-vector handling (zero-norm / NULL / ragged) ──


def test_similarity_ops_survive_degenerate_vectors(spark):
    """A zero-norm vector must not abort the job (ANSI DIVIDE_BY_ZERO) or rank
    as NaN-top-1; NULL and wrong-width vectors must degrade to absent, never
    occupy top-k rank slots or pollute an SRP bucket."""
    import pandas as pd

    from data_quality_check_spark.operators.dedup import release_pins
    from data_quality_check_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk,
        neardup_pairs_blocked,
    )

    rows = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4, 5],
            "embedding": [
                [1.0, 0.0, 0.0, 0.0],
                [0.9, 0.1, 0.0, 0.0],
                [0.0, 0.0, 0.0, 0.0],  # zero norm
                None,  # NULL
                [1.0, 0.0, 0.0],  # ragged (3-dim)
            ],
            "label": ["a"] * 5,
        }
    )
    df = spark.createDataFrame(rows)
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [100], "qvec": [[1.0, 0.0, 0.0, 0.0]]})
    )

    got = cosine_topk(df, q, k=5).toPandas()
    assert set(got["vec_id"]) == {1, 2}  # degenerates absent, not ranked
    assert got["cosine"].notna().all()

    lsh = ann_lsh_topk(df, q, k=5, n_bits=4, dim=4).toPandas()
    assert set(lsh["vec_id"]) <= {1, 2} and lsh["cosine"].notna().all()

    pairs = neardup_pairs_blocked(df, threshold=0.5, block_col="label").toPandas()
    release_pins()
    assert {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])} == {(1, 2)}


def test_ivf_assignment_ignores_batch_composition(spark):
    """A corrupt-majority batch must not out-vote valid rows: the expected
    dimension comes from the centroids, never from the batch's modal length."""
    import numpy as np
    import pandas as pd

    from data_quality_check_spark.operators.similarity import ivf_assign_udf

    cents = np.eye(4)[:2]  # 2 centroids, dim 4
    vals = [[0.5, 0.5, 0.5] for _ in range(60)] + [  # 60 corrupt 3-dim rows
        [1.0, 0.0, 0.0, 0.0] for _ in range(40)  # 40 valid 4-dim rows
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(100), "embedding": vals})
    ).coalesce(1)
    got = (
        df.withColumn("cell", ivf_assign_udf(cents)("embedding"))
        .toPandas()
        .sort_values("vec_id")
    )
    assert got["cell"].iloc[:60].isna().all()  # corrupt rows: no cell
    assert (got["cell"].iloc[60:] == 0).all()  # valid rows keep their cell


def test_run_record_isolates_and_releases(spark, docs):
    """VERDICT r3 item 8: pins made inside a run record register to it (not
    the thread's ambient record) and are released on exit; pins made outside
    any record drain through release_pins(); concurrent threads each keep
    their own record and compute the single-thread answer."""
    import threading

    from data_quality_check_spark.operators.dedup import release_pins

    pdf, df = docs
    release_pins()
    # pin inside a record: the ambient record is untouched, the pin is
    # released (uncached) on exit
    with run_record() as rec:
        pinned = current().pin(df.select("doc_id"))
        pinned.count()
        assert pinned.storageLevel.useMemory
        assert any(p is pinned for p in rec.pins)
        assert all(p is not pinned for p in ambient().pins)
    assert not pinned.storageLevel.useMemory
    assert rec.pins == []
    # outside any record, pins go to the ambient record and release_pins
    # drains it
    g = current().pin(df.select("doc_id"))
    assert any(p is g for p in ambient().pins)
    assert release_pins() >= 1
    assert ambient().pins == []

    # a nested record releases its own pins and hands its steps and candidate
    # observations to the enclosing record
    with run_record() as outer:
        with run_record() as inner:
            with inner.step("probe"):
                inner.observe_candidates(df.select("doc_id"), "probe_op")
            inner_pin = inner.pin(df.select("doc_id"))
        assert not inner_pin.storageLevel.useMemory
        assert [name for name, _ in outer.steps] == ["probe"]
        assert set(outer.observations) == {"probe_op"}

    # two threads, each in its own record, run pinned self-join queries
    # concurrently and both get the single-thread answer and only their own
    # candidate observation
    want = sorted(
        (r.id_a, r.id_b)
        for r in DD.minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=32, bands=16, threshold=0.5, ngram=1
        ).collect()
    )
    release_pins()  # the `want` run pinned to the ambient record — drain it
    results, records, errors = {}, {}, []

    def run(tag):
        try:
            with run_record() as rec:
                got = sorted(
                    (r.id_a, r.id_b)
                    for r in DD.minhash_lsh_pairs(
                        df, "doc_id", "text",
                        num_hashes=32, bands=16, threshold=0.5, ngram=1,
                    ).collect()
                )
                results[tag] = got
                records[tag] = rec
                assert ambient().pins == []
        except Exception as e:  # surfaced below — a thread must not die silently
            errors.append((tag, repr(e)))

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join(timeout=600) for t in ts]
    assert not any(t.is_alive() for t in ts)
    assert not errors, errors
    assert results[0] == results[1] == want
    assert records[0].observations["minhash_lsh_pairs"] is not (
        records[1].observations["minhash_lsh_pairs"]
    )
    assert records[0].pins == records[1].pins == []
    assert ambient().pins == []  # nothing leaked into this thread's ambient record


def test_duplicate_span_rewrite_semantics(spark):
    """Rewrite keeps exactly the corpus-global first occurrence of each span:
    cross-doc duplicates drop in the later doc, WITHIN-doc repeats drop after
    the first, a full-copy doc rewrites to '', unique docs pass through, and
    empty docs vanish (no spans) — mirroring duplicate_span_stats."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    d1 = shared + " tail1 a b c d e f g"
    rows = [
        (1, d1),
        (2, "  " + shared.upper() + "\t extra x y z 1 2 3 4"),
        (3, "self self2 self3 self4 self5 self6 self7 self8 "
            "self self2 self3 self4 self5 self6 self7 self8"),
        (4, ""),
        (5, "lone span words here only four five six"),
        (6, d1.upper()),  # exact normalized copy of doc 1 -> everything drops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.kept_spans, r.text_rewritten)
        for r in DD.duplicate_span_rewrite(df, "doc_id", "text").collect()
    }
    assert got == {
        1: (2, 2, d1),
        2: (2, 1, "extra x y z 1 2 3 4"),
        3: (2, 1, "self self2 self3 self4 self5 self6 self7 self8"),
        5: (1, 1, "lone span words here only four five six"),
        6: (2, 0, ""),
    }


def test_duplicate_span_rewrite_matches_python_twin(spark, sf_dir):
    """On real fixture text the rewrite must match an independent driver-side
    re-implementation EXACTLY (same normalization + greedy chunk regex via
    Python `re`, same global smallest-(id,pos) first-occurrence rule) —
    including within-doc repeats, which duplicate_span_stats deliberately does
    NOT count (its dup rule is >=2 distinct DOCS), so a stats-based invariant
    would be both weaker and wrong on intra-doc-only repeats."""
    import re as _re

    rows = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300).select(
        "doc_id", "text"
    ).collect()
    pat = _re.compile(r"(?:\S+ ){0,7}\S+")
    spans = []  # (doc_id, pos, span)
    for r in rows:
        norm = _re.sub(r"\s+", " ", r.text or "").strip().lower()
        for pos, s in enumerate(pat.findall(norm)):
            spans.append((r.doc_id, pos, s))
    first = {}
    for did, pos, s in sorted(spans):
        first.setdefault(s, (did, pos))
    want = {}
    for did, pos, s in spans:
        n, kept, parts = want.get(did, (0, 0, []))
        if first[s] == (did, pos):
            kept += 1
            parts = parts + [(pos, s)]
        want[did] = (n + 1, kept, parts)
    want = {
        did: (n, kept, " ".join(s for _, s in sorted(parts)))
        for did, (n, kept, parts) in want.items()
    }

    # build the Spark input from the SAME collected rows (a second limit(300)
    # on the scan is not guaranteed to pick the same subset)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.kept_spans, r.text_rewritten)
        for r in DD.duplicate_span_rewrite(df, "doc_id", "text").collect()
    }
    assert got == want


def test_semdedup_election_and_components(vectors):
    """SemDeDup: one keeper per component; the keeper is the member LEAST
    similar to its centroid (ties by id); centroid cosines match a driver
    numpy recomputation through the same kernels."""
    pdf, df = vectors
    out = SIM.semdedup(
        df.select("vec_id", "embedding"), threshold=0.9, n_centroids=4
    ).collect()
    DD.release_pins()
    assert out, "clustered fixture must produce dup groups at τ=0.9"
    by_comp: dict[int, list] = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        assert len(members) >= 2  # singletons are not emitted
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        want = min((r.centroid_cosine, r.vec_id) for r in members)
        assert (keepers[0].centroid_cosine, keepers[0].vec_id) == want
        assert comp == min(r.vec_id for r in members)  # min-label components
    # centroid cosines = the shared kernels run driver-side
    cents = SIM.ivf_train_centroids(df, n_centroids=4)
    x, mask = SIM._unit_rows(pdf["embedding"], dim=cents.shape[1])
    sims = SIM._centroid_sims(x, cents).max(axis=1)
    expect = dict(zip(pdf["vec_id"][mask], np.round(sims, 4)))
    for r in out:
        assert r.centroid_cosine == pytest.approx(expect[r.vec_id], abs=1e-9)


def test_ivf_append_equals_frozen_rebuild(spark, vectors, tmp_path):
    """Daily-crawl index maintenance: build(A) + append(B) must equal
    build(A∪B, centroids=frozen) — same vectors table (row set AND cell
    assignment), same indexed query answers, centroids untouched."""
    from data_quality_check_spark.sources.tables import TableIO

    _, df = vectors
    base = df.select("vec_id", "embedding")
    half_a = base.filter(F.col("vec_id") % 2 == 0)
    half_b = base.filter(F.col("vec_id") % 2 == 1)

    io = TableIO(spark, warehouse=str(tmp_path / "wh_inc"))
    cents = SIM.ivf_build_index(io, half_a, "ann", n_centroids=8)
    SIM.ivf_append_index(io, half_b, "ann")
    assert np.array_equal(SIM.ivf_load_centroids(io, "ann"), cents)

    io2 = TableIO(spark, warehouse=str(tmp_path / "wh_full"))
    SIM.ivf_build_index(io2, base, "ann", centroids=cents)

    rows = lambda io_: sorted(
        (r.id, r.cell, round(r.nrm, 9)) for r in io_.read("ann.vectors").collect()
    )
    assert rows(io) == rows(io2)

    queries = df.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = SIM.ann_ivf_topk_indexed(io, "ann", queries, k=5, nprobe=3).collect()
    want = SIM.ann_ivf_topk_indexed(io2, "ann", queries, k=5, nprobe=3).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_prototype_prune_ranking_matches_numpy(vectors):
    """SSL-prototypes pruning: per-cell top-m by 4-dp centroid cosine DESC
    (id ASC ties) must match a driver numpy recomputation through the same
    kernels; no cell emits more than m rows; ranks are 1..|emitted|."""
    pdf, df = vectors
    m = 7
    out = SIM.prototype_prune_candidates(
        df.select("vec_id", "embedding"), n_centroids=4, m=m
    ).collect()
    cents = SIM.ivf_train_centroids(df, n_centroids=4)
    x, mask = SIM._unit_rows(pdf["embedding"], dim=cents.shape[1])
    sims = SIM._centroid_sims(x, cents)
    cell = sims.argmax(axis=1)
    best = np.round(sims[np.arange(len(x)), cell], 4)
    ids = pdf["vec_id"][mask].to_numpy()
    expect: dict[int, list] = {}
    for c in sorted(set(cell)):
        members = sorted(
            [(float(-best[j]), int(ids[j])) for j in range(len(ids)) if cell[j] == c]
        )
        expect[int(c)] = [(i, -s) for s, i in members[:m]]
    got: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.cell, r.proto_rank)):
        got.setdefault(r.cell, []).append((r.vec_id, r.centroid_cosine))
    assert got == {c: v for c, v in expect.items() if v}
    for rows in got.values():
        assert len(rows) <= m


def test_prototype_prune_plan_uses_window_group_limit(vectors):
    """The per-cell top-m must ship ≤m rows per cell per map task into the
    cell shuffle (WindowGroupLimit partial+final), and the only Python node
    is the single Arrow assignment projection."""
    _, df = vectors
    out = SIM.prototype_prune_candidates(
        df.select("vec_id", "embedding"), n_centroids=4, m=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan


def test_soft_dedup_weights_every_row_weighted(spark):
    """Every row appears exactly once; duplicated content shares one unit of
    mass (Σ weight over a dup group = 1); whitespace-normalized equality
    drives the fingerprint; uniques weigh exactly 1.0."""
    rows = [
        (1, "same  text"),
        (2, "same text"),     # ws-normalized dup of 1
        (3, " same text "),   # and of 2
        (4, "unique here"),
        (5, None),
        (6, None),            # null texts share a fingerprint group
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in DD.soft_dedup_weights(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert all(out[i]["dup_count"] == 3 and out[i]["weight"] == 1 / 3 for i in (1, 2, 3))
    assert out[4]["dup_count"] == 1 and out[4]["weight"] == 1.0
    assert out[5]["dup_count"] == 2 == out[6]["dup_count"]
    total = sum(r["weight"] for r in out.values())
    assert abs(total - 3.0) < 1e-12  # 3 distinct contents → 3 units of mass


def test_prototype_prune_excludes_dim_mismatched_vectors(spark):
    """A vector whose width differs from the centroids' must be excluded
    (review fix: the NULL-cell partition used to rank garbage rows)."""
    rows = [(i, [float(i), 1.0, 0.5, 0.2]) for i in range(20)]
    rows.append((100, [1.0, 2.0]))  # wrong width
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.prototype_prune_candidates(df, n_centroids=2, m=50).collect()
    assert 100 not in {r.vec_id for r in out}
    assert all(r.cell is not None and r.centroid_cosine is not None for r in out)


def test_containment_catches_asymmetric_pair(spark):
    """A short doc fully contained in a long host: containment 1.0 but
    Jaccard well under the pair gate — `containment_pairs` must surface it
    and `jaccard_pairs` (at the same corpus threshold) must not."""
    host = " ".join(f"w{i}" for i in range(40))
    short = " ".join(f"w{i}" for i in range(12))  # prefix → shingle subset
    other = " ".join(f"z{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, host), (2, short), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in DD.containment_pairs(df, "doc_id", "text", 0.9, ngram=3).collect()
    }
    assert (1, 2) in got and len(got) == 1
    pair = got[(1, 2)]
    assert pair["containment"] == 1.0
    # 10 shingles in the short doc, 38 in the host, all 10 shared
    assert pair["jaccard"] == pytest.approx(10 / 38, abs=1e-6)
    jac = DD.jaccard_pairs(df, "doc_id", "text", 0.6, ngram=3).collect()
    assert jac == [], "the asymmetric pair must be invisible to Jaccard@0.6"


def test_containment_max_token_df_guard(spark):
    """The stop-shingle guard drops ubiquitous shingles before the pair join
    (prefix filtering) without inventing pairs."""
    boiler = "the same boilerplate header every page carries"
    rows = [(i, f"{boiler} unique tail {i} {'x'*i}") for i in range(1, 7)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = DD.containment_pairs(df, "doc_id", "text", 0.7, ngram=3).collect()
    guarded = DD.containment_pairs(
        df, "doc_id", "text", 0.7, max_token_df=3, ngram=3
    ).collect()
    # every doc shares the boilerplate shingles -> full sees high containment;
    # with candidate generation restricted to shingles of df<=3, docs sharing
    # ONLY boilerplate produce no candidates -> no pairs (documented recall
    # loss; never inflated measures)
    assert len(full) > 0
    assert guarded == []


def test_containment_prefix_filter_never_distorts_measures(spark):
    """Pairs that DO survive the prefix filter must carry the identical
    full-set containment/jaccard as the unfiltered run — the filter may only
    drop pairs, never change values (classic prefix-filter semantics)."""
    rows = [
        (1, "common base words here plus alpha beta gamma delta"),
        (2, "common base words here plus alpha beta gamma epsilon"),
        (3, "common base words here plus zeta eta theta iota"),
        (4, "totally different content with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in DD.containment_pairs(df, "doc_id", "text", 0.5, ngram=3).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in DD.containment_pairs(
            df, "doc_id", "text", 0.5, max_token_df=2, ngram=3
        ).collect()
    }
    assert guarded, "rare-shingle pairs must survive the filter"
    for pair, vals in guarded.items():
        assert full[pair] == vals, (pair, full[pair], vals)
    assert set(guarded) <= set(full)


def test_novelty_scores_hand_case(spark):
    """Novelty fractions on engineered overlap: fully-seen doc -> 0.0,
    fully-novel doc -> 1.0, half-overlap in between; shingle-less docs
    are excluded."""
    seen = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # identical: novelty 0
            (2, "one two three four five six"),          # disjoint: novelty 1
            # 4 shingles: 'gamma delta epsilon' + 'delta epsilon zeta' seen,
            # 'epsilon zeta nine' + 'zeta nine ten' novel
            (3, "gamma delta epsilon zeta nine ten"),
            (4, "too short"),                            # <3 words: excluded
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in DD.novelty_scores(new, seen, "doc_id", "text", ngram=3).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1]["novelty_frac"] == 0.0 and got[1]["n_seen"] == 4
    assert got[2]["novelty_frac"] == 1.0 and got[2]["n_seen"] == 0
    assert got[3]["n_shingles"] == 4 and got[3]["n_seen"] == 2
    assert got[3]["novelty_frac"] == 0.5


def test_topk_recall_hand_case(spark):
    """Recall arithmetic incl. the empty-approx-bucket query."""
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)], ["query_id", "vec_id"]
    )
    approx = spark.createDataFrame(
        # q1 perfect, q2 half (one wrong id), q3 returned nothing
        [(1, 10), (1, 11), (2, 20), (2, 99)], ["query_id", "vec_id"]
    )
    got = {r["query_id"]: r.asDict() for r in SIM.topk_recall(approx, exact).collect()}
    assert got[1]["recall"] == 1.0 and got[1]["hits"] == 2
    assert got[2]["recall"] == 0.5 and got[2]["k_exact"] == 2
    assert got[3]["recall"] == 0.0 and got[3]["hits"] == 0


def test_containment_banded_subset_of_exact_with_high_recall(spark):
    """The banded containment path returns a subset of the exact pairs with
    identical values on every pair it keeps, and on moderate-asymmetry data
    (prefix halves, Jaccard ~0.5) recall stays near 1 while the candidate
    stage is sub-quadratic."""
    import pandas as pd

    rng = __import__("numpy").random.RandomState(5)
    words = lambda n, tag: " ".join(f"{tag}{rng.randint(0, 50_000)}" for _ in range(n))
    rows = [(i, words(40, f"d{i}_")) for i in range(300)]
    # plant prefix halves: containment ~1 at jaccard ~0.5
    planted = [
        (1000 + i, " ".join(rows[i][1].split()[:20])) for i in range(0, 300, 10)
    ]
    df = spark.createDataFrame(rows + planted, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
        for r in DD.containment_pairs(df, "doc_id", "text", 0.9, ngram=3).collect()
    }
    with run_record() as rec:
        banded = {
            (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
            for r in DD.containment_pairs_banded(
                df, "doc_id", "text", 0.9, ngram=3
            ).collect()
        }
        counts = rec.candidates()
    assert set(banded) <= set(exact)
    for pair, vals in banded.items():
        assert exact[pair] == vals
    # the planted pairs sit at jaccard ~0.5 -> per-pair recall ~0.996
    assert len(exact) >= 30
    assert len(banded) / len(exact) >= 0.9
    # candidate stage saw far fewer than all pairs
    n = 330
    frac = counts["containment_banded"] / (n * (n - 1) / 2)
    assert frac < 0.05, frac


def test_ivf_maintenance_appends_in_distribution_rebuilds_on_drift(
    spark, vectors, tmp_path
):
    """VERDICT r4 task 5: the PSI monitor on cell assignments gates the fold —
    an in-distribution increment appends under frozen centroids (O(increment));
    a shifted one triggers a retrain-rebuild; indexed answers stay correct
    (== exhaustive-probe truth) through both transitions. Every action
    releases its pins: the session's persisted-RDD count is unchanged."""
    from data_quality_check_spark.sources.tables import TableIO

    rng = np.random.RandomState(5)
    centers = rng.standard_normal((4, 16)) * 3
    _, df = vectors
    base = df.select("vec_id", "embedding")
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    SIM.ivf_build_index(io, base, "ann", n_centroids=4)

    def maintain(inc, **kw):
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()  # a snapshot: re-read after
        rep = SIM.ivf_maintenance(io, inc, "ann", psi_threshold=0.2, **kw)
        assert jsc.getPersistentRDDs().size() == before, rep["action_taken"]
        return rep

    def check_index_answers(corpus_df):
        # nprobe == n_centroids probes every cell: the indexed answer must
        # then equal brute-force cosine top-k over the same corpus
        queries = corpus_df.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        got = SIM.ann_ivf_topk_indexed(io, "ann", queries, k=4, nprobe=4)
        want = SIM.cosine_topk(corpus_df, queries, k=4)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    # in-distribution increment: same 4 clusters, new ids
    in_rows = [
        (
            1000 + i,
            [float(x) for x in centers[i % 4] + rng.standard_normal(16) * 0.3],
        )
        for i in range(60)
    ]
    in_df = spark.createDataFrame(in_rows, "vec_id long, embedding array<double>")
    # report mode folds NOTHING even below the threshold (a dry run that
    # appended would double-store the increment when the real call follows)
    dry0 = maintain(in_df, action="report")
    assert not dry0["drifted"] and dry0["action_taken"] == "reported"
    assert io.read("ann.vectors").count() == 120
    rep = maintain(in_df)
    assert not rep["drifted"] and rep["action_taken"] == "appended"
    assert rep["psi"] < 0.2 and rep["n_new"] == 60 and rep["n_index"] == 120
    assert io.read("ann.vectors").count() == 180
    check_index_answers(base.unionByName(in_df))

    # shifted increment: one brand-new far-away cluster -> mass concentrates
    # in a single frozen cell -> PSI blows past the threshold -> rebuild
    far = rng.standard_normal(16) * 3 + 25.0
    out_rows = [
        (2000 + i, [float(x) for x in far + rng.standard_normal(16) * 0.3])
        for i in range(60)
    ]
    out_df = spark.createDataFrame(out_rows, "vec_id long, embedding array<double>")
    # report-only first: measured, nothing folded, nothing rewritten
    dry = maintain(out_df, action="report")
    assert dry["drifted"] and dry["action_taken"] == "reported"
    assert io.read("ann.vectors").count() == 180
    old_cents = SIM.ivf_load_centroids(io, "ann")
    rep2 = maintain(out_df)
    assert rep2["drifted"] and rep2["action_taken"] == "rebuilt"
    assert rep2["psi"] >= 0.2
    assert io.read("ann.vectors").count() == 240
    assert not np.array_equal(SIM.ivf_load_centroids(io, "ann"), old_cents)
    check_index_answers(base.unionByName(in_df).unionByName(out_df))
    DD.release_pins()


def test_ivf_index_refuses_forged_format_version(spark, vectors, tmp_path):
    """VERDICT r4 task 7: an index stamped by an unknown (later) code revision
    is refused with a rebuild hint — never silently misread. A pre-stamp index
    (no .meta table) still reads as the version-1 layout."""
    from data_quality_check_spark.sources.tables import TableIO

    _, df = vectors
    base = df.select("vec_id", "embedding")
    io = TableIO(spark, warehouse=str(tmp_path / "wh"))
    SIM.ivf_build_index(io, base, "ann", n_centroids=4)
    meta = io.read("ann.meta").collect()[0]
    assert meta["format_version"] == SIM.IVF_INDEX_FORMAT_VERSION

    # pre-stamp index: dropping the meta table must keep everything working
    import shutil

    meta_dir = os.path.join(str(tmp_path / "wh"), "ann", "meta")
    shutil.rmtree(meta_dir)
    assert SIM.ivf_load_centroids(io, "ann").shape == (4, 16)

    # forged/future version: refused with the rebuild hint
    forged = spark.createDataFrame(
        [(99, 4, 16)], "format_version int, n_centroids int, dim int"
    )
    io.overwrite(forged, "ann.meta")
    with pytest.raises(ValueError, match="format_version 99.*ivf_build_index"):
        SIM.ivf_load_centroids(io, "ann")
    with pytest.raises(ValueError, match="format_version 99"):
        SIM.ivf_append_index(io, base, "ann")


def test_containment_asym_short_in_long_recall_and_exactness(spark):
    """VERDICT r4 task 1: the extreme-asymmetry containment route. Planted
    short-in-long pairs at size ratio ρ ≈ 14 (where the banded path's recall
    envelope has collapsed) must come back with recall 1.0 ≥ 0.95, every
    value exact on the full shingle sets (== the exact operator), and a
    candidate fraction well under 5%."""
    rng = np.random.RandomState(17)
    words = lambda n, tag: " ".join(f"{tag}{rng.randint(0, 50_000)}" for _ in range(n))
    hosts = [(i, words(60, f"d{i}_")) for i in range(300)]
    # every 10th host quoted: short doc = its first 6 words -> 4 trigram
    # shingles vs the host's 58 (ρ = 14.5), containment 1.0, jaccard ~0.07
    planted = [(1000 + i, " ".join(hosts[i][1].split()[:6])) for i in range(0, 300, 10)]
    df = spark.createDataFrame(hosts + planted, ["doc_id", "text"])

    with run_record() as rec:
        got = {
            (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
            for r in DD.containment_pairs_asym(
                df, "doc_id", "text", 0.9, ngram=3, min_size_ratio=10.0
            ).collect()
        }
        counts = rec.candidates()
        exact = {
            (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
            for r in DD.containment_pairs(df, "doc_id", "text", 0.9, ngram=3).collect()
        }

    expect_pairs = {(i, 1000 + i) for i in range(0, 300, 10)}
    # recall 1.0 on the planted extreme-asymmetry pairs, values exact
    assert expect_pairs <= set(got)
    for pair in expect_pairs:
        assert got[pair] == exact[pair]
        assert got[pair][0] == 1.0  # full containment
        assert got[pair][1] < 0.15  # deep below any Jaccard gate
    # nothing beyond the exact operator's answer (ratio-restricted subset)
    assert set(got) <= set(exact)
    for pair, vals in got.items():
        assert exact[pair] == vals
    # candidate stage saw far fewer than all pairs
    n = 330
    frac = counts["containment_asym"] / (n * (n - 1) / 2)
    assert frac < 0.05, frac

    # the banded path is honestly blind at this asymmetry — the measured gap
    # this route exists to close
    banded = set(
        (r["id_a"], r["id_b"])
        for r in DD.containment_pairs_banded(
            df, "doc_id", "text", 0.9, ngram=3
        ).collect()
    )
    DD.release_pins()
    assert len(banded & expect_pairs) / len(expect_pairs) < 0.3


def test_containment_asym_unrestricted_equals_exact(spark):
    """Without the size-ratio knob the prefix-filtered operator IS the exact
    containment join — identical pair set and values on a corpus with dup,
    near-dup, contained, and disjoint docs (the recall-1.0 pigeonhole claim,
    checked end-to-end)."""
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),  # dup of 1
        (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # near
        (4, "alpha beta gamma delta"),  # contained prefix of 1
        (5, "totally different words in this unrelated document here now"),
        (6, None),
        (7, "xx"),  # too short for trigrams -> no shingles
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.5, 0.9):
        got = sorted(
            tuple(r)
            for r in DD.containment_pairs_asym(
                df, "doc_id", "text", t, ngram=3
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in DD.containment_pairs(df, "doc_id", "text", t, ngram=3).collect()
        )
        assert got == want and len(want) > 0, t
    DD.release_pins()
