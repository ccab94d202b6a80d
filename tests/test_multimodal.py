"""Multimodal plumbing: image feature extraction, alignment and caption audits.

The image "decode" is the repo's deterministic codec family (pipeline/codecs.py);
what these tests pin down is the REAL Spark-side plumbing: Arrow UDF shapes, the
feature-vector → similarity-operator integration, and the single-pass plans of
the caption/image audits.
"""

import numpy as np
from pyspark.sql import functions as F

from data_quality_check_spark.functions import multimodal as MM
from data_quality_check_spark.operators import similarity as SIM
from data_quality_check_spark.pipeline import codecs


def _img(seed: int, h: int = 24, w: int = 32) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)


def test_feature_vectors_drive_similarity(spark):
    """Feature vectors feed the similarity operators: a jpeg re-encode of an
    image is its top-1 cosine neighbor; unrelated images score far lower."""
    imgs = {i: _img(100 + i) for i in range(6)}
    rows = [(f"img{i}", bytearray(codecs.encode(a, "png"))) for i, a in imgs.items()]
    rows.append(("img0_jpeg", bytearray(codecs.encode(imgs[0], "jpeg"))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    feats = df.select(
        "image_id", MM.feature_vector_udf(grid=4)(F.col("bytes")).alias("embedding")
    )
    assert feats.schema["embedding"].dataType.simpleString() == "array<float>"
    q = feats.filter(F.col("image_id") == "img0_jpeg").select(
        F.col("image_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = SIM.cosine_topk(
        feats, q, k=1, id_col="image_id", vec_col="embedding"
    ).collect()
    assert top[0].image_id == "img0" and top[0].cosine >= 0.999


def test_feature_vector_null_on_corrupt(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"xx"))], "image_id string, bytes binary"
    )
    row = df.select(MM.feature_vector_udf()(F.col("bytes")).alias("f")).first()
    assert row.f is None


def test_phash_hamming_neardup_finds_injected_image_dups(spark):
    """The image-axis near-dup path: hamming_near_pairs over the fixture's
    phash column recovers the injected near-dup groups (re-encoded copies
    share the leader's phash → hamming 0), and every reported pair verifies
    against a driver-side popcount."""
    from data_quality_check_spark.operators.dedup import hamming_near_pairs, release_pins
    from data_quality_check_spark.pipeline.fixtures import generate_images_pdf

    pdf = generate_images_pdf(n=400, dup_rate=0.05)
    sig = pdf.groupby("image_id", as_index=False).first()[["image_id", "phash"]]
    df = spark.createDataFrame(sig)
    got = hamming_near_pairs(df, "image_id", "phash", max_hamming=2).collect()
    release_pins()
    by_hash = sig.groupby("phash")["image_id"].apply(list)
    expect = set()
    for ids in by_hash:
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                expect.add((ids[i], ids[j]))
    assert expect, "fixture should inject shared-phash near-dup groups"
    got_pairs = {(r.id_a, r.id_b) for r in got}
    assert expect <= got_pairs
    ph = dict(zip(sig["image_id"], sig["phash"]))
    for r in got:
        h = bin((int(ph[r.id_a]) ^ int(ph[r.id_b])) & (2**64 - 1)).count("1")
        assert h == r.hamming and h <= 2


# ── cross-modal alignment (functions/alignment.py) ──


def test_alignment_kernel_batch_invariant():
    """A row's score must not depend on its batch neighbours (the oracle twin
    scores ONE driver batch while Spark streams many Arrow batches). Includes
    the adversarial shapes: empty caption, <3-byte caption, batch boundary."""
    import numpy as np

    from data_quality_check_spark.functions.alignment import alignment_scores

    texts = ["the quick brown fox", "", "ab", "jumps over", "the lazy dog", "ab ab ab"]
    hashes = np.array([5, 0, 7, 123456789, 2**59 - 11, 42], dtype=np.int64)
    full = alignment_scores(texts, hashes)
    for cut in (1, 2, 3, 5):
        parts = np.concatenate(
            [
                alignment_scores(texts[:cut], hashes[:cut]),
                alignment_scores(texts[cut:], hashes[cut:]),
            ]
        )
        assert np.array_equal(full, parts), f"batch split at {cut} changed scores"


def test_alignment_empty_caption_is_unaligned_at_any_threshold():
    import numpy as np

    from data_quality_check_spark.functions.alignment import (
        EMPTY_CAPTION_SCORE,
        alignment_scores,
    )

    got = alignment_scores(["", "xy"], np.array([99, 99], dtype=np.int64))
    # <3 bytes → no trigrams → undefined cosine → sentinel below any real
    # cosine, so `aligned = score >= τ` is false even at the default τ=0
    assert got[0] == EMPTY_CAPTION_SCORE == -1.0 and got[1] == EMPTY_CAPTION_SCORE


def test_with_alignment_matches_kernel(spark):
    import numpy as np

    from data_quality_check_spark.functions.alignment import (
        alignment_scores,
        with_alignment,
    )
    from data_quality_check_spark.pipeline.fixtures import generate_images_pdf

    pdf = generate_images_pdf(n=300, dup_rate=0.0)[["image_id", "caption", "phash"]]
    df = spark.createDataFrame(pdf).repartition(7)  # force multiple Arrow batches
    got = (
        with_alignment(df, "caption", "phash", threshold=0.0)
        .select("image_id", "align_score", "aligned")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = alignment_scores(
        pdf["caption"].fillna("").tolist(), pdf["phash"].to_numpy(np.int64)
    )
    order = pdf["image_id"].argsort().to_numpy()
    assert np.array_equal(got["align_score"].to_numpy(), want[order])
    assert (got["aligned"].to_numpy() == (want[order] >= 0.0)).all()


def test_with_alignment_null_phash_is_unaligned(spark):
    """A NULL phash is a MISSING image signature: it must take the sentinel
    (unaligned at any threshold), not score as a fabricated all-zero-bits
    image that could pass a loose threshold."""
    import pandas as pd

    from data_quality_check_spark.functions.alignment import (
        UNALIGNED_SENTINEL,
        with_alignment,
    )

    pdf = pd.DataFrame(
        {"image_id": ["a", "b"], "caption": ["the cat sat", "the cat sat"],
         "phash": pd.array([None, 12345], dtype="Int64")}
    )
    got = (
        with_alignment(spark.createDataFrame(pdf), "caption", "phash", threshold=-0.5)
        .toPandas()
        .set_index("image_id")
    )
    assert got.loc["a", "align_score"] == UNALIGNED_SENTINEL
    assert not got.loc["a", "aligned"]  # even at a loose threshold
    assert got.loc["b", "align_score"] > UNALIGNED_SENTINEL


def test_image_embedding_neardup_planted_recall(spark):
    """Every planted re-encoded copy (id % 10 == 9 → copy of id−1) must
    surface as a near-dup pair at cosine ≥ 0.999, and the banded candidate
    stage must stay a small fraction of all pairs (the sub-quadratic claim)."""
    from data_quality_check_spark.gate_fixtures import (
        IMG_BYTES_EVERY,
        IMG_FEATURE_GRID,
        centered_image_embeddings,
        synthetic_image_bytes_df,
    )
    from data_quality_check_spark.record import run_record

    n = 400
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    # the SAME embed-and-center chain the registered query runs (shared helper)
    centered = centered_image_embeddings(synthetic_image_bytes_df(docs))
    with run_record() as rec:
        pairs = SIM.neardup_pairs_lsh(
            centered, threshold=0.9, dim=IMG_FEATURE_GRID * IMG_FEATURE_GRID
        ).collect()
    got = {(r.id_a, r.id_b): r.cosine for r in pairs}
    planted = [
        (i - 1, i) for i in range(n) if i % IMG_BYTES_EVERY == IMG_BYTES_EVERY - 1 and i > 0
    ]
    for p in planted:
        assert p in got, f"planted pair {p} missed"
        assert got[p] >= 0.999
    cand = rec.candidates().get("neardup_pairs_lsh")
    assert cand is not None
    assert cand / (n * (n - 1) / 2) <= 0.05


def test_image_payload_kernel_properties(spark):
    """Payload determinism + the dup construction: the copy decodes to within
    the lossy quantization step of its base, distinct ids decode to genuinely
    different block patterns, and the kernel is executor/driver identical."""
    from data_quality_check_spark.gate_fixtures import (
        image_payload,
        synthetic_image_bytes_df,
        synthetic_image_bytes_pdf,
    )

    b9, f9 = image_payload(9)
    b8, _ = image_payload(8)
    a9, a8 = codecs.decode(b9), codecs.decode(b8)
    assert f9 == "jpeg"
    assert a9.shape == a8.shape
    assert np.abs(a9.astype(int) - a8.astype(int)).max() <= codecs.JPEG_Q
    a0, a1 = codecs.decode(image_payload(0)[0]), codecs.decode(image_payload(1)[0])
    assert np.abs(a0.astype(int) - a1.astype(int)).max() > 50  # different patterns

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    got = synthetic_image_bytes_df(docs).orderBy("image_id").collect()
    want = synthetic_image_bytes_pdf(np.arange(30))
    for row, (_, w) in zip(got, want.iterrows()):
        assert row.image_id == w["image_id"]
        assert bytes(row.bytes) == w["bytes"]
        assert row.fmt == w["fmt"]


# ───────────── boilerplate-caption detector ─────────────


def test_boilerplate_captions_fires_on_distinct_images_only(spark):
    """Same caption on DIFFERENT phashes = boilerplate; same caption on the
    SAME phash = a re-crawl (dedup's problem) and must NOT fire; NULL captions
    and singletons never fire."""
    from pyspark.sql import functions as F

    from data_quality_check_spark.pipeline.heuristics import boilerplate_captions

    rows = [
        # boilerplate: one template, 3 distinct images
        (1, "image may contain stuff", 111),
        (2, "image may contain stuff", 222),
        (3, "image may contain stuff", 333),
        # re-crawl: same caption AND same phash twice → excluded
        (4, "a genuine caption", 444),
        (5, "a genuine caption", 444),
        # singleton + NULL caption: never fire
        (6, "unique caption", 555),
        (7, None, 666),
    ]
    df = spark.createDataFrame(rows, "image_id long, caption string, phash long")
    got = boilerplate_captions(df).collect()
    assert len(got) == 1
    [r] = got
    assert (r.n_images, r.n_distinct_images, r.exemplar_image_id) == (3, 3, 1)

    # whitespace-collapse normalization: "a  b" and "a b" share a fingerprint
    df2 = spark.createDataFrame(
        [(1, "tpl  x", 1), (2, "tpl x", 2)], "image_id long, caption string, phash long"
    )
    assert boilerplate_captions(df2).count() == 1


def test_boilerplate_captions_plan_single_agg_no_python(spark):
    from data_quality_check_spark.pipeline.heuristics import boilerplate_captions

    df = spark.createDataFrame(
        [(1, "c", 1)], "image_id long, caption string, phash long"
    )
    plan = (
        boilerplate_captions(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan
    # exactly one keyed exchange (the fingerprint group; EXPAND for the exact
    # multi-distinct rides it) — the detector is one aggregation, not a join
    assert plan.count("hashpartitioning") <= 2  # partial-distinct + final


def test_aspect_bucket_assignment_hand_cases(spark):
    """Exact rungs land exactly; off-ladder ratios go to the nearest rung in
    milli-aspect space; midpoint ties take the lower bucket id; bad dims are
    excluded from the profile."""
    from data_quality_check_spark.pipeline import heuristics as H

    rows = [
        (1, 1024, 1024),   # exact square → rung (1024,1024)
        (2, 512, 2048),    # exact extreme → rung 0
        (3, 2000, 1000),   # ar 2.0 → nearest of 1728/576 (3000) vs 1536/640 (2400)? no: 2000 milli → nearest rung by milli
        (4, 0, 100),       # bad dims: excluded
        (5, 100, 0),       # bad dims: excluded
        (6, None, 100),    # null: excluded
    ]
    df = spark.createDataFrame(rows, "image_id long, w int, h int")
    out = {
        r["bucket_id"]: r
        for r in H.aspect_bucket_profile(df).collect()
    }
    ladder = H.ASPECT_LADDER
    milli = H._ladder_milli(ladder)

    def expect_bucket(w, h):
        ar = (w * 1000) // h
        return min(range(len(milli)), key=lambda i: (abs(ar - milli[i]), i))

    got_rows = sum(r["n_images"] for r in out.values())
    assert got_rows == 3  # only the three valid-dim images
    # the bare column helper must yield NULL (not rung 0) on bad/NULL dims
    raw = df.select("image_id", H.aspect_bucket_col(F.col("w"), F.col("h")).alias("b")).collect()
    by_id = {r["image_id"]: r["b"] for r in raw}
    assert by_id[4] is None and by_id[5] is None and by_id[6] is None
    assert by_id[1] is not None
    for iid, w, h in [(1, 1024, 1024), (2, 512, 2048), (3, 2000, 1000)]:
        b = expect_bucket(w, h)
        assert b in out, (iid, b)
        bw, bh = ladder[b]
        assert (out[b]["bw"], out[b]["bh"]) == (bw, bh)
    sq = expect_bucket(1024, 1024)
    assert ladder[sq] == (1024, 1024)
    assert out[sq]["sum_pixels"] == 1024 * 1024
    assert out[sq]["min_ar_milli"] == out[sq]["max_ar_milli"] == 1000


def test_aspect_bucket_plan_is_joinless_single_agg(spark):
    """Assignment is an array_min over struct literals and shapes resolve via
    element_at — the whole profile must be one projection + one hash agg:
    no join node, no Python, no window."""
    from data_quality_check_spark.pipeline import heuristics as H

    df = spark.range(100).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 50 * 40 + 16).cast("int").alias("w"),
        (F.col("id") % 37 * 55 + 16).cast("int").alias("h"),
    )
    plan = (
        H.aspect_bucket_profile(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") <= 2  # partial + final, nothing else


def test_gopher_flags_hand_cases(spark):
    """Each Gopher §A1.1 rule fires on its planted shape and stays quiet on a
    compliant text; NULL flags word_count only."""
    from data_quality_check_spark.pipeline import heuristics as H

    clean = "the quick brown fox jumps over that lazy dog have with be of " * 4
    rows = [
        (0, clean),                             # no flag
        (1, "- a\n- b\n- c"),                   # bullets (+ word_count, stopwords...)
        (2, "one...\ntwo...\nthree\nfour"),     # ellipsis 2/4 > 30%
        (3, "## ## ## ## few words here"),      # symbols 4/7 > 0.1
        (4, ":: !! ?? ;; ~~"),                  # low alpha + mean word len (2 < 3)
        (5, "extraordinarily incomprehensible " * 30),  # mean len > 10, ≥50 words
        (6, None),                              # 0 words
        (7, "the of " * 30),                    # stopwords ok, mean len < 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            *[v.alias(k) for k, v in H.gopher_flags(F.col("text")).items()],
        ).collect()
    }
    c = out[0]
    assert not any(
        c[k] for k in c.asDict() if k.startswith("flag_")
    ), c.asDict()
    assert out[1]["flag_bullet_lines"] and not out[0]["flag_bullet_lines"]
    assert out[2]["flag_ellipsis_lines"] and not out[3]["flag_ellipsis_lines"]
    assert out[3]["flag_symbol_ratio"] and not out[0]["flag_symbol_ratio"]
    assert out[4]["flag_low_alpha_words"] and out[4]["flag_mean_word_len"]
    assert out[5]["flag_mean_word_len"] and not out[5]["flag_word_count"]
    assert out[6]["flag_word_count"] and not out[6]["flag_mean_word_len"]
    # empty/NULL captions flag word_count ONLY (review fix: few_stopwords
    # must not fire on a doc with no words)
    assert not out[6]["flag_few_stopwords"] and not out[6]["flag_low_alpha_words"]
    assert out[7]["flag_mean_word_len"] and not out[7]["flag_few_stopwords"]


def test_gopher_flags_plan_is_single_projection(spark):
    """All seven rules are one codegen projection — no shuffle, no Python."""
    from data_quality_check_spark.pipeline import heuristics as H

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        df.select(*[v.alias(k) for k, v in H.gopher_flags(F.col("text")).items()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decode_health_counts_corruption_classes(spark):
    """Truncated and magic-corrupted payloads fail decode; healthy ones
    report exact pixel sums, per format."""
    from data_quality_check_spark.functions.multimodal import decode_health
    from data_quality_check_spark.gate_fixtures import image_payload

    b0, f0 = image_payload(1)
    b1, f1 = image_payload(2)
    rows = [
        (1, b0, f0),            # healthy
        (2, b1[:8], f1),        # truncated below header -> fail
        (3, b0[1:], f0),        # magic byte lost -> fail
        (4, None, f0),          # NULL bytes -> fail
    ]
    df = spark.createDataFrame(rows, "image_id long, bytes binary, fmt string")
    got = {r["fmt"]: r.asDict() for r in decode_health(df).collect()}
    total_ok = sum(g["n_decode_ok"] for g in got.values())
    total_bad = sum(g["n_decode_failed"] for g in got.values())
    assert (total_ok, total_bad) == (1, 3)
    from data_quality_check_spark.pipeline import codecs

    arr = codecs.decode(b0)
    healthy_fmt = got[f0]
    assert healthy_fmt["total_pixels"] == arr.shape[0] * arr.shape[1]


def test_gopher_alpha_words_exclude_multiply_sign(spark):
    """Dimension spam whose 'words' are ×-joined digits must fail the
    low-alpha-words rule: × (U+00D7) and ÷ are NOT Latin letters."""
    from data_quality_check_spark.pipeline.heuristics import gopher_flags

    spam = " ".join(f"{i}×{i+1}" for i in range(60))
    df = spark.createDataFrame([(spam,)], ["caption"])
    flags = gopher_flags(F.col("caption"))
    row = df.select(flags["flag_low_alpha_words"].alias("f")).collect()[0]
    assert row["f"] is True
