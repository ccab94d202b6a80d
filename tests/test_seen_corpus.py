"""SeenCorpusArtifacts: persisted seen-side dedup tables make
`dedup_incremental` O(increment) per run (VERDICT r3 task 1).

Pins:
  * artifact path ≡ recompute path (identical decisions, identical banded
    candidate counts);
  * run 2 touches only the increment — the physical plan scans the artifact
    warehouse, never the seen corpus' own files (no seen text read/tokenized);
  * append folds a committed increment in, so the next run sees it;
  * a banding-config mismatch is refused, not silently merged.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.operators import dedup as DD
from data_quality_check_spark.record import run_record
from data_quality_check_spark.sources.tables import TableIO

T = 0.6  # word-set Jaccard threshold used throughout


def _seen_rows():
    rows = [(i, f"the quick brown fox jumps over the lazy dog number {i}") for i in range(40)]
    rows.append((100, "identical caption shared across corpora"))
    rows.append(
        (101, "a very similar sentence about fluffy cats sitting on warm windowsills today")
    )
    return rows


def _new_rows():
    return [
        (200, "identical caption shared across corpora"),  # exact_seen
        (201, "totally novel text unlike anything else whatsoever"),  # kept
        (202, "totally novel text unlike anything else whatsoever"),  # exact_new of 201
        (203, "a very similar sentence about fluffy cats sitting on warm windowsills now"),
        (204, None),  # null text → kept
        (205, "another brand new document with plenty of distinct words in it"),  # kept
        (206, "another brand new document with plenty of distinct words in them"),  # near_new
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def corpus(spark, tmp_path):
    seen_path = str(tmp_path / "seen_corpus_input")
    _df(spark, _seen_rows()).write.parquet(seen_path)
    seen_df = spark.read.parquet(seen_path)
    art = DD.SeenCorpusArtifacts(TableIO(spark, str(tmp_path / "warehouse")))
    art.init(seen_df, "doc_id", "text")
    return seen_df, seen_path, art


def _decisions(df):
    return sorted(tuple(r) for r in df.collect())


def test_artifact_path_matches_recompute(spark, corpus):
    seen_df, _, art = corpus
    new_df = _df(spark, _new_rows())

    with run_record() as rec:
        recompute = DD.dedup_incremental(new_df, seen_df, "doc_id", "text", threshold=T)
        got_recompute = _decisions(recompute)
        cc_recompute = rec.candidates()

    with run_record() as rec:
        via_art = DD.dedup_incremental(
            new_df, None, "doc_id", "text", threshold=T, seen_artifacts=art
        )
        got_art = _decisions(via_art)
        cc_art = rec.candidates()

    assert got_art == got_recompute
    reasons = {r[0]: r[2] for r in got_art}
    assert reasons[200] == "exact_seen"
    assert reasons[202] == "exact_new"
    assert reasons[203] == "near_seen"
    assert reasons[206] == "near_new"
    assert reasons[201] == "kept" and reasons[204] == "kept" and reasons[205] == "kept"
    # identical banded candidate volumes — band keys are corpus-independent
    for op in ("dedup_incremental_cross", "dedup_incremental_self"):
        assert cc_art.get(op) == cc_recompute.get(op)


def test_artifact_run_never_scans_seen_corpus_files(spark, corpus):
    _, seen_path, art = corpus
    new_df = _df(spark, _new_rows())
    out = DD.dedup_incremental(
        new_df, None, "doc_id", "text", threshold=T, seen_artifacts=art
    )
    files = out.inputFiles()
    assert files, "expected file-backed scans in the artifact run"
    assert not any(seen_path in f for f in files), (
        "artifact run must not re-scan the seen corpus' own files"
    )
    assert any("warehouse" in f for f in files), (
        "artifact tables should be the only file-backed scans"
    )
    # and the plan string carries no seen-side text lineage at all: the only
    # tokenizer (split) applications belong to the increment's in-memory frame
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert seen_path not in plan
    DD.release_pins()


def test_append_makes_next_run_see_the_increment(spark, corpus):
    seen_df, _, art = corpus
    inc1 = _df(spark, _new_rows())
    d1 = DD.dedup_incremental(inc1, None, "doc_id", "text", threshold=T, seen_artifacts=art)
    keep_ids = sorted(r["doc_id"] for r in d1.filter("keep").select("doc_id").collect())
    assert keep_ids == [201, 204, 205]
    # the exact call shape from the class docstring: kept1's lineage READS the
    # artifact tables; append() must snapshot it before mutating them
    kept1 = inc1.join(d1.filter("keep").select("doc_id"), "doc_id", "left_semi")
    art.append(kept1, "doc_id", "text")
    DD.release_pins()
    # ground-truth recompute needs the kept rows WITHOUT artifact lineage —
    # after the append, kept1's lazy plan sees itself in the corpus (documented)
    kept1 = inc1.filter(F.col("doc_id").isin(keep_ids))

    inc2 = _df(
        spark,
        [
            (300, "totally novel text unlike anything else whatsoever"),  # = kept 201
            (301, "another brand new document with plenty of distinct words in it also"),
            (302, "completely fresh second-increment content nothing matches this"),
        ],
    )
    got = _decisions(
        DD.dedup_incremental(inc2, None, "doc_id", "text", threshold=T, seen_artifacts=art)
    )
    DD.release_pins()

    # ground truth: recompute against seen ∪ kept increment-1 rows
    merged = seen_df.unionByName(kept1)
    want = _decisions(DD.dedup_incremental(inc2, merged, "doc_id", "text", threshold=T))
    DD.release_pins()
    assert got == want
    reasons = {r[0]: r[2] for r in got}
    assert reasons[300] == "exact_seen"  # doc 201 was kept and appended
    assert reasons[301] == "near_seen"  # near doc 205, kept and appended
    assert reasons[302] == "kept"


def test_config_mismatch_refused(spark, corpus, tmp_path):
    _, _, art = corpus
    new_df = _df(spark, _new_rows())
    with pytest.raises(ValueError, match="built with"):
        DD.dedup_incremental(
            new_df, None, "doc_id", "text", threshold=T, num_hashes=64, bands=16,
            seen_artifacts=art,
        )
    uninit = DD.SeenCorpusArtifacts(TableIO(spark, str(tmp_path / "nowhere")))
    with pytest.raises(ValueError, match="not initialized"):
        DD.dedup_incremental(
            new_df, None, "doc_id", "text", threshold=T, seen_artifacts=uninit
        )
    with pytest.raises(ValueError, match="exactly one"):
        DD.dedup_incremental(new_df, None, "doc_id", "text", threshold=T)


def test_append_refused_before_init(spark, tmp_path):
    art = DD.SeenCorpusArtifacts(TableIO(spark, str(tmp_path / "w2")))
    with pytest.raises(ValueError, match="not initialized"):
        art.append(_df(spark, _new_rows()), "doc_id", "text")


def test_append_once_crash_window_excluded_from_replay(spark, corpus):
    """At-least-once safety: a crash BETWEEN the data appends and the token
    write leaves token-stamped rows in the tables; the replay passes
    exclude_token so its verdicts ignore its own crashed attempt — identical
    to a clean first run — and append_once then completes and dedups."""
    seen_df, _, art = corpus
    new = _df(spark, _new_rows())
    tok = "ckpt123-b7"

    clean = {r.doc_id: (r.keep, r.reason) for r in DD.dedup_incremental(
        new, None, "doc_id", "text", threshold=T, seen_artifacts=art
    ).collect()}
    kept_ids = spark.createDataFrame(
        [(i,) for i, (k, _) in clean.items() if k], "doc_id long"
    )
    kept_df = new.join(kept_ids, "doc_id", "left_semi")
    # simulate the crash: data appended with the token, token never recorded
    art.append(kept_df, "doc_id", "text", token=tok)
    assert not art.token_applied(tok)

    # naive replay WITHOUT exclusion poisons itself: survivors read as seen
    poisoned = {r.doc_id: r.keep for r in DD.dedup_incremental(
        new, None, "doc_id", "text", threshold=T, seen_artifacts=art
    ).collect()}
    assert not any(poisoned[i] for i, (k, _) in clean.items() if k and i != 204)

    # the replay path: exclude its own token → verdicts identical to clean run
    replay = {r.doc_id: (r.keep, r.reason) for r in DD.dedup_incremental(
        new, None, "doc_id", "text", threshold=T, seen_artifacts=art,
        exclude_token=tok,
    ).collect()}
    assert replay == clean

    # finishing the replay records the token; duplicate stamped rows remain
    # (tolerated by every consumer) and a THIRD attempt is a no-op
    assert art.append_once(kept_df, "doc_id", "text", token=tok)
    assert art.token_applied(tok)
    assert not art.append_once(kept_df, "doc_id", "text", token=tok)


def test_append_once_empty_increment_records_token(spark, corpus):
    """An all-dropped batch still records its token (the caller's replay
    guard depends on it) without disturbing the corpus tables."""
    _, _, art = corpus
    before = art.fingerprints().count()
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert art.append_once(empty, "doc_id", "text", token="ck-b0")
    assert art.token_applied("ck-b0")
    assert art.fingerprints().count() == before


def test_compact_absorbs_duplicates_and_orphans(spark, corpus):
    """compact(): duplicate committed rows collapse, orphan rows (token never
    recorded) drop, applied tokens survive, decisions on committed content are
    unchanged, and a second compact is a no-op."""
    seen_df, _, art = corpus
    new = _df(spark, _new_rows())
    tok = "ck-b1"

    kept_ids = [r.doc_id for r in DD.dedup_incremental(
        new, None, "doc_id", "text", threshold=T, seen_artifacts=art
    ).filter("keep").collect()]
    DD.release_pins()
    kept_df = new.filter(F.col("doc_id").isin(kept_ids))
    # committed batch + a crashed-attempt duplicate of the SAME token (the
    # crash-then-retry shape: data landed twice, token recorded once)
    assert art.append_once(kept_df, "doc_id", "text", token=tok)
    art.append(kept_df, "doc_id", "text", token=tok)
    # an orphan: token-stamped rows whose unit of work never committed —
    # its text must NOT count as corpus membership once compacted away
    orphan = _df(spark, [(900, "orphan caption that never actually published")])
    art.append(orphan, "doc_id", "text", token="ck-crashed")

    probe = _df(
        spark,
        [
            (400, "totally novel text unlike anything else whatsoever"),  # = kept 201
            (401, "orphan caption that never actually published"),
            (402, "fresh probe content matching nothing at all anywhere"),
        ],
    )
    # pre-compact: the orphan's rows are visible (tolerated-until-compaction)
    pre = {r.doc_id: r.reason for r in DD.dedup_incremental(
        probe, None, "doc_id", "text", threshold=T, seen_artifacts=art
    ).collect()}
    DD.release_pins()
    assert pre[400] == "exact_seen" and pre[401] == "exact_seen"

    stats = art.compact()
    assert set(stats) == {"fp", "bands", "toks"}
    for s in stats.values():
        assert s["after"] < s["before"]
    # committed membership unchanged; orphan membership gone
    post = {r.doc_id: r.reason for r in DD.dedup_incremental(
        probe, None, "doc_id", "text", threshold=T, seen_artifacts=art
    ).collect()}
    DD.release_pins()
    assert post[400] == "exact_seen"
    assert post[401] == "kept"
    assert post[402] == "kept"
    # replay guard intact, and a late retry of the committed token stays a no-op
    assert art.token_applied(tok)
    assert not art.append_once(kept_df, "doc_id", "text", token=tok)
    # idempotent: a second compact rewrites nothing away
    stats2 = art.compact()
    for k in stats2:
        assert stats2[k]["before"] == stats2[k]["after"] == stats[k]["after"]


def test_pretoken_layout_refused_then_migrated_by_compact(spark, corpus):
    """A corpus whose tables predate provenance tokens must refuse appends
    (an Iceberg append would die on schema mismatch; a parquet append would
    build a mixed-schema dir whose reads sample an arbitrary footer), and
    compact() is the documented one-time migration that re-admits them."""
    _, _, art = corpus
    io = art.io
    for suffix in ("fp", "bands"):
        t = art._t(suffix)
        legacy = io.read(t).drop("_token").localCheckpoint(eager=True)
        io.overwrite(legacy, t)
    t = art._t("toks")
    legacy = io.read(t).drop("_token").localCheckpoint(eager=True)
    io.write_bucketed(legacy, t, "id", art.toks_buckets)

    inc = _df(spark, [(999, "brand new migration test caption entirely unique")])
    with pytest.raises(ValueError, match="predates provenance tokens"):
        art.append(inc, "doc_id", "text")

    before = art.fingerprints().count()
    art.compact()  # the migration: rewrites every table with a NULL _token
    art.append(inc, "doc_id", "text")
    assert art.fingerprints().count() == before + 1


def test_compact_absorbs_orphan_only_buckets_under_dynamic_overwrite(spark, corpus):
    """A session may run with partitionOverwriteMode=dynamic (the caller's
    own setting); a compact() in that driver must still fully rewrite the
    bucketed toks table — under dynamic mode a bucket whose EVERY row was absorbed is not
    present in the compacted output, so a plain overwrite would leave its
    stale files (and the stale shingle sets could later confirm wrong
    near_seen verdicts)."""
    _, _, art = corpus
    prev = None
    try:
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # 200 orphan ids spread over all 32 toks buckets: the 42-doc corpus
        # leaves many buckets corpus-empty, so several buckets are orphan-only
        orphan_ids = list(range(7000, 7200))
        orphans = _df(
            spark,
            [(i, f"orphan only caption number {i} with several filler words") for i in orphan_ids],
        )
        art.append(orphans, "doc_id", "text", token="never-committed")
        assert art.shingles().filter(F.col("id").isin(orphan_ids)).count() == len(orphan_ids)
        art.compact()
        assert art.shingles().filter(F.col("id").isin(orphan_ids)).count() == 0
        assert art.band_table().filter(F.col("id").isin(orphan_ids)).count() == 0
    finally:
        if prev:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")


def test_novelty_artifact_path_matches_recompute(spark, corpus):
    """novelty_scores(seen_artifacts=) must return exactly the recompute
    path's rows while never scanning the seen corpus' own files."""
    seen_df, seen_path, art = corpus
    new_df = _df(spark, _new_rows())
    recompute = DD.novelty_scores(new_df, seen_df, "doc_id", "text", ngram=1)
    via_art = DD.novelty_scores(
        new_df, None, "doc_id", "text", ngram=1, seen_artifacts=art
    )
    assert _decisions(recompute) == _decisions(via_art)
    files = via_art.inputFiles()
    assert files and not any(seen_path in f for f in files)
    # fully-seen doc scores 0, fully-novel docs score 1
    got = {r["doc_id"]: r["novelty_frac"] for r in via_art.collect()}
    assert got[200] == 0.0 and got[201] == 1.0


def test_novelty_artifact_ngram_mismatch_refused(spark, corpus):
    _, _, art = corpus  # artifacts built at ngram=1
    new_df = _df(spark, _new_rows())
    with pytest.raises(ValueError, match="ngram"):
        DD.novelty_scores(
            new_df, None, "doc_id", "text", ngram=3, seen_artifacts=art
        ).collect()


def test_forged_format_version_refused_prestamp_accepted(spark, corpus):
    """VERDICT r4 task 7: artifacts stamped by an unknown (later) code revision
    are refused with a migrate hint — a round-6 layout change can never be
    silently misread by round-5 code. Metas written BEFORE the stamp existed
    (no format_version column) read as the version-1 layout and keep working;
    compact() re-stamps them."""
    seen_df, _, art = corpus
    io = art.io

    # pre-stamp meta (the round-4 shape): column absent -> version 1 -> accepted
    io.overwrite(
        spark.createDataFrame(
            [(art.num_hashes, art.bands, art.ngram)],
            "num_hashes int, bands int, ngram int",
        ),
        "seen_corpus_meta",
    )
    art.check_config(art.num_hashes, art.bands, art.ngram)  # no raise
    # compact() is the migration: it re-stamps the meta with the current version
    art.compact()
    m = io.read("seen_corpus_meta").collect()[0]
    assert m["format_version"] == DD.SeenCorpusArtifacts.FORMAT_VERSION

    # forged/future version: every artifact consumer is refused via check_config
    io.overwrite(
        spark.createDataFrame(
            [(art.num_hashes, art.bands, art.ngram, 99)],
            "num_hashes int, bands int, ngram int, format_version int",
        ),
        "seen_corpus_meta",
    )
    with pytest.raises(ValueError, match="format_version 99"):
        art.check_config(art.num_hashes, art.bands, art.ngram)
    with pytest.raises(ValueError, match="format_version 99"):
        art.append(_df(spark, _new_rows()), "doc_id", "text")
    with pytest.raises(ValueError, match="format_version 99"):
        DD.dedup_incremental(
            _df(spark, _new_rows()), None, "doc_id", "text", threshold=T,
            seen_artifacts=art,
        ).collect()
