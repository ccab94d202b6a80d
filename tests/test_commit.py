"""The commit protocol (`sources/commit.py`) under injected crashes.

Each writer is killed after each of its write steps: the injected error is
raised at the start of write call k+1, so exactly k writes have landed. A
reader of what is left must return the old answer, the new answer, or refuse
with an error, and never a mix of old and new state.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_check_spark.operators import dedup as DD
from data_quality_check_spark.operators import similarity as SIM
from data_quality_check_spark.sources import commit
from data_quality_check_spark.sources.tables import TableIO

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Crash(Exception):
    """Stands for the writer process dying: no handler in the code catches it."""


def _crash_at_call(monkeypatch, target, names, k):
    """Patch `target.<name>` for each name so that call k+1 (counted over all
    of them) raises Crash before it does anything."""
    calls = [0]
    for name in names:
        real = getattr(target, name)

        def wrapped(*a, _real=real, **kw):
            calls[0] += 1
            if calls[0] == k + 1:
                raise Crash(f"killed before write {k + 1}")
            return _real(*a, **kw)

        monkeypatch.setattr(target, name, wrapped)
    return calls


def _read_or_refusal(read):
    try:
        return read()
    except ValueError as e:
        assert "torn" in str(e), e
        return "refused"


# ── IVF index rebuilt over a live index ──

IVF_WRITES = 3  # centroids, vectors, meta


def _ivf_vectors(spark):
    rng = np.random.RandomState(5)
    centers = rng.standard_normal((4, 8)) * 3
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.standard_normal(8) * 0.3])
        for i in range(96)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _build_old(io, df):
    SIM.ivf_build_index(io, df.filter(F.col("vec_id") < 64), "ann", n_centroids=4)


def _build_new(io, df):
    SIM.ivf_build_index(io, df, "ann", n_centroids=3, seed=7)


def _ivf_read(io):
    cents = SIM.ivf_load_centroids(io, "ann")
    cells = sorted(map(tuple, io.read("ann.vectors").select("id", "cell").collect()))
    return (cents.round(12).tolist(), cells)


@pytest.fixture(scope="module")
def ivf_states(spark, tmp_path_factory):
    df = _ivf_vectors(spark)
    root = tmp_path_factory.mktemp("ivf")
    old_io = TableIO(spark, warehouse=str(root / "old"), backend="parquet")
    new_io = TableIO(spark, warehouse=str(root / "new"), backend="parquet")
    _build_old(old_io, df)
    _build_new(new_io, df)
    old, new = _ivf_read(old_io), _ivf_read(new_io)
    assert old != new
    return df, str(root / "old"), old, new


@pytest.mark.parametrize("k", range(IVF_WRITES + 1))
def test_ivf_rebuild_fault_matrix(spark, ivf_states, tmp_path, monkeypatch, k):
    df, old_wh, old, new = ivf_states
    wh = str(tmp_path / "wh")
    shutil.copytree(old_wh, wh)
    io = TableIO(spark, warehouse=wh, backend="parquet")
    with monkeypatch.context() as m:
        calls = _crash_at_call(m, TableIO, ["overwrite"], k)
        if k < IVF_WRITES:
            with pytest.raises(Crash):
                _build_new(io, df)
        else:
            _build_new(io, df)
        assert calls[0] == min(k + 1, IVF_WRITES)
    got = _read_or_refusal(lambda: _ivf_read(io))
    assert got in (old, new, "refused")
    if k < IVF_WRITES:
        # the group stays marked until its last write lands
        assert got == "refused"
        with pytest.raises(ValueError, match="torn"):
            SIM.ivf_append_index(io, df, "ann")
        _build_new(io, df)  # a finished rebuild heals it
    assert _ivf_read(io) == new


# ── seen corpus re-initialised over an existing corpus ──

SEEN_WRITES = 4  # fp, toks, bands, meta


def _seen_df(spark, base: int, word: str):
    rows = [(base + i, f"{word} jumps over the lazy dog number {i}") for i in range(24)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _seen_read(io):
    art = DD.SeenCorpusArtifacts(io)
    art.check_config(art.num_hashes, art.bands, art.ngram)
    return (
        sorted(r.fp for r in art.fingerprints().collect()),
        sorted((r.id, tuple(r.toks)) for r in art.shingles().collect()),
        sorted(map(tuple, art.band_table().collect())),
    )


@pytest.fixture(scope="module")
def seen_states(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("seen")
    old_df, new_df = _seen_df(spark, 0, "the quick fox"), _seen_df(spark, 500, "a slow cat")
    old_io = TableIO(spark, warehouse=str(root / "old"), backend="parquet")
    new_io = TableIO(spark, warehouse=str(root / "new"), backend="parquet")
    DD.SeenCorpusArtifacts(old_io).init(old_df, "doc_id", "text")
    DD.SeenCorpusArtifacts(new_io).init(new_df, "doc_id", "text")
    old, new = _seen_read(old_io), _seen_read(new_io)
    assert all(a != b for a, b in zip(old, new))
    return new_df, str(root / "old"), old, new


@pytest.mark.parametrize("k", range(SEEN_WRITES + 1))
def test_seen_corpus_init_fault_matrix(spark, seen_states, tmp_path, monkeypatch, k):
    new_df, old_wh, old, new = seen_states
    wh = str(tmp_path / "wh")
    shutil.copytree(old_wh, wh)
    io = TableIO(spark, warehouse=wh, backend="parquet")
    art = DD.SeenCorpusArtifacts(io)
    with monkeypatch.context() as m:
        calls = _crash_at_call(m, TableIO, ["overwrite", "write_bucketed"], k)
        if k < SEEN_WRITES:
            with pytest.raises(Crash):
                art.init(new_df, "doc_id", "text")
        else:
            art.init(new_df, "doc_id", "text")
        assert calls[0] == min(k + 1, SEEN_WRITES)
    got = _read_or_refusal(lambda: _seen_read(io))
    assert got in (old, new, "refused")
    if k < SEEN_WRITES:
        assert got == "refused"
        assert not art.exists()
        with pytest.raises(ValueError, match="torn"):
            art.append(new_df, "doc_id", "text")
        art.init(new_df, "doc_id", "text")  # re-running init heals it
    assert art.exists()
    assert _seen_read(io) == new


# ── publish_dir ──


def _leftovers(parent: str) -> list[str]:
    return [e for e in os.listdir(parent) if ".tmp-" in e]


def _dir_read(path: str):
    if not commit.published(path):
        return None  # the old state: nothing published
    with open(os.path.join(path, "data")) as f:
        return f.read()


def _build(tmp: str) -> None:
    os.makedirs(tmp)
    with open(os.path.join(tmp, "data"), "w") as f:
        f.write("new")


@pytest.mark.parametrize(
    "leftover,fault",
    [(False, "build"), (False, "rename1"), (False, None),
     (True, "build"), (True, "rename1"), (True, "rename2"), (True, None)],
)
def test_publish_dir_fault_matrix(tmp_path, monkeypatch, leftover, fault):
    """`leftover`: a crashed earlier build left a dir without `_SUCCESS` at
    the path, so the first rename fails and the dir is replaced."""
    path = str(tmp_path / "art")
    if leftover:
        os.makedirs(path)
        with open(os.path.join(path, "data"), "w") as f:
            f.write("half")

    def build(tmp):
        _build(tmp)
        if fault == "build":
            raise Crash("killed mid-build")

    with monkeypatch.context() as m:
        if fault in ("rename1", "rename2"):
            _crash_at_call(m, os, ["rename"], int(fault[-1]) - 1)
        if fault is None:
            assert commit.publish_dir(path, build) == path
        else:
            with pytest.raises(Crash):
                commit.publish_dir(path, build)
    assert _dir_read(path) == (None if fault else "new")
    # a failed build never leaves its temp dir behind
    assert _leftovers(str(tmp_path)) == []
    commit.publish_dir(path, _build)
    assert _dir_read(path) == "new"
    assert _leftovers(str(tmp_path)) == []


def test_publish_dir_lost_race_keeps_winner(tmp_path):
    """A concurrent builder that publishes first wins; the loser's copy is
    discarded and its call returns the winner's directory."""
    path = str(tmp_path / "art")

    def winner(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("winner")

    def loser(tmp):
        _build(tmp)
        commit.publish_dir(path, winner)  # the other process finishes first

    assert commit.publish_dir(path, loser) == path
    assert _dir_read(path) == "winner"
    assert _leftovers(str(tmp_path)) == []


# ── replace_file ──


@pytest.mark.parametrize("fault", ["write", "replace", None])
def test_replace_file_fault_matrix(tmp_path, monkeypatch, fault):
    path = str(tmp_path / "slot.json")
    with open(path, "w") as f:
        f.write("old")

    def write(tmp):
        with open(tmp, "w") as f:
            f.write("ne")
            if fault == "write":
                raise Crash("killed mid-write")
            f.write("w")

    with monkeypatch.context() as m:
        if fault == "replace":
            _crash_at_call(m, os, ["replace"], 0)
        if fault is None:
            commit.replace_file(path, write)
        else:
            with pytest.raises(Crash):
                commit.replace_file(path, write)
    with open(path) as f:
        assert f.read() == ("old" if fault else "new")
    assert os.listdir(tmp_path) == ["slot.json"]


def test_content_key_tracks_inputs(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x")
    (d / "notes.txt").write_bytes(b"x")
    key = commit.content_key(str(d))
    assert commit.content_key(str(d)) == key
    (d / "notes.txt").write_bytes(b"xy")  # not an input
    assert commit.content_key(str(d)) == key
    (d / "a.parquet").write_bytes(b"xy")
    assert commit.content_key(str(d)) != key


# ── one protocol ──

_STAGE_PUBLISH = re.compile(r"os\.replace\(|os\.rename\(|\.tmp-")
_OWNERS = {
    os.path.join("data_quality_check_spark", "sources", "commit.py"),
    os.path.join("data_quality_check_spark", "pipeline", "publish.py"),
}


def test_stage_and_publish_only_in_commit_module():
    """Only `sources/commit.py` (and `pipeline/publish.py`'s write-audit-
    publish move) may stage and rename files; everything else calls it."""
    files = ["bench.py"]
    for root, _, names in os.walk(os.path.join(REPO, "data_quality_check_spark")):
        files += [os.path.relpath(os.path.join(root, n), REPO) for n in names
                  if n.endswith(".py")]
    offenders = []
    for rel in sorted(set(files) - _OWNERS):
        with open(os.path.join(REPO, rel)) as f:
            for i, line in enumerate(f, 1):
                if _STAGE_PUBLISH.search(line):
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert offenders == []
