"""The driver captures only the tail (~2000 chars) of bench.py's stdout and
parses the last line as JSON (BENCH_r03 recorded `parsed: null` when the line
outgrew the window — VERDICT r3 task 2). Pin the invariant: for any realistic
registry size the final line parses AND fits the window with margin."""

import json
import os

import bench


def _fake_times(n: int) -> dict:
    # worst case: long query names, like the real registry's
    return {f"neardup_clusters_minhash_documents_{i:03d}": 1.234 for i in range(n)}


def _fake_pipe() -> dict:
    return {"images": 20400, "sec": 4.2, "images_per_sec": 4857.1, "rows_kept": 13688}


def test_compact_line_fits_window_and_parses():
    for n in (5, 65, 200):
        line = bench.compact_line(_fake_times(n), 123.456, _fake_pipe())
        assert len(line) <= bench.STDOUT_BUDGET < 2000
        d = json.loads(line)
        assert d["metric"] == "headline_queries_total"
        assert d["unit"] == "sec"
        assert d["n_queries"] == n
        assert 0 < len(d["queries"]) <= 5
        assert d["pipeline"]["rows_kept"] == 13688


def test_compact_line_single_line():
    line = bench.compact_line(_fake_times(65), 99.9, _fake_pipe())
    assert "\n" not in line


def test_multifile_cache_key_tracks_source_tables(tmp_path):
    """A regenerated sf dir (same name, same file count) must not reuse the
    multi-file copy derived from the old tables."""
    sf = tmp_path / "sf0.1"
    sf.mkdir()
    for t in bench._TABLE_ID:
        (sf / f"{t}.parquet").write_bytes(b"x")
    before = bench.multifile_cache_path(str(sf))
    assert bench.multifile_cache_path(str(sf)) == before
    st = os.stat(sf / "lineitem.parquet")
    os.utime(sf / "lineitem.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = bench.multifile_cache_path(str(sf))
    assert touched != before
    (sf / "orders.parquet").write_bytes(b"xy")
    assert bench.multifile_cache_path(str(sf)) not in (before, touched)
