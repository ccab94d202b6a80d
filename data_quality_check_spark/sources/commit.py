"""The commit protocol every persisted artifact follows: stage, mark, publish.

A writer never edits what a reader may be reading. It stages the new state
where no reader looks, then publishes it with one atomic step, so a crash at
any point leaves either the old state or the new one:

  * `replace_file(path, write)` — one file (an oracle twin, a checkpoint
    slot, the output-schema fingerprint): written to a hidden sibling temp
    file, then `os.replace`d over `path`.
  * `publish_dir(path, build)` — a build-once directory (scratch
    materializations, bench fixtures): built under a sibling temp dir, stamped
    with `_SUCCESS`, then renamed to `path`. A dir at `path` without
    `_SUCCESS` is a crashed build and is replaced.
  * A table group that must be overwritten in place, one table at a time (a
    live IVF index, the seen corpus), cannot be renamed as a unit. Its writer
    marks the group in progress before its first write and clears the mark
    after its last (`TableIO.writing_group`); every reader refuses a marked
    group (`TableIO.group_torn`), so a crashed rebuild reads as a refusal,
    never as a mix of old and new tables.

`content_key(dir)` names the state of an input directory, so build-once
artifacts derived from it are keyed on its content and a regenerated input
never serves a stale artifact.

`pipeline/publish.py` keeps its own write-audit-publish move: it must refuse
to overwrite a published corpus and fail clearly across filesystems.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from typing import Callable

SUCCESS = "_SUCCESS"


def content_key(d: str) -> str:
    """Key of a directory's parquet inputs: its absolute path plus each
    `*.parquet` entry's name, size and mtime. Regenerating any input at the
    same path changes the key."""
    parts = [os.path.abspath(d)]
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            st = os.stat(os.path.join(d, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha1(";".join(parts).encode()).hexdigest()[:12]


def _tmp_name(path: str) -> str:
    return f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"


def replace_file(path: str, write: Callable[[str], None]) -> str:
    """Atomically replace the file `path` with what `write(tmp)` writes to a
    temp path. The temp file is hidden (a leading `.`), so a dataset reader
    of the directory never picks it up, and it is removed when `write` or the
    replace fails. Concurrent writers of the same path replace each other
    whole; a reader sees the old file or a new one, never a torn one."""
    d, base = os.path.split(path)
    tmp = _tmp_name(os.path.join(d, f".{base}"))
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise
    return path


def published(path: str) -> bool:
    """True iff `path` is a directory `publish_dir` finished."""
    return os.path.exists(os.path.join(path, SUCCESS))


def publish_dir(path: str, build: Callable[[str], None]) -> str:
    """Build the directory `path` once: `build(tmp)` fills a sibling temp dir,
    which is stamped with `_SUCCESS` and renamed to `path`. Returns `path`.

    A `path` that is already published is returned as is. When `build` or the
    rename fails, the temp dir is deleted. Concurrent builders race safely:
    the loser of the rename discards its copy (both built the same content).
    A dir at `path` without `_SUCCESS` is a crashed build; it is replaced,
    otherwise every later call would rebuild, fail the rename and leak
    another temp dir."""
    if published(path):
        return path
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = _tmp_name(path)
    try:
        build(tmp)
        open(os.path.join(tmp, SUCCESS), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            if not published(path):
                # Two processes can both get here: both rmtree, one renames
                # first, and the other's rename needs the lost-race check.
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.rename(tmp, path)
                except OSError:
                    if not published(path):
                        raise
    finally:
        # gone after a successful rename; otherwise the loser's copy or a
        # failed build
        shutil.rmtree(tmp, ignore_errors=True)
    return path

