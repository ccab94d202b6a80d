"""One run record: everything a run accumulates, released when the run ends.

A `RunRecord` owns the frames a run pins (`pin`), the eager localCheckpoint
snapshots it consumes (`snapshot`), its step wall times (`step`) and its
candidate-count observations (`observe_candidates`, `candidates`).
`bounded_collect` is the one size gate: `local` builds every size-dependent
join build side's broadcast-or-shuffle choice on it, and
`dedup.connected_components` its driver-or-Spark labeling.

    with run_record() as rec:
        pairs = minhash_lsh_pairs(df, "id", "text", threshold=0.5).collect()
        rec.candidates()  # {"minhash_lsh_pairs": 1234}
    # every pin and snapshot taken inside the block is released here

Records stack per thread, and library code reaches the innermost open one
through `current()`, so concurrent threads never see or release each other's
state. A nested record hands its steps and candidate observations to the
enclosing record on exit. Code that runs outside any record uses the calling
thread's ambient record; `dedup.release_pins()` releases it.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.storagelevel import StorageLevel

# the row cap of `RunRecord.bounded_collect`: a table at or under it is
# collected to the driver (and `local` broadcasts it). Gated tables are a few
# narrow columns (~50 B a row), so 2M rows is ~100 MB per executor.
BROADCAST_ROWS = 2_000_000

# the reason recorded for a count whose metrics row never arrived
NOT_DELIVERED = (
    "metrics row not delivered: the consuming action has not run, or AQE "
    "re-planned its stage to an empty relation"
)


def release_snapshot(df: DataFrame) -> None:
    """Free a localCheckpoint'd frame's storage blocks now.

    `unpersist()` is a no-op for checkpoint RDDs, so without this the blocks
    stay until JVM GC and the ContextCleaner get to them. Reaches the
    checkpointed RDD through the LogicalRDD plan node; where the plan shape
    differs (Spark Connect) cleanup falls back to GC."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _read_count(obs: Observation) -> tuple[int | None, str | None]:
    """(count, None) from a completed candidate observation, else (None, why).

    Non-blocking only: `getOrEmpty` (a scala Map; `apply` reads the value),
    then `getRowOrEmpty` + position 0, because under AQE at large scale the
    listener can deliver the metrics row without a schema and `getOrEmpty`
    then fails mapping names while the row still carries the one metric.
    There is deliberately no fallback to the blocking `Observation.get`: an
    observation whose plan never runs would hang it forever."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None, "no JVM observation handle on this runtime"
    try:
        jmap = jo.getOrEmpty()
        if jmap.size() > 0:
            return int(jmap.apply("candidates")), None
        return None, NOT_DELIVERED
    except Exception:
        try:
            jrow = jo.getRowOrEmpty()
            if jrow.isDefined():
                return int(jrow.get().get(0)), None
            return None, NOT_DELIVERED
        except Exception as exc:
            return None, f"metrics row unreadable: {type(exc).__name__}"


class RunRecord:
    """The pins, snapshots, step timings and candidate observations of one run."""

    def __init__(self) -> None:
        self.pins: list[DataFrame] = []
        self.snapshots: list[DataFrame] = []
        self.steps: list[tuple[str, float]] = []  # (step, seconds), in run order
        self.observations: dict[str, Observation] = {}

    def pin(self, df: DataFrame) -> DataFrame:
        """Persist a frame that feeds more than one consumer (typically both
        sides of a self-join) until the record is released.

        Without it Catalyst plans the tokenize/signature lineage once per join
        side (ReusedExchange can't fire across a broadcast + shuffle pair), so
        the expensive shingle/hash work runs 2-4x. MEMORY_AND_DISK spills
        cleanly; releasing is always safe, because a lazy plan that still
        references a released pin recomputes its blocks."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.pins.append(df)
        return df

    def bounded_collect(self, pinned: DataFrame) -> pa.Table | None:
        """At most `BROADCAST_ROWS + 1` rows of a frame this record pinned, as
        Arrow; None past the cap. When the rows fit, the pin is dropped and the
        caller works from the table. Past the cap the collect has filled the
        pin, so the pinned frame's consumers read the cache: the lineage runs
        once on either side of the cap."""
        rows = pinned.limit(BROADCAST_ROWS + 1).toArrow()
        if rows.num_rows > BROADCAST_ROWS:
            return None
        self.pins.remove(pinned)
        pinned.unpersist()
        return rows

    def local(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """The size gate of every join build side whose size depends on the
        data (dup phashes, decision tables, dup spans, elected ids, eval
        shingles): `(frame, fits)`.

        The frame is pinned and `bounded_collect`ed. When the rows fit they
        come back as a broadcast-hinted local relation: consumers never re-run
        the lineage, and building the broadcast takes no Spark job. Past the
        cap the pinned frame comes back un-hinted, so its joins shuffle."""
        pinned = self.pin(df)
        rows = self.bounded_collect(pinned)
        if rows is None:
            return pinned, False
        return F.broadcast(df.sparkSession.createDataFrame(rows, schema=df.schema)), True

    def snapshot(self, df: DataFrame) -> DataFrame:
        """An eager localCheckpoint of `df`, released with the record. Only
        for frames consumed inside the record: a released snapshot cannot be
        recomputed (its lineage is truncated)."""
        snap = df.localCheckpoint(eager=True)
        self.snapshots.append(snap)
        return snap

    @contextmanager
    def step(self, name: str) -> Iterator[None]:
        """Wall-time a step of the run into `steps`."""
        t0 = time.perf_counter()
        yield
        self.steps.append((name, time.perf_counter() - t0))

    def observe_candidates(self, cand: DataFrame, op: str) -> DataFrame:
        """Attach a named count to a candidate-pair frame. The count rides the
        consuming action (an `observe` node costs one long per task, no extra
        job), so a banding regression shows up as a candidate count instead
        of silently burned cluster time."""
        obs = Observation()
        self.observations[op] = obs
        return cand.observe(obs, F.count(F.lit(1)).alias("candidates"))

    def candidates(self) -> dict[str, int | None]:
        """{op: candidate count}; None where the count cannot be read (see
        `candidate_reasons`). Never blocks.

        A known gap: when the consuming query's result is empty, AQE's
        `AQEPropagateEmptyRelation` re-plans the stages after the candidate
        stage to an empty relation and the metrics row arrives empty. A
        caller that needs the count on empty results excludes that one rule
        via `spark.sql.adaptive.optimizer.excludedRules`, as the filter
        jobs' write step does."""
        return {op: _read_count(obs)[0] for op, obs in self.observations.items()}

    def candidate_reasons(self) -> dict[str, str]:
        """{op: why its count is None} for every unreadable candidate count."""
        reads = {op: _read_count(obs)[1] for op, obs in self.observations.items()}
        return {op: why for op, why in reads.items() if why is not None}

    def release(self) -> int:
        """Unpersist every pin and free every snapshot; returns the pin count."""
        n = 0
        while self.pins:
            try:
                self.pins.pop().unpersist()
                n += 1
            except Exception:
                pass
        while self.snapshots:
            release_snapshot(self.snapshots.pop())
        return n


_THREAD = threading.local()  # .stack = [the thread's ambient record, open records...]


def _stack() -> list[RunRecord]:
    stack = getattr(_THREAD, "stack", None)
    if stack is None:
        stack = _THREAD.stack = [RunRecord()]
    return stack


def current() -> RunRecord:
    """The calling thread's innermost open record, or its ambient record."""
    return _stack()[-1]


def ambient() -> RunRecord:
    """The record the calling thread uses outside any `run_record()` block."""
    return _stack()[0]


@contextmanager
def run_record() -> Iterator[RunRecord]:
    """Open a record on the calling thread. On exit its pins and snapshots
    are released, and its steps and candidate observations pass to the
    enclosing record, if one is open."""
    rec = RunRecord()
    stack = _stack()
    stack.append(rec)
    try:
        yield rec
    finally:
        stack.remove(rec)
        rec.release()
        if len(stack) > 1:
            stack[-1].steps.extend(rec.steps)
            stack[-1].observations.update(rec.observations)
