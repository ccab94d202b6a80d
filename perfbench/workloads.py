"""The workloads. Each is a single-client closed loop of one operation:

* filter_batch  — one `run_filter` call over the seeded pre-bucketed fixture,
                  into a fresh output and checkpoint directory;
* query_mix     — one pass over QUERIES: build the DataFrame, then toPandas().

The traced filter_batch run also drives the streaming job (StreamProbe).

A workload prepares its inputs, computes its expected outputs while the
discarded warm-up operation runs, exposes `before(i)` (untimed) and `op(i)`
(timed) to the loop, checks its outputs outside the timed region, and in a
traced run measures its layers.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from perfbench import harness, inputs, tracing

# every filter operation uses the library defaults: 64 buckets, map-side fused UDF
BATCH_IMAGES = 20_000
STREAM_ARRIVAL_IMAGES = 400
STREAM_ARRIVALS = 3  # the first is discarded
# one driver-contract query per layer family, see README.md
QUERIES = [
    "rule_violations_lineitem",            # plans / profiler
    "model_scores_documents",              # functions: langid + perplexity UDF
    "neardup_clusters_minhash_documents",  # operators.dedup
    "ann_ivf_topk_embeddings",             # operators.similarity
    "quality_threshold_sweep_by_lang",     # operators.curation
]
# the sf0.01 tables those queries read, copied under perfbench/data/sf0.01
TABLES = ["lineitem", "documents", "embeddings"]


class Context:
    def __init__(self, root: str, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(work, "cache")
        self.runs = os.path.join(work, "runs", str(os.getpid()))
        self.event_log = os.path.join(self.runs, "eventlog")
        for d in (self.cache, self.runs, self.event_log):
            os.makedirs(d, exist_ok=True)


class Workload:
    name = ""
    # prefixes of the per-layer metrics every workload collects, and those of
    # this workload's own layers
    COMMON_LAYERS = ("session.", "setup.inputs_s", "setup.warmup_s", "host.",
                     "engine.", "python.", "trace.")
    own_layers: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.windows: tracing.Windows | None = None  # set for the traced loop
        self.layers: dict[str, float | None] = {}
        self.failed_checks = 0
        # operations run by the traced probes, counted in attempted / failed
        self.probe_calls = 0
        self.probe_failed = 0

    def prepare(self, spark) -> None:
        """Make or find the inputs (the first session of the run)."""

    def check_caches(self) -> None:
        """Verify cached inputs (part of every session set-up)."""

    def before(self, i: int) -> None:
        """Untimed step before op(i)."""

    def op(self, spark, i: int) -> None:
        raise NotImplementedError

    def items_per_op(self) -> int:
        raise NotImplementedError

    def ops_per_call(self) -> int:
        """Operations counted in `attempted` per op() call."""
        return 1

    def failed_ops(self, failed_calls: int) -> int:
        """Operations that failed, given the op() calls that raised."""
        return failed_calls

    def expect(self) -> None:
        """Compute the expected outputs (no Spark; runs on a thread while the
        warm-up operations run)."""

    def check(self, spark) -> None:
        """Check the outputs against the expected ones; count every failure
        with fail()."""

    def fail(self, what: str) -> None:
        self.failed_checks += 1
        print(f"[perfbench] {self.name} check failed: {what}", file=sys.stderr, flush=True)

    def start_tracing(self) -> None:
        """Traced run only: called before the traced loop."""

    def stop_tracing(self, op_times: list[float]) -> None:
        """Traced run only: called after the traced loop."""

    def probes(self, spark) -> None:
        """Traced run only: per-layer measurements beyond the op windows."""

    def after_session(self, op_p50: float | None) -> None:
        """Traced run only: called after the main session has stopped."""

    def engine_layers(self, rows: dict[str, dict[str, float]]) -> None:
        """Traced run only: per-layer metrics from the event log, charged per
        window name (see tracing.Windows)."""

    def runs_layer(self, metric: str) -> bool:
        return metric.startswith(self.COMMON_LAYERS + self.own_layers)

    def window(self, name: str, fn, *args):
        if self.windows is None:
            return fn(*args)
        return self.windows.run(name, fn, *args)


def _kept_from_dir(path: str):
    """{image_id: scrubbed_caption} of a filter output dir, and its row count."""
    import pyarrow.dataset as ds

    # partition dirs are `_bucket=NN`: only skip hidden files and _SUCCESS
    t = ds.dataset(path, format="parquet", partitioning="hive",
                   ignore_prefixes=[".", "_SUCCESS"]).to_table(
        columns=["image_id", "scrubbed_caption"]
    )
    ids = t.column("image_id").to_pylist()
    caps = t.column("scrubbed_caption").to_pylist()
    return dict(zip(ids, caps)), len(ids)


# ── filter_batch ──

class FilterBatch(Workload):
    name = "filter_batch"
    own_layers = ("batch.", "stream.")

    def prepare(self, spark) -> None:
        from data_quality_check_spark.pipeline.run import FilterConfig

        self.buckets = FilterConfig().num_buckets
        self.pool = inputs.image_pool(spark, self.ctx.cache, self.buckets)
        self.fixture, self.pdf = inputs.batch_fixture(
            self.pool, self.ctx.cache, self.ctx.seed, BATCH_IMAGES, self.buckets
        )
        self.fixture_bytes = tracing.dir_stats(self.fixture)[1]
        self.out_dirs: list[str] = []
        self.write_amps: list[float] = []

    def check_caches(self) -> None:
        if inputs.parquet_rows(self.fixture) != len(self.pdf):
            raise RuntimeError("batch fixture cache has the wrong row count")

    def items_per_op(self) -> int:
        return len(self.pdf)

    def before(self, i: int) -> None:
        # keep only the newest output: the check reads it
        while len(self.out_dirs) > 1:
            shutil.rmtree(self.out_dirs.pop(0), ignore_errors=True)

    def op(self, spark, i: int) -> None:
        from data_quality_check_spark.pipeline.run import FilterConfig, run_filter

        out = os.path.join(self.ctx.runs, f"batch-{len(self.out_dirs)}-{time.time_ns()}")
        self.out_dirs.append(out)
        cfg = FilterConfig(run_id=f"perfbench-{i}")
        s = self.window(
            f"op.{i}", run_filter, spark, self.fixture,
            os.path.join(out, "out"), os.path.join(out, "ckpt"), cfg,
        )
        if s["rows_in"] != len(self.pdf) or len(s["processed_buckets"]) != self.buckets:
            raise RuntimeError(f"run_filter summary {s} does not cover the input")
        if self.windows is not None:
            self.write_amps.append(tracing.dir_stats(out)[1] / self.fixture_bytes)

    def stop_tracing(self, op_times: list[float]) -> None:
        self.traced_p50 = harness.median(op_times)
        self.layers["batch.write_amp"] = harness.median(self.write_amps)

    def expect(self) -> None:
        from data_quality_check_spark.pipeline.reference_impl import compute_golden

        self.golden = compute_golden(self.pdf).drop_duplicates(
            subset=["image_id"]).set_index("image_id")

    def check(self, spark) -> None:
        g = getattr(self, "golden", None)
        if g is None:
            return  # expect() failed, which is counted
        kept, n_rows = _kept_from_dir(os.path.join(self.out_dirs[-1], "out", "filtered"))
        want = set(g.index[g["keep"]])
        got = set(kept)
        tp, fp, fn = len(got & want), len(got - want), len(want - got)
        p, r = tp / max(tp + fp, 1), tp / max(tp + fn, 1)
        f1 = 2 * p * r / max(p + r, 1e-9)
        if f1 < 0.99:
            self.fail(f"keep/drop F1 {f1:.4f} < 0.99")
        if n_rows != len(got):
            self.fail(f"{n_rows} kept rows for {len(got)} ids")
        bad = [i for i in got & want if kept[i] != g.at[i, "scrubbed_caption"]]
        if bad:
            self.fail(f"{len(bad)} scrubbed captions differ, e.g. {bad[0]}")

    def probes(self, spark) -> None:
        """Prefix timings to a noop sink, the dedup decisions, and the
        streaming probe."""
        from pyspark.sql import functions as F

        from data_quality_check_spark.functions.fused import with_model_scores_fused
        from data_quality_check_spark.operators.dedup import release_pins
        from data_quality_check_spark.pipeline.heuristics import with_flags
        from data_quality_check_spark.pipeline.run import (
            FilterConfig, decisions_for, finalize, score_rows, with_rid,
        )

        cfg = FilterConfig()
        df = with_rid(spark.read.parquet(self.fixture))
        dups = decisions_for(df, cfg).persist()
        n_dups = dups.count()
        prefixes = {
            "scan": df,
            "flags": with_flags(df),
            "fused": with_model_scores_fused(with_flags(df)),
            "finalize": finalize(score_rows(df, cfg), cfg, F.broadcast(dups)),
        }
        times: dict[str, list[float]] = {k: [] for k in prefixes}
        dup_times = []
        for rep in range(2):
            for name, plan in prefixes.items():
                t0 = time.perf_counter()
                self.window(f"probe.{name}.{rep}", tracing.noop_write, plan)
                times[name].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            rows = self.window(f"probe.dups.{rep}", lambda: decisions_for(df, cfg).count())
            dup_times.append(time.perf_counter() - t0)
            release_pins()
        dups.unpersist()
        release_pins()
        cum = {k: harness.median(v) for k, v in times.items()}
        self.layers.update({
            "batch.scan_s": cum["scan"],
            "batch.flags_s": cum["flags"] - cum["scan"],
            "batch.fused_s": cum["fused"] - cum["flags"],
            "batch.finalize_s": cum["finalize"] - cum["fused"],
            "batch.dup_decisions_s": harness.median(dup_times),
            "batch.dup_decision_rows": float(rows),
        })
        if self.traced_p50 is not None:
            # what run_filter spends beyond its measured prefixes and dedup
            # decisions: the write, the commit and the checkpoint
            self.layers["batch.write_commit_s"] = (
                self.traced_p50 - cum["finalize"] - self.layers["batch.dup_decisions_s"]
            )
        if rows != n_dups:
            self.fail("dup decisions differ between two evaluations")
        attempted, failed = StreamProbe(self).run(spark)
        self.probe_calls += attempted
        self.probe_failed += failed

    def engine_layers(self, rows: dict[str, dict[str, float]]) -> None:
        arrivals = [v for k, v in rows.items()
                    if k.startswith("stream.") and not k.startswith("stream.-")]
        self.layers["stream.jobs_per_arrival"] = harness.median([a["jobs"] for a in arrivals])

    def after_session(self, op_p50: float | None) -> None:
        """Images/s of run_filter at local[1] (the JVM is already warm) and
        the scaling efficiency of local[N] against it."""
        from data_quality_check_spark.pipeline.run import FilterConfig, run_filter

        spark = harness.start_session(1, self.ctx.event_log)
        try:
            harness.warm_workers(spark, 1)
            out = os.path.join(self.ctx.runs, "scale1")
            t0 = time.perf_counter()
            run_filter(spark, self.fixture, os.path.join(out, "out"),
                       os.path.join(out, "ckpt"), FilterConfig(run_id="perfbench-scale1"))
            dt = time.perf_counter() - t0
        finally:
            spark.stop()
        per_s_1 = len(self.pdf) / dt
        self.layers["batch.images_per_s_local1"] = per_s_1
        if op_p50:
            self.layers["batch.scaling_eff_1vN"] = (
                len(self.pdf) / op_p50 / (self.ctx.cores * per_s_1)
            )


# ── streaming probe (traced filter_batch run) ──

class StreamProbe:
    """Land one arrival file, then time one `run_stream_filter`
    (AvailableNow) call that drains it; the first arrival is discarded.
    A StreamingQueryListener splits each call into the streaming phases."""

    def __init__(self, wl: FilterBatch):
        self.wl = wl
        self.arrivals = inputs.stream_arrivals(
            wl.pool, wl.ctx.cache, wl.ctx.seed, STREAM_ARRIVALS, STREAM_ARRIVAL_IMAGES
        )
        base = os.path.join(wl.ctx.runs, "stream")
        self.landing = os.path.join(base, "landing")
        self.out = os.path.join(base, "out")
        self.ckpt = os.path.join(base, "ckpt")
        os.makedirs(self.landing)
        self.landed = 0
        self.landed_bytes = 0
        self.arrival_rows: list[int] = []
        self.files_written: list[int] = []

    def _written(self) -> tuple[int, int]:
        a, b = tracing.dir_stats(self.out), tracing.dir_stats(self.ckpt)
        return a[0] + b[0], a[1] + b[1]

    def before(self, i: int) -> None:
        src = self.arrivals[self.landed]
        shutil.copy(src, os.path.join(self.landing, os.path.basename(src)))
        self.landed += 1
        self.landed_bytes += os.path.getsize(src)
        self.arrival_rows.append(inputs.parquet_rows(src))
        self._files0 = self._written()[0]

    def op(self, spark, i: int) -> None:
        from data_quality_check_spark.pipeline.run import FilterConfig
        from data_quality_check_spark.streaming.stream_filter import run_stream_filter

        cfg = FilterConfig(run_id=f"perfbench-stream-{i}")
        s = self.wl.window(f"stream.{i}", run_stream_filter, spark, self.landing,
                           self.out, self.ckpt, cfg)
        if s["batches"] != 1 or s["rows_in"] != self.arrival_rows[-1]:
            raise RuntimeError(f"run_stream_filter summary {s} does not match one arrival")
        self.files_written.append(self._written()[0] - self._files0)

    def run(self, spark) -> tuple[int, int]:
        """Returns (arrivals attempted, arrivals failed)."""
        warm, warm_failed = harness.timed_loop(
            lambda i: self.op(spark, -1), 0, before=self.before)
        listener = tracing.progress_listener()
        spark.streams.addListener(listener)
        try:
            times, failed = harness.timed_loop(
                lambda i: self.op(spark, i), 0, before=self.before,
                min_ops=STREAM_ARRIVALS - 1)
            listener.wait_terminated(len(times) + failed)
        finally:
            spark.streams.removeListener(listener)
        progress = [p for p in listener.take() if p["rows"] > 0]

        def med(key: str) -> float | None:
            return harness.median([p["ms"].get(key, 0) / 1000 for p in progress])

        trig, p50 = med("triggerExecution"), harness.median(times)
        self.wl.layers.update({
            "stream.arrival_p50_s": p50,
            "stream.trigger_s": trig,
            "stream.add_batch_s": med("addBatch"),
            "stream.query_planning_s": med("queryPlanning"),
            "stream.wal_commit_s": med("walCommit"),
            "stream.commit_offsets_s": med("commitOffsets"),
            "stream.latest_offset_s": med("latestOffset"),
            "stream.lifecycle_s": p50 - trig if p50 is not None and trig is not None else None,
            "stream.files_written_per_arrival": harness.median(self.files_written[1:]),
            "stream.write_amp": self._written()[1] / self.landed_bytes,
        })
        self.check(spark)
        return len(warm) + warm_failed + len(times) + failed, warm_failed + failed

    def check(self, spark) -> None:
        """Kept rows must equal a batch run_filter over the same landed files."""
        from data_quality_check_spark.pipeline.run import FilterConfig, run_filter

        bout = os.path.join(self.wl.ctx.runs, "stream-batch-check")
        run_filter(spark, self.landing, os.path.join(bout, "out"),
                   os.path.join(bout, "ckpt"), FilterConfig(run_id="perfbench-check"))
        got, n_got = _kept_from_dir(os.path.join(self.out, "filtered"))
        want, _ = _kept_from_dir(os.path.join(bout, "out", "filtered"))
        if n_got != len(got):
            self.wl.fail(f"{n_got} kept stream rows for {len(got)} ids")
        if got != want:
            diff = set(got) ^ set(want)
            self.wl.fail(f"stream and batch kept rows differ ({len(diff)} ids, "
                         f"{sum(got[k] != want[k] for k in set(got) & set(want))} captions)")


# ── query_mix ──

class QueryMix(Workload):
    name = "query_mix"
    own_layers = ("q.", "queries.", "setup.scratch_build_s")

    def prepare(self, spark) -> None:
        import data_quality_check_spark.entry_queries as EQ

        # The tables are the fixed driver tables, so the scratch caches the
        # queries build over them stay warm from run to run. The seed changes
        # nothing here: a seeded query order moved every query's time with
        # its place in the pass.
        self.tables = inputs.TABLES_DIR
        # some oracles are built lazily from ORACLE_SF_DIR: point it at the
        # checkout's copy of the tables
        EQ.ORACLE_SF_DIR = self.tables
        self.expected: dict[str, object] = {}
        self.fns = EQ.queries()
        self.failed_queries = 0
        self.results: dict[str, object] = {}
        self.query_times: dict[str, list[tuple[float, float]]] = {q: [] for q in QUERIES}

    def check_caches(self) -> None:
        for t in TABLES:
            if not os.path.exists(os.path.join(self.tables, f"{t}.parquet")):
                raise RuntimeError(f"{self.tables} is missing {t}.parquet")

    def items_per_op(self) -> int:
        return len(QUERIES)

    def ops_per_call(self) -> int:
        return len(QUERIES)

    def run_pass(self, spark, tag: str) -> dict[str, tuple[float, float]]:
        """Build and collect every query once; returns {query: (build_s, run_s)}
        of those that succeeded. Windows are named `<tag>.q.<query>.build|run`."""
        from data_quality_check_spark.operators.dedup import release_pins

        times, failed = {}, []
        for q in QUERIES:
            t0 = time.perf_counter()
            try:
                df = self.window(f"{tag}.q.{q}.build", self.fns[q], spark, self.tables)
                t1 = time.perf_counter()
                self.results[q] = self.window(f"{tag}.q.{q}.run", df.toPandas)
            except Exception as exc:  # one query failing must not hide the others
                failed.append(f"{q}: {exc!r}")
                self.results.pop(q, None)
                continue
            finally:
                release_pins()
            times[q] = (t1 - t0, time.perf_counter() - t1)
        print(f"[perfbench] {tag}: " + ", ".join(
            f"{q} {b:.2f}+{r:.2f}" for q, (b, r) in times.items()), file=sys.stderr, flush=True)
        if failed:
            self.failed_queries += len(failed)
            raise RuntimeError("; ".join(failed))
        return times

    def op(self, spark, i: int) -> None:
        for q, t in self.run_pass(spark, f"op.{i}").items():
            self.query_times[q].append(t)

    def failed_ops(self, failed_calls: int) -> int:
        return self.failed_queries

    def start_tracing(self) -> None:
        self.query_times = {q: [] for q in QUERIES}
        self.traced_passes = 0

    def stop_tracing(self, op_times: list[float]) -> None:
        self.traced_passes = len(op_times)
        for q, times in self.query_times.items():
            self.layers[f"q.{q}.build_s"] = harness.median([b for b, _ in times])
            self.layers[f"q.{q}.run_s"] = harness.median([r for _, r in times])
        self.layers["queries.build_s"] = sum(
            self.layers[f"q.{q}.build_s"] or 0.0 for q in QUERIES)
        self.layers["queries.run_s"] = sum(
            self.layers[f"q.{q}.run_s"] or 0.0 for q in QUERIES)

    def probes(self, spark) -> None:
        """One pass against empty scratch caches: the cold build the warm
        passes are spared."""
        import tempfile

        cold = os.path.join(self.ctx.runs, "cold-tmp")
        os.makedirs(cold)
        prev, tempfile.tempdir = tempfile.tempdir, cold
        try:
            t0 = time.perf_counter()
            self.run_pass(spark, "cold")
            self.layers["setup.scratch_build_s"] = time.perf_counter() - t0
        except RuntimeError:
            pass  # counted in failed_queries by run_pass
        finally:
            tempfile.tempdir = prev
            self.probe_calls += len(QUERIES)

    def engine_layers(self, rows: dict[str, dict[str, float]]) -> None:
        passes = max(self.traced_passes, 1)
        jobs = tasks = 0.0
        for q in QUERIES:
            mine = tracing.total(
                rows, [n for n in rows if n.startswith("op.") and f".q.{q}." in n])
            self.layers[f"q.{q}.jobs"] = mine["jobs"] / passes
            jobs += mine["jobs"]
            tasks += mine["tasks"]
        self.layers["queries.jobs"] = jobs / passes
        self.layers["queries.tasks"] = tasks / passes

    def expect(self) -> None:
        import data_quality_check_spark.entry_queries as EQ
        from data_quality_check_spark.testing import duck_connection

        oracles = EQ.oracle_sql()
        con = duck_connection(self.tables)
        try:
            self.expected = {q: con.execute(oracles[q]).df() for q in QUERIES}
        finally:
            con.close()

    def check(self, spark) -> None:
        from data_quality_check_spark.testing import compare_result

        for q in QUERIES:
            if q not in self.expected:
                continue  # expect() failed, which is counted
            if q not in self.results:
                self.fail(f"{q} has no result")
                continue
            ok, msg = compare_result(self.results[q], self.expected[q])
            if not ok:
                self.fail(f"{q}: {msg}")


WORKLOADS = {w.name: w for w in (FilterBatch, QueryMix)}
