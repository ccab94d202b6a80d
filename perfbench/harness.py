"""Session lifecycle, the timed loop, and /proc readers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import threading
import time

DRIVER_MEMORY = "2g"
WARM_SETUPS = 3  # setup_s is the median of this many set-ups in a running JVM


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


# ── Spark session ──

def spark_conf(event_log_dir: str | None) -> dict[str, str]:
    conf = {"spark.driver.memory": DRIVER_MEMORY, "spark.ui.enabled": "false"}
    if event_log_dir:
        # Spark 4 compresses event logs by default; the parser reads plain JSON
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(cores: int, event_log_dir: str | None):
    from data_quality_check_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf=spark_conf(event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(it):
    # per-worker package import + trigram model build, paid once per worker
    from data_quality_check_spark.functions.textmodel import default_model

    default_model()
    yield from it


def warm_workers(spark, cores: int) -> None:
    """Spawn one python worker per core and load the package into it."""
    spark.range(cores * 1000, numPartitions=cores).mapInPandas(_warm, "id long").count()


def first_session(cores: int, prepare) -> tuple[object, dict]:
    """Start the first session (this launches the JVM) and make the inputs
    with it (`prepare(spark)`). The JVM launch is reported on its own as
    `session.first_start_s`, not as part of `setup_s`."""
    t0 = time.perf_counter()
    spark = start_session(cores, None)
    t1 = time.perf_counter()
    prepare(spark)
    return spark, {
        "session.first_start_s": t1 - t0,
        "setup.inputs_s": time.perf_counter() - t1,
    }


def timed_setups(spark, cores: int, check_caches) -> tuple[object, dict]:
    """WARM_SETUPS set-ups in the running JVM, each one: stop the session,
    start a new one, warm its python workers, check the input caches.
    `setup_s` is their median. They run after the discarded warm-up
    operation, so that none of them pays the JVM's class loading and JIT
    compilation, which the first session after launch would (~10 s against
    ~3.5 s on 4 cores) and which made the median swing with it."""
    runs = []
    for _ in range(WARM_SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores, None)
        t1 = time.perf_counter()
        warm_workers(spark, cores)
        t2 = time.perf_counter()
        check_caches()
        runs.append((time.perf_counter() - t0, t1 - t0, t2 - t1))
    return spark, {
        "setup_s": median([r[0] for r in runs]),
        "session.start_s": median([r[1] for r in runs]),
        "session.worker_warm_s": median([r[2] for r in runs]),
        "setups": [round(r[0], 3) for r in runs],  # logged, not a metric
    }


def shut_down(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit (its python
    worker daemon exits with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ── timed loop ──

def timed_loop(op, seconds: float, before=None, min_ops: int = 1) -> tuple[list[float], int]:
    """Closed loop, one client: call before(i) untimed, then op(i) timed, back
    to back until `seconds` have passed and at least `min_ops` calls were
    made. Returns the wall times of the calls that succeeded and the number
    that raised."""
    times, failed, i = [], 0, 0
    deadline = time.perf_counter() + seconds
    while i < min_ops or time.perf_counter() < deadline:
        try:
            if before is not None:
                before(i)
            t0 = time.perf_counter()
            op(i)
        except Exception as exc:  # counted in `failed`, the run goes on
            failed += 1
            print(f"[perfbench] op {i} failed: {exc!r}", file=sys.stderr, flush=True)
        else:
            times.append(time.perf_counter() - t0)
        i += 1
    return times, failed


# ── /proc readers ──

_HZ = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> list[int]:
    """Proportional set size of `root` and of each of its live descendants:
    RSS with every shared page divided among the processes that map it. The
    python workers are forks of one daemon, so summing their RSS would count
    the pages they share with it once per worker."""
    out = []
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        out.append(int(line.split()[1]) * 1024)
                        break
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the live tree, including reaped children of its members."""
    ticks = 0
    for pid in process_tree(root):
        st = _proc_stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return ticks / _HZ


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole host since boot; steal is time
    the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    busy = f[0] + f[1] + f[2] + f[5] + f[6]  # user nice system irq softirq
    return busy / _HZ, f[7] / _HZ


class RssSampler:
    """Peak memory (summed PSS) of this process and every descendant (driver
    JVM, python workers), sampled from /proc on a background thread."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.peak_procs: list[int] = []  # bytes of each process at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def _sample(self) -> None:
        procs = tree_pss_bytes(os.getpid())
        if sum(procs) > self.peak:
            self.peak, self.peak_procs = sum(procs), procs

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


class HostNoise:
    """Cores kept busy by processes outside this benchmark's tree, and cores
    stolen by the hypervisor, while the measured window ran (/proc/stat).
    Recorded, never waited on."""

    def __enter__(self) -> "HostNoise":
        self._t0 = time.perf_counter()
        self._host0 = host_cpu_s()
        self._mine0 = tree_cpu_s(os.getpid())
        return self

    def __exit__(self, *exc) -> None:
        wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._host0, host_cpu_s()))
        other = busy - (tree_cpu_s(os.getpid()) - self._mine0)
        self.other_busy_cores = max(other, 0.0) / wall
        self.steal_cores = steal / wall
