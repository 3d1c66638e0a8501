"""Shared benchmark machinery: the metric tables, the session and
set-up timing, memory sampling, and result collection."""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload name -> the module that runs it
WORKLOADS = {
    "live_ingest": "live",
    "spool_backlog": "backlog",
}
SETUP_REPEATS = 5

#: every workload reports each of these (name -> unit)
END_TO_END = {
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "success_share": "share",
}

#: the traced run of every workload reports each of these; a layer the
#: workload never calls reads 0 (name -> unit)
PER_LAYER = {
    "gen.late_ms_p99": "ms",
    "sources.lag_rows_p99": "rows",
    "extraction.rows_per_s": "rows/s",
    "packs.state_rows": "rows",
    "packs.state_bytes": "bytes",
    "packs.update_ms": "ms",
    "packs.commit_ms": "ms",
    "pipeline.epoch_s_p50": "s",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "sink.write_s_p50": "s",
    "sink.files": "count",
    "sink.bytes": "bytes",
    "pack.with_pack_id_s": "s",
    "pack.backfill_rows_per_s_1slot": "rows/s",
    "packstore.read_packs_s": "s",
    "stage.drain_rows_per_s": "rows/s",
    "stage.backfill_rows_per_s": "rows/s",
    "stage.readback_rows_per_s": "rows/s",
    "self_s.sources": "s",
    "self_s.drain": "s",
    "self_s.backfill": "s",
    "self_s.extraction": "s",
    "self_s.sink": "s",
    "self_s.pack": "s",
    "self_s.packstore": "s",
    "trace.overhead_s": "s",
}


def _cpus() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside *work*.
    Memory settings stay the program's own."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONWARNINGS"] = "ignore"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.local.dir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sequence."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class MemSampler:
    """Peak memory of the engine over the points a workload samples it:
    the driver JVM's heap in use right after a full collection (its live
    set, read through py4j), plus its non-heap use (metaspace, code
    cache), plus the proportional set size (Pss, from /proc) of the
    PySpark Python worker processes. Sampling forces a collection, so
    workloads sample outside their timed sections."""

    def __init__(self):
        self.peak_bytes = 0

    @staticmethod
    def _worker_pss_kb() -> int:
        """Pss of every ``pyspark.daemon`` process (the daemon and the
        workers it forks) descending from this process."""
        parent, cmds = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{name}/cmdline", "rb") as fh:
                    cmds[int(name)] = fh.read()
            except OSError:
                continue
            parent[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
        me, total = os.getpid(), 0
        for pid, cmd in cmds.items():
            if b"pyspark.daemon" not in cmd:
                continue
            p = parent.get(pid)
            while p not in (None, 0, 1, me):
                p = parent.get(p)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def sample(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        heap = rt.totalMemory() - rt.freeMemory()
        non_heap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                    .getNonHeapMemoryUsage().getUsed())
        workers = self._worker_pss_kb() * 1024
        self.peak_bytes = max(self.peak_bytes, heap + non_heap + workers)
        print(f"memory: heap {heap / 2**20:.1f} MB, non-heap "
              f"{non_heap / 2**20:.1f} MB, workers {workers / 2**20:.1f} MB",
              file=sys.stderr)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


class Bench:
    """What a workload gets: arguments, its work dir, the tracer, the
    session, memory sampling and result assembly."""

    def __init__(self, args, work: str, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = tracer
        self.cpus = _cpus()
        self.mem = MemSampler()
        self.spark = None
        self.attempted = 0
        self.errors: list[str] = []
        self.summary: dict[str, tuple[float, str]] = {}
        self.marks: list[tuple[str, float]] = [("start", time.monotonic())]

    def mark(self, phase: str) -> None:
        """Note the end of a run phase (printed to stderr at exit)."""
        self.marks.append((phase, time.monotonic()))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session ----------------------------------------------------------
    def start_session(self, cpus: int | None = None):
        from tower_parse_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=str(cpus or self.cpus))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, prepare) -> float:
        """Set up SETUP_REPEATS times — each a fresh session plus
        *prepare(i)* — and return the median time. The first repeat also
        launches the JVM; later ones restart the SparkContext in it."""
        times = []
        for i in range(SETUP_REPEATS):
            self.stop_session()
            t0 = time.monotonic()
            self.start_session()
            prepare(i)
            times.append(time.monotonic() - t0)
            self.mark(f"setup{i}")
        return statistics.median(times)

    def sample_memory(self) -> None:
        self.mem.sample(self.spark)

    @contextmanager
    def untraced(self):
        """Run a block (a warm-up, a baseline) without tracing."""
        saved = self.traced, self.tracer.enabled
        self.traced = self.tracer.enabled = False
        try:
            yield
        finally:
            self.traced, self.tracer.enabled = saved

    def wait(self, query, timeout_s: float = 150.0, until=None) -> None:
        """Poll *query* until it stops (or *until()* is true); re-raise a
        query failure."""
        deadline = time.monotonic() + timeout_s
        while query.isActive and not (until and until()):
            if time.monotonic() > deadline:
                query.stop()
                raise TimeoutError(f"query {query.name} did not finish")
            time.sleep(0.2)
        exc = query.exception()
        if exc is not None:
            raise RuntimeError(f"query {query.name} failed: {exc}")

    # -- results ----------------------------------------------------------
    def report(self, name: str, value: float, unit: str) -> None:
        """A human-readable figure printed before the JSON line."""
        self.summary[name] = (value, unit)

    def check(self, errors: list[str]) -> None:
        self.errors.extend(errors)


def shutdown_jvm() -> None:
    """Stop the JVM the session launched and wait for it to exit."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
