"""One benchmark run: isolated state, the Spark session, operation and
failure accounting, host context and memory."""

from __future__ import annotations

import contextlib
import os
import shutil
import time
import traceback

from perfbench import spans


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> list[int]:
    """The host's aggregate CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings (steal is the eighth counter)."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    # a quarter of the host, 1-4 GiB: the inputs here are tens of MB
    return f"{max(1, min(4, int(host_mem_gb() // 4)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def _reap_dead_runs(runs: str) -> None:
    """Remove run directories left by killed runs (their pid has exited)."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


class OpFailed(Exception):
    """An operation finished but its result is unusable (e.g. a stream that
    did not terminate)."""


class Run:
    """State of one benchmark process.

    Everything the run writes lives under ``run_dir`` inside the
    benchmark's own tree and is removed by :meth:`close`.
    """

    def __init__(self, root: str, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        runs = os.path.join(root, "perfbench", ".runs")
        _reap_dead_runs(runs)
        self.run_dir = os.path.join(runs, f"{workload}-{seed}-{os.getpid()}")
        for sub in ("scratch", "tmp", "local", "events", "data"):
            os.makedirs(os.path.join(self.run_dir, sub))
        self.data_dir = os.path.join(self.run_dir, "data")
        self.cpus = host_cpus()
        os.environ.update(
            {
                "SPARK_GRAFT_SCRATCH": os.path.join(self.run_dir, "scratch"),
                "SPARK_GRAFT_CPUS": str(self.cpus),
                "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
                "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "local"),
                "TMPDIR": os.path.join(self.run_dir, "tmp"),
                # every JVM, the launcher's too: temp files in the run
                # directory and no hsperfdata files under /tmp
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
            }
        )
        self.confs = {
            # session.py reads SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM into
            # its defaults when it is imported, which is before this runs;
            # only local[N] reads the variable at session start
            "spark.sql.shuffle.partitions": str(self.cpus),
            "spark.driver.memory": driver_mem(),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if trace:
            self.confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": os.path.join(self.run_dir, "events"),
                    # Spark 4 compresses with zstd by default; this Python
                    # has no zstd module to read it back
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = None
        self.tracer = spans.Tracer(f"{workload}-{seed}", lambda: self.spark.sparkContext) if trace else spans.NullTracer()
        self.attempted = 0
        self.failures: list[dict] = []
        self.op_times: dict[str, list[float]] = {}

    # -- session ---------------------------------------------------------------

    def start_session(self) -> None:
        """Start a SparkSession; the JVM is launched by the first one and
        kept across restarts."""
        from mlops_pipelines_featurestore_gcp_spark import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}", **self.confs)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        total = vm_hwm_mb("self")
        pid = self.jvm_pid()
        if pid is not None:
            total += vm_hwm_mb(pid)
        return total

    def stop_streams(self) -> int:
        """Stop every active stream; returns how many were still active."""
        if self.spark is None:
            return 0
        active = list(self.spark.streams.active)
        for q in active:
            q.stop()
        return len(active)

    def close(self) -> None:
        """Stop Spark and the JVM, wait for it to exit, remove run state."""
        from pyspark import SparkContext

        try:
            self.stop_session()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the gateway exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait(timeout=30)
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- operations --------------------------------------------------------------

    def op(self, name: str, fn):
        """Run one operation under a span; time it, count it, and record
        (never swallow silently) any exception with its workload and name."""
        self.attempted += 1
        # a wrapped public function opens its own span
        span = contextlib.nullcontext() if name in self.tracer.patched else self.tracer.span(name)
        t0 = time.perf_counter()
        try:
            with span:
                out = fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            self.fail(name, f"{type(exc).__name__}: {exc}", traceback.format_exc())
            return None
        self.op_times.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def fail(self, name: str, message: str, tb: str = "") -> None:
        self.failures.append({"workload": self.workload, "op": name, "error": message[:2000], "traceback": tb[-4000:]})

    def check(self, name: str, fn) -> None:
        """An output check: counted as attempted; a mismatch or an error
        counts as failed."""
        self.attempted += 1
        try:
            problem = fn()
        except Exception as exc:
            self.fail(f"check.{name}", f"{type(exc).__name__}: {exc}", traceback.format_exc())
            return
        if problem:
            self.fail(f"check.{name}", problem)

    def await_stream(self, query, timeout_s: float) -> None:
        """Wait for an ``availableNow`` stream to drain. A stream that does
        not terminate in time is stopped and counted as failed."""
        done = query.awaitTermination(timeout_s)
        if not done:
            query.stop()
            raise OpFailed(f"stream {query.id} still active after {timeout_s}s; stopped")
        if query.exception() is not None:
            raise OpFailed(f"stream {query.id} failed: {query.exception()}")
