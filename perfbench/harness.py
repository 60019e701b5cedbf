"""Shared pieces of the benchmark: run configuration, the Spark session,
spans, process memory, the Spark REST probes and the result line.

Everything here talks to the engine only through ``firebolt_spark``'s
public entry points (``get_spark``) and to Spark through its public
Python and REST APIs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# The checkout root (the directory that holds perfbench/). Python workers
# get it on their PYTHONPATH so they can import firebolt_spark and the
# benchmark's bulk client.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_trace")


@dataclass(frozen=True)
class RunConfig:
    """What one invocation was asked to do (all from the command line)."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    cores: int
    driver_memory: str

    @property
    def work_dir(self) -> str:
        return os.path.join(WORK_ROOT, f"{self.workload}-{os.getpid()}")


def usable_cores(requested: int) -> int:
    """The requested core count, never more than this process may use."""
    try:
        have = len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        have = os.cpu_count() or 1
    return max(1, min(requested, have))


def start_session(cfg: RunConfig):
    """One SparkSession sized to ``cfg.cores`` through get_spark's public
    arguments: local[k], k shuffle partitions, a fixed driver heap, and
    PYTHONPATH for the Python workers."""
    from firebolt_spark import get_spark

    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_spark(
        app_name=f"perfbench-{cfg.workload}",
        master=f"local[{cfg.cores}]",
        shuffle_partitions=cfg.cores,
        extra_conf={
            "spark.driver.memory": cfg.driver_memory,
            # a fixed heap and the parallel collector: fixed young
            # generation, so the resident high-water mark follows what
            # the old generation retains rather than collector timing
            "spark.driver.extraJavaOptions": f"-Xms{cfg.driver_memory} -XX:+UseParallelGC -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.executorEnv.PYTHONPATH": pythonpath,
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.local.dir": os.path.join(cfg.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(cfg.work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str  # the layer call, e.g. "sinks.es"
    key: str  # the batch or pass the call belongs to
    start: float
    end: float


@dataclass
class Tracer:
    """Spans around the benchmark's calls into each engine layer, kept in
    memory and written out once at the end. A disabled tracer records
    nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, key: str = ""):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append(Span(name, key, t0, time.perf_counter()))

    def total(self, name: str, key: str | None = None) -> float:
        """Seconds inside spans called ``name`` (of batch/pass ``key``)."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and (key is None or s.key == key)
        )

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": [s.__dict__ for s in self.spans]}, f)


# ---------------------------------------------------------------------------
# memory and Spark-side probes


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_processes(spark) -> list[int]:
    """The Spark JVM and every process below it (the Python worker
    daemon and its forked workers)."""
    jvm = spark.sparkContext._gateway.proc.pid
    pids = [int(p) for p in os.listdir("/proc") if p.isdigit()]
    children: dict[int, list[int]] = {}
    for pid in pids:
        children.setdefault(_ppid(pid) or -1, []).append(pid)
    out, todo = [], [jvm]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(spark=None) -> float:
    """CPU seconds used so far by this process and, once ``spark`` is
    given, the Spark JVM and its Python workers. Workers that exited count
    through their parent. The kernel leaves time that the hypervisor stole
    from the virtual CPUs out of these counts, so they swing far less with
    the load of other tenants of the host than wall time does."""
    pids = [os.getpid(), *(spark_processes(spark) if spark is not None else ())]
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since it was listed
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


# the JVM's JIT compiler threads, as the kernel names them (15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(spark) -> float:
    """CPU seconds the Spark JVM's JIT compiler threads used so far. The
    JVM keeps them for its whole life (-XX:-UseDynamicNumberOfCompilerThreads),
    so none of their time moves to the process total when one exits."""
    task_dir = f"/proc/{spark.sparkContext._gateway.proc.pid}/task"
    ticks = 0
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if head.split("(", 1)[1].startswith(JIT_THREADS):
            ticks += sum(int(x) for x in rest.split()[11:13])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from all virtual CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Sum of VmHWM (the kernel's exact resident high-water mark) over the
    JVM and its Python workers."""
    return sum(_vm_hwm_kb(p) for p in spark_processes(spark)) / 1024.0


class RestProbe:
    """Reads the Spark UI's REST API on localhost (traced runs only)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = (sc.uiWebUrl or "").rsplit(":", 1)[-1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
            if port.isdigit()
            else None
        )

    def get(self, path: str):
        """The parsed JSON at ``path``, or None (logged) when the UI is off
        or does not answer; the metrics read from it then read 0."""
        if self.base is None:
            log(f"Spark UI disabled: {path} not read")
            return None
        try:
            with urllib.request.urlopen(self.base + path, timeout=5) as r:
                return json.load(r)
        except (OSError, ValueError) as exc:
            log(f"Spark REST {path} not read: {exc}")
            return None

    def executor_totals(self) -> dict[str, float]:
        """Lifetime shuffle-write bytes and GC seconds (monotone)."""
        execs = self.get("/allexecutors") or []
        return {
            "shuffle_write_bytes": sum(e.get("totalShuffleWrite", 0) or 0 for e in execs),
            "gc_s": sum(e.get("totalGCTime", 0) or 0 for e in execs) / 1000.0,
        }

    def cached_rdds(self) -> int:
        return len(self.get("/storage/rdd") or [])


# ---------------------------------------------------------------------------
# statistics and output


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: the last line of standard output."""
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    pids = spark_processes(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()  # the callback server and py4j connections
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)
