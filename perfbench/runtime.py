"""Process environment, Spark session and measurement helpers shared by
the workloads."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.spans import NullTracer, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# local mode runs every executor thread inside the one Spark JVM; 2 GiB
# holds the largest workload with room to spare and fits a small host
# (the engine's own default is sized for a 128 GiB machine)
JVM_HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Environment the JVM and its Python workers inherit; must run
    before the session starts. Workers import the engine, so the
    checkout root goes on PYTHONPATH; every temp file goes under
    ``work``."""
    pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        PYTHONPATH=ROOT + (os.pathsep + pp if pp else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=work,
        # overrides spark.local.dir when set, so it is pinned too
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    # measure the engine's default shuffle width, whatever the caller set
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def start_session(work: str, event_log: str | None):
    """The engine's session (``session.get_spark``) with every scratch
    path moved under ``work``; ``event_log`` turns on an uncompressed,
    unrolled Spark event log in that directory."""
    from quick_and_easy_vectordb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at its full size: with a heap grown from the
        # JVM's small default, curate passes ran 10-20% slower through
        # the first minutes of a run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData -Xms{JVM_HEAP}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until the
    JVM has exited (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus its Spark JVM."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm)) / 1024


def tree_bytes(path: str) -> int:
    """On-disk bytes of every file under ``path`` (Spark's checksum and
    marker files included)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def data_files(path: str) -> int:
    return sum(
        1 for d, _, files in os.walk(path) for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def dot_fold(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dot products in the engine's exact arithmetic: float32 elements
    widened to double, products summed left to right from 0.0
    (``functions.vector.dot_product``). ``q`` is (dim,) or (dim, m)."""
    x = vecs.astype(np.float64)
    acc = np.zeros((len(x),) + q.shape[1:])
    for i in range(x.shape[1]):
        acc = acc + (x[:, i : i + 1] if q.ndim > 1 else x[:, i]) * q[i]
    return acc


def top_k(scores: np.ndarray, ids: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top-k by score descending, ties by ascending id."""
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


@dataclass
class Unit:
    """One timed unit of work: a request, an ingest step half, or a
    curate pass."""

    kind: str
    ms: float
    traced: bool
    root: int | None = None
    ok: bool = True
    out: object = None
    info: dict = field(default_factory=dict)


class Workload:
    """A workload names its two timed op types, which the end-to-end
    metrics report as ``primary`` and ``secondary``."""

    primary: str
    secondary: str

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def samples(self, units: list[Unit], kind: str) -> list[float]:
        """Latencies (ms) of the successful units of one op type."""
        return [u.ms for u in units if u.kind == kind and u.ok]


class Ctx:
    """What a workload gets: the session, its scratch directory, the
    seed, the run length and, in a traced run, the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores()
        self.tracer = Tracer(spark.sparkContext.setJobDescription) if trace else None
        self.null = NullTracer()
        self.failures: list[str] = []
        self.loose_failures = 0  # failed checks not tied to one unit

    def traces(self, n: int) -> bool:
        """Whether unit ``n`` is traced in a traced run: traced, untraced,
        untraced, traced, ... so a steady drift (the JIT still warming)
        weighs on both halves alike, and a run of one unit still traces."""
        return self.trace and n % 4 in (0, 3)

    def attempt(self, unit: Unit, fn) -> Unit:
        """Time one unit of work: ``fn(tracer)`` returns (output, root
        span). An exception fails the unit and the loop goes on."""
        t = time.perf_counter()
        try:
            unit.out, root = fn(self.tracer if unit.traced else self.null)
            unit.root = root.id if root else None
        except Exception as e:  # noqa: BLE001 — counted in failed, not fatal
            self.fail(f"{unit.kind} {unit.info}: {e!r}", unit)
        unit.ms = (time.perf_counter() - t) * 1000
        return unit

    def fail(self, msg: str, unit: Unit | None = None) -> None:
        """Count a failed request or output check."""
        self.failures.append(msg)
        if unit is None:
            self.loose_failures += 1
        else:
            unit.ok = False
        print(f"FAILED: {msg}", file=sys.stderr)
