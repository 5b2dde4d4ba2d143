"""Shared pieces of the benchmark: statistics, the Spark session it runs
against, the result record, and readers for what Spark already exposes
(scheduler ids, the status store, the Catalyst phase tracker)."""

from __future__ import annotations

import json
import os
import platform
import resource
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MIN_TAIL_BEYOND = 10
# local[N] for the session: the 4-core host the benchmark was sized on,
# fewer where the host has fewer cores. A 2 GB heap keeps a run small.
CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``MIN_TAIL_BEYOND`` samples
    above it: with n samples that is the (n-10)-th smallest, percentile
    100*(n-10)/n. Returns (percentile, value). Raises with fewer than
    11 samples, where no such percentile exists."""
    n = len(values)
    if n <= MIN_TAIL_BEYOND:
        raise ValueError(f"tail needs more than {MIN_TAIL_BEYOND} samples, got {n}")
    k = n - MIN_TAIL_BEYOND
    return 100.0 * k / n, sorted(values)[k - 1]


def prepare_dirs(work: Path) -> None:
    """Keep every scratch file of the run (Python temp dirs, Spark local
    dirs, JVM temp files, the warehouse) inside ``work``, and let Python
    workers, which start in ``work``, import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # no hsperfdata file, which the JVM would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + paths)
    os.chdir(work)


def start_session():
    """The package's own session factory, sized for a small host."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from dynamodb_stream_processor_2_0_spark.session import get_spark

    registry._load()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stamp(spark, seed: int) -> dict:
    """Provenance carried by every result record."""
    jvm = spark.sparkContext._jvm
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "jdk": jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
        "commit": commit,
        "host_cpus": os.cpu_count(),
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this process."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (own_kb + jvm_kb) / 1024.0


class SparkCounters:
    """Job and stage ids are handed out in increasing order, so the ids
    issued between two reads belong to the work done in between,
    whichever thread or job group ran it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        dag = self.sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def drain(self) -> None:
        """Wait until the status stores have seen every finished task."""
        self.sc.listenerBus().waitUntilEmpty()

    def stages(self, first: int, end: int) -> dict:
        """Task counts and times of the stages with ids in [first, end)."""
        out = dict(stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
                   shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        store = self.sc.statusStore()
        for sid in range(first, end):
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # py4j: stage evicted or never submitted
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["task_run_s"] += d.executorRunTime() / 1e3
            out["task_cpu_s"] += d.executorCpuTime() / 1e9
            out["gc_s"] += d.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += d.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
        return out


def catalyst_phases(df) -> dict:
    """Force physical planning of ``df`` and read its phase tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[f"catalyst.{name}_ms"] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


class Conf:
    """Session-conf snapshot: restore before each query, count leaks."""

    def __init__(self, spark):
        self.spark = spark
        self.base = dict(spark.conf.getAll)

    def changed(self) -> dict:
        now = dict(self.spark.conf.getAll)
        keys = set(now) | set(self.base)
        return {k: now.get(k) for k in keys if now.get(k) != self.base.get(k)}

    def restore(self) -> None:
        for key, value in self.changed().items():
            if key in self.base:
                self.spark.conf.set(key, self.base[key])
            else:
                self.spark.conf.unset(key)


def write_record(work: Path, record: dict) -> Path:
    out = work / "results"
    out.mkdir(parents=True, exist_ok=True)
    name = f"{record['workload']}-seed{record['env']['seed']}-trace{int(record['trace'])}-{int(time.time())}.json"
    path = out / name
    path.write_text(json.dumps(record, indent=1, sort_keys=True))
    return path


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)
