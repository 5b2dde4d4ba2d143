"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_delivery --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` (git-ignored), where the full result record of each run
is also written. With ``--trace 0`` the last stdout line carries the
end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` it carries
the per-layer metrics. Lines above it list each metric with its unit and
sample count. Exits non-zero, printing no result, when the engine
package is missing. Every process a run starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

WORKLOADS = ("stream_delivery", "batch_analytics")
E2E = ("setup_s", "latency_p50_s", "latency_tail_s", "records_per_s", "peak_rss_mb")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the clean-up in main's finally


def adopt_orphans() -> None:
    """Make this process the child subreaper (Linux), so a process whose
    parent ends first (a Python worker of the Spark JVM) is re-parented
    here, where ``end_processes`` finds it and waits for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def descendants(root: int) -> list[int]:
    """Live (not zombie) processes below ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    live = set()
    for entry in os.listdir("/proc") if os.path.isdir("/proc") else ():
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        state, ppid = stat[stat.rfind(")") + 2:].split()[:2]
        children.setdefault(int(ppid), []).append(int(entry))
        if state != "Z":
            live.add(int(entry))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            todo.append(pid)
            if pid in live:
                out.append(pid)
    return out


def reap() -> None:
    """Collect the exit status of every ended child."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session and its JVM, then every other process
    started below this one, and wait until each has ended: SIGTERM first,
    SIGKILL after ``grace_s``, giving up after another ``grace_s``."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            try:
                active.stop()
            except Exception:  # py4j: the JVM already ended; stop what is left
                pass
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                pass
    deadline = time.monotonic() + grace_s
    sig, signalled = signal.SIGTERM, set()
    while True:
        reap()
        live = descendants(os.getpid())
        if not live:
            return
        if sig == signal.SIGKILL and time.monotonic() > deadline + grace_s:
            return  # only a process stuck in the kernel is left
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, signalled = signal.SIGKILL, set()
        for pid in live:
            if pid not in signalled:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    adopt_orphans()
    if not (ROOT / "dynamodb_stream_processor_2_0_spark" / "__init__.py").is_file():
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    from perfbench import common

    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    common.prepare_dirs(work)
    started = time.perf_counter()
    try:
        if args.workload == "stream_delivery":
            from perfbench import stream as workload
        else:
            from perfbench import batch as workload
        res = workload.run(args, work)
        env = common.stamp(res.pop("spark"), args.seed)
        if args.trace:
            metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                       for k, u in layer_units().items()}
            for k, m in metrics.items():
                print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
        else:
            metrics = {}
            for name in E2E:
                value, unit, n = res["end_to_end"][name]
                metrics[name] = {"value": float(value), "unit": unit}
                print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
            print(f"{args.workload} latency_tail_s is p{res['tail_percentile']:.1f}")
            print(f"{args.workload} failure_rate = {res['failed'] / res['attempted']:.6g} "
                  f"({res['failed']}/{res['attempted']})")
        record = dict(workload=args.workload, trace=args.trace, env=env,
                      seconds=args.seconds, correct=res["correct"],
                      attempted=res["attempted"], failed=res["failed"],
                      metrics=metrics, layers=res["layers"], detail=res["detail"],
                      wall_s=time.perf_counter() - started)
        path = common.write_record(ROOT / ".perfbench", record)
        common.log(f"record: {path.relative_to(ROOT)}")
        print(json.dumps(dict(correct=res["correct"], attempted=res["attempted"],
                              failed=res["failed"], metrics=metrics)))
        return 0
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        end_processes()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
