"""Batch workload: registry queries called closed loop by one client.

One operation is one query call, timed from the start of
``fn(spark, sf_dir)`` to the end of a ``noop`` write of its result. Set-up
ends after the correctness gate, which runs every query once against its
DuckDB oracle and so starts the warm-up, and one untimed pass.
Before each call the session conf is restored to its start-up snapshot
and the cache is cleared; a call that leaves a key changed counts as a
conf leak.
"""

from __future__ import annotations

import re
import time

import numpy as np

from perfbench import common, gen

# Scan, join and aggregate heavy entries of bench.py's headline set, one
# call of each per pass. Their calls take a similar time (about 0.8-1.2 s
# on a 4-core host), so the median and tail fall inside one dense group of
# samples instead of on the edge between fast and slow queries.
ANALYTICS = (
    "pipeline_disposition_ledger",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
)

# Whole passes are measured until the time is up and at least this many
# calls were timed, so the tail percentile (ten samples beyond) is p58+.
MIN_SAMPLES = 24


def input_rows(oracle: str, rows: dict[str, int]) -> int:
    """Rows of every table the query's oracle SQL reads: the input size
    a call processes, independent of how the engine plans it."""
    return sum(n for t, n in rows.items() if re.search(rf"\b{t}\b", oracle))


class Runner:
    """Calls registry queries on a clean session, timed or traced."""

    def __init__(self, spark, sf_dir: str):
        from dynamodb_stream_processor_2_0_spark.plans import registry

        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry.REGISTRY
        self.conf = common.Conf(spark)
        self.counters = common.SparkCounters(spark)
        self.leaks: set[str] = set()
        self.spans: list[dict] = []

    def call(self, name: str, traced: bool) -> float:
        self.conf.restore()
        self.spark.catalog.clearCache()
        fn = self.registry[name].fn
        if not traced:
            t0 = time.perf_counter()
            fn(self.spark, self.sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
        else:
            dt = self._traced_call(name, fn)
        if self.conf.changed():
            self.leaks.add(name)
        return dt

    def _traced_call(self, name: str, fn) -> float:
        """Spans query -> plans.build -> catalyst.plan -> exec.run, each
        with the jobs and stages it issued."""
        c = self.counters
        j0, s0 = c.mark()
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        j1, s1 = c.mark()
        phases = common.catalyst_phases(df)
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        j2, s2 = c.mark()
        c.drain()
        qid = len(self.spans)
        self.spans += [
            dict(id=qid, parent=None, name="query", query=name, start=t0, end=t3),
            dict(id=qid + 1, parent=qid, name="plans.build", start=t0, end=t1,
                 jobs=j1 - j0, **{f"build.{k}": v for k, v in c.stages(s0, s1).items()}),
            dict(id=qid + 2, parent=qid, name="catalyst.plan", start=t1, end=t2, **phases),
            dict(id=qid + 3, parent=qid, name="exec.run", start=t2, end=t3,
                 jobs=j2 - j1, **c.stages(s1, s2)),
        ]
        return t3 - t0


def layer_metrics(spans: list[dict], cpus: int) -> dict:
    """Per-layer totals and shares over every traced call."""
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    n = max(1, len(by.get("query", [])))
    wall = sum(s["end"] - s["start"] for s in by.get("query", []))
    build = by.get("plans.build", [])
    run = by.get("exec.run", [])
    build_s = sum(s["end"] - s["start"] for s in build)

    def total(spans_, key):
        return sum(s.get(key, 0.0) for s in spans_)

    task_run = total(run, "task_run_s") + total(build, "build.task_run_s")
    out = {
        "plans.build_s": build_s / n,
        "plans.build_jobs": total(build, "jobs") / n,
        "plans.build_share": build_s / wall if wall else 0.0,
        "exec.run_s": sum(s["end"] - s["start"] for s in run) / n,
        "exec.jobs": (total(run, "jobs") + total(build, "jobs")) / n,
        "exec.core_busy_share": task_run / (wall * cpus) if wall else 0.0,
    }
    for key in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"exec.{key}"] = (total(run, key) + total(build, f"build.{key}")) / n
    for key in ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms"):
        out[key] = total(by.get("catalyst.plan", []), key) / n
    return out


def gate(spark, names: list[str], sf_dir: str, conf: common.Conf) -> dict[str, str]:
    """Each query against its DuckDB oracle through the test harness.
    Returns the failures, name -> message."""
    from dynamodb_stream_processor_2_0_spark.plans import registry
    from tests.oracle_harness import compare_query

    failures = {}
    for name in names:
        conf.restore()
        spark.catalog.clearCache()
        try:
            compare_query(spark, registry.REGISTRY[name], sf_dir)
        except Exception as exc:  # a mismatch or a crash both fail the gate
            failures[name] = str(exc)[:500]
    conf.restore()
    return failures


def run(args, work) -> dict:
    """Set up, gate (which warms up), then measure for ``args.seconds``."""
    rng = np.random.default_rng(args.seed)
    sf_dir = str(work / "sf")
    t0 = time.perf_counter()
    rows = gen.write_tables(sf_dir, args.seed)
    t1 = time.perf_counter()
    spark = common.start_session()
    t2 = time.perf_counter()
    runner = Runner(spark, sf_dir)
    names = list(ANALYTICS)
    size = {n: input_rows(runner.registry[n].oracle, rows) for n in names}

    failed_calls: list[tuple[str, str]] = []

    def one(name: str, traced: bool) -> float | None:
        try:
            return runner.call(name, traced)
        except Exception as exc:  # one failed operation, keep measuring
            failed_calls.append((name, str(exc)[:500]))
            return None

    # The gate runs and checks every query once, cold, which starts the
    # warm-up (JIT, codegen); one untimed pass finishes it. Without that
    # pass, latency across seeded runs on a 4-core host spread about twice
    # as wide (interquartile range 14% of the median instead of 6-7%).
    failures = gate(spark, [str(n) for n in rng.permutation(names)], sf_dir, runner.conf)
    for name in rng.permutation(names):
        one(str(name), False)
    t3 = time.perf_counter()

    samples: list[tuple[str, float, bool]] = []
    attempted = 0
    deadline = t3 + args.seconds
    passes = 0
    while time.perf_counter() < deadline or len(samples) < MIN_SAMPLES:
        for i, name in enumerate(rng.permutation(names)):
            # the traced run alternates untraced and traced calls (each
            # query both ways over two passes), so the tracing overhead is
            # measured in the same warm session
            traced = bool(args.trace) and (passes + i) % 2 == 1
            attempted += 1
            dt = one(str(name), traced)
            if dt is not None:
                samples.append((str(name), dt, traced))
        passes += 1
    t4 = time.perf_counter()
    leaks = sorted(runner.leaks)

    lat = [dt for _, dt, traced in samples if not traced]
    end_to_end, p_tail = {}, None
    if not args.trace:
        p_tail, v_tail = common.tail(lat)
        work_rows = sum(size[n] for n, _, _ in samples)
        end_to_end = {
            "setup_s": (t3 - t0, "s", 1),
            "latency_p50_s": (common.median(lat), "s", len(lat)),
            "latency_tail_s": (v_tail, "s", len(lat)),
            "records_per_s": (work_rows / sum(lat), "1/s", len(lat)),
            "peak_rss_mb": (common.peak_rss_mb(spark), "MB", 1),
        }
    layers = {
        "session.start_s": t2 - t1,
        "sources.stage_s": t1 - t0,
        "plans.conf_leaks": float(len(leaks)),
        "gen.late_max_ms": 0.0,
    }
    if args.trace:
        layers.update(layer_metrics(runner.spans, common.CPUS))
        traced_lat = [dt for _, dt, traced in samples if traced]
        layers["trace.overhead_share"] = common.median(traced_lat) / common.median(lat) - 1.0
    return dict(
        spark=spark,
        attempted=attempted + len(names),
        failed=len(failed_calls) + len(failures),
        correct=not failures,
        end_to_end=end_to_end,
        tail_percentile=p_tail,
        layers=layers,
        detail=dict(
            passes=passes,
            samples=[dict(query=n, s=dt, traced=tr) for n, dt, tr in samples],
            input_rows=size,
            conf_leaks=leaks,
            failed_calls=failed_calls,
            gate_failures=failures,
            spans=runner.spans,
            phase_s=dict(gen=t1 - t0, session=t2 - t1, gate_warmup=t3 - t2,
                         measured=t4 - t3),
        ),
    )
