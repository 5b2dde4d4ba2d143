"""Stream workload: the reference's delivery path on a file-fed stream.

    replay.read_event_stream -> apply_delivery_state -> sinks.observed
        -> foreachBatch(sinks.write_envelopes) on email_triggered rows

Input is a seed-chosen ts-window of generated ``events``, cut into
chunks. Small warm-up chunks and a backlog of large chunks are in the
watched directory at start; the backlog drains one chunk per micro-batch
and gives ``records_per_s``. Then one feeder thread renames 100-record chunks
(the DynamoDB-Streams-to-Lambda default batch size) into the watched
directory on a fixed schedule (open loop); each tail chunk's latency runs
from the time it was due to the end of the ``foreachBatch`` call that
wrote its envelopes. Chunks are matched to micro-batches through the
file source's offset log, so a batch that picks up several chunks is
attributed correctly.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from datetime import datetime

import duckdb
import numpy as np
import pyarrow as pa

from perfbench import common, gen

WARMUP_CHUNKS = 3  # the first batch compiles; two more settle the JIT
WARMUP_ROWS = 200
BACKLOG_CHUNKS = 3
BACKLOG_ROWS = 2_000
TAIL_ROWS = 100
# One tail chunk per interval, a fixed rate below capacity: a 100-record
# micro-batch takes about 1.1 s on a 4-core host, so the stream runs at
# about three quarters load and the backlog stays at one chunk or less.
TAIL_INTERVAL_S = 1.5
LAND_TIMEOUT_S = 60.0
# at least this many tail chunks, so the tail percentile (ten beyond) is p56+
MIN_TAIL_CHUNKS = 23
COUNTERS = ("records_processed", "emails_triggered", "duplicates_prevented",
            "processing_errors")
CHECKS = ("envelopes",) + COUNTERS
# Python-worker SQL metrics of the stateful operator, per micro-batch.
PY_METRICS = {"pythonTotalTime": ("pyworker.run_s", 1e-3),
              "pythonNumRowsReceived": ("pyworker.rows_out", 1.0),
              "pythonDataReceived": ("pyworker.mb_out", 1 / 2**20)}


def chunk_batches(checkpoint: str) -> dict[int, int]:
    """chunk index -> micro-batch id, read from the file source's offset
    log (``sources/0``: one file per batch, compacted every few batches;
    every entry carries its path and batchId)."""
    out = {}
    for path in glob.glob(f"{checkpoint}/sources/0/*"):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                m = re.search(r"chunk=(\d+)", entry["path"])
                if m:
                    out[int(m.group(1))] = int(entry["batchId"])
    return out


def chunk_latencies(due: dict[int, float], batches: dict[int, int],
                    sink_end: dict[int, float]) -> dict[int, float | None]:
    """Seconds from each chunk's due time to the end of the sink call of
    the batch that held it; None for a chunk that never landed."""
    out = {}
    for chunk, t_due in due.items():
        b = batches.get(chunk)
        out[chunk] = sink_end[b] - t_due if b is not None and b in sink_end else None
    return out


def backlog_max(arrivals: list[float], landed: list[float]) -> int:
    """Most chunks present but not yet written out, checked at each
    arrival: arrivals up to t minus sink completions up to t."""
    done = sorted(landed)
    best = 0
    for i, t in enumerate(sorted(arrivals)):
        finished = sum(1 for x in done if x <= t)
        best = max(best, i + 1 - finished)
    return best


def expected_envelopes(rows: pa.Table) -> pa.Table:
    """The first event by (ts, event_id) per (user_id, event_type): what
    the delivery path must send, one envelope per key."""
    con = duckdb.connect()
    try:
        con.register("staged", rows)
        return con.execute("""
            SELECT CAST(user_id AS VARCHAR) || '-' || lower(event_type) AS dedup_id,
                   'email_' || CAST(user_id AS VARCHAR) || '_' || CAST(event_id AS VARCHAR)
                       AS msg_id,
                   event_id, user_id, event_type
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts, event_id) AS rn
                  FROM staged)
            WHERE rn = 1
        """).arrow()
    finally:
        con.close()


def reconcile(rows: pa.Table, landed: list[dict], counters: dict[str, int]) -> dict[str, str]:
    """The gate: landed envelopes against the oracle, and the four
    observed counters against the staged rows. Returns failures,
    check -> message."""
    want = expected_envelopes(rows).to_pylist()
    key = lambda r: (r["dedup_id"], r["msg_id"], r["event_id"], r["user_id"], r["event_type"])
    want_set = sorted(map(key, want))
    got_set = sorted(map(key, landed))
    n_rows, n_keys = rows.num_rows, len(want)
    checks = {
        "envelopes": (got_set == want_set,
                      f"{len(got_set)} landed vs {len(want_set)} expected, "
                      f"{len(set(got_set) ^ set(want_set))} differ"),
        "records_processed": (counters["records_processed"] == n_rows,
                              f"{counters['records_processed']} vs {n_rows} staged rows"),
        "emails_triggered": (counters["emails_triggered"] == n_keys == len(landed),
                             f"{counters['emails_triggered']} vs {n_keys} keys, "
                             f"{len(landed)} landed"),
        "duplicates_prevented": (counters["duplicates_prevented"] == n_rows - n_keys,
                                 f"{counters['duplicates_prevented']} vs {n_rows - n_keys}"),
        "processing_errors": (counters["processing_errors"] == 0,
                              f"{counters['processing_errors']} errors"),
    }
    return {k: msg for k, (ok, msg) in checks.items() if not ok}


def stage(work, seed: int, tail_chunks: int):
    """Cut a seed-chosen window of generated events into chunk
    directories under ``pending/``; return (window rows, chunk dirs,
    rows per chunk)."""
    rng = np.random.default_rng(seed)
    events = gen.events_table(rng, gen.SF01_ROWS["events"])
    sizes = ([WARMUP_ROWS] * WARMUP_CHUNKS + [BACKLOG_ROWS] * BACKLOG_CHUNKS
             + [TAIL_ROWS] * tail_chunks)
    start = int(rng.integers(0, events.num_rows - sum(sizes)))
    window = events.slice(start, sum(sizes))
    base_ns = time.time_ns()
    dirs, off = [], 0
    for i, n in enumerate(sizes):
        d = str(work / "pending" / f"chunk={i:05d}")
        gen.write_chunk(d, window.slice(off, n), base_ns + i * 1_000_000)
        dirs.append(d)
        off += n
    return window, dirs, sizes


def python_plan_metrics(plan) -> dict[str, float]:
    """Sum the Python-worker metrics over the nodes of an executed plan."""
    out = {name: 0.0 for name, _ in PY_METRICS.values()}
    stack = [plan]
    while stack:
        node = stack.pop()
        metrics = node.metrics()
        for key, (name, scale) in PY_METRICS.items():
            m = metrics.get(key)
            if m.isDefined():
                out[name] += m.get().value() * scale
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return out


class Sink:
    """The foreachBatch function: writes the batch's triggered rows as
    envelopes and records when each call started and ended. On traced
    batches it also reads the stateful operator's Python-worker metrics
    before returning, so their cost lands in those batches' latency."""

    def __init__(self, out_dir: str, trace: bool):
        from dynamodb_stream_processor_2_0_spark.streaming import sinks

        self.write = sinks.write_envelopes(out_dir)
        self.trace = trace
        self.query = None
        self.start: dict[int, float] = {}
        self.end: dict[int, float] = {}
        self.python: dict[int, dict] = {}

    def traced(self, epoch_id: int) -> bool:
        return self.trace and epoch_id % 2 == 1

    def __call__(self, batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        self.start[epoch_id] = time.time()
        self.write(batch_df.filter(F.col("action") == "email_triggered"), epoch_id)
        if self.traced(epoch_id) and self.query is not None:
            plan = self.query._jsq.streamingQuery().lastExecution().executedPlan()
            self.python[epoch_id] = python_plan_metrics(plan)
        self.end[epoch_id] = time.time()


def read_landed(spark, out_dir: str) -> list[dict]:
    rows = spark.read.schema("dedup_id string, message_body string").json(f"{out_dir}/epoch=*")
    out = []
    for r in rows.collect():
        body = json.loads(r["message_body"])
        out.append(dict(dedup_id=r["dedup_id"], msg_id=body["id"],
                        event_id=body["payload"]["event_id"],
                        user_id=body["payload"]["user_id"],
                        event_type=body["payload"]["event_type"]))
    return out


def run(args, work) -> dict:
    """Set up, drain the backlog, feed the tail for about ``args.seconds``,
    then gate."""
    from dynamodb_stream_processor_2_0_spark.streaming import replay, sinks
    from dynamodb_stream_processor_2_0_spark.streaming.delivery_state import (
        apply_delivery_state,
    )

    n_tail = max(MIN_TAIL_CHUNKS, round(args.seconds / TAIL_INTERVAL_S))
    n_warm = WARMUP_CHUNKS
    n_pre = n_warm + BACKLOG_CHUNKS  # present in the watched directory at start
    t0 = time.perf_counter()
    window, dirs, sizes = stage(work, args.seed, n_tail)
    watched = work / "watched"
    watched.mkdir()
    for d in dirs[:n_pre]:
        os.rename(d, watched / os.path.basename(d))
    t1 = time.perf_counter()
    spark = common.start_session()
    t2 = time.perf_counter()
    conf = common.Conf(spark)
    counters = common.SparkCounters(spark)
    out_dir = str(work / "envelopes")
    sink = Sink(out_dir, bool(args.trace))

    j0 = counters.mark()[0]
    tb0 = time.perf_counter()
    schema = ("event_id long, ts timestamp_ntz, user_id long, event_type string, "
              "value double, props string")
    frame = sinks.observed(
        apply_delivery_state(replay.read_event_stream(spark, str(watched), schema)))
    tb1 = time.perf_counter()
    j1 = counters.mark()[0]
    checkpoint = str(work / "checkpoint")
    query = (frame.writeStream.foreachBatch(sink)
             .option("checkpointLocation", checkpoint)
             .queryName("perfbench_delivery").outputMode("append").start())
    sink.query = query

    def wait_landed(chunk: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if chunk_batches(checkpoint).get(chunk) in sink.end:
                return True
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.05)
        return False

    moves = [(d, str(watched / os.path.basename(d))) for d in dirs[n_pre:]]
    feeder = gen.OpenLoopFeeder(moves, TAIL_INTERVAL_S)
    try:
        if not wait_landed(n_warm - 1, 120):
            raise RuntimeError("the warm-up chunks never landed")
        t3 = time.perf_counter()  # set-up ends with the warm-up batches written
        s_mark = counters.mark()[1]
        wait_landed(n_pre - 1, LAND_TIMEOUT_S)
        feeder.start(time.time() + 0.1)
        if wait_landed(len(dirs) - 1, n_tail * TAIL_INTERVAL_S + LAND_TIMEOUT_S):
            # progress (with the observed counters) is posted after the
            # batch commits, a moment after its sink call returns
            last = chunk_batches(checkpoint)[len(dirs) - 1]
            deadline = time.time() + 30
            while time.time() < deadline and _last_batch(query) < last:
                time.sleep(0.05)
    finally:
        feeder.stop()
        query.stop()
    t4 = time.perf_counter()
    jobs_end, s_end = counters.mark()
    counters.drain()
    progress = {p["batchId"]: p for p in (json.loads(p.json) for p in query.recentProgress)}
    batches = chunk_batches(checkpoint)

    # correctness gate, outside the measured region
    totals = {k: 0 for k in COUNTERS}
    errored = set()
    for b, p in progress.items():
        obs = p.get("observedMetrics", {}).get("metrics", {})
        for k in COUNTERS:
            totals[k] += int(obs.get(k, 0))
        if int(obs.get("processing_errors", 0)) > 0:
            errored.add(b)
    landed = read_landed(spark, out_dir)
    failures = reconcile(window, landed, totals)
    t_gate = time.perf_counter()

    due = {n_pre + i: t for i, t in enumerate(feeder.due)}
    arrived = {c: due[c] + late for c, late in zip(due, feeder.late_s)}
    lat = chunk_latencies(due, batches, sink.end)
    not_landed = [c for c in range(n_warm, len(dirs)) if batches.get(c) not in sink.end]
    failed_chunks = set(not_landed) | {c for c, b in batches.items() if b in errored and c >= n_warm}
    backlog = sorted({batches[c] for c in range(n_warm, n_pre) if c in batches})
    tail_b = sorted({batches[c] for c in due if c in batches})
    warm_end = sink.end[batches[n_warm - 1]]

    end_to_end, p_tail = {}, None
    if not args.trace:
        tail_lat = [v for v in lat.values() if v is not None]
        p_tail, v_tail = common.tail(tail_lat)
        drain_s = max(sink.end[b] for b in backlog) - warm_end
        end_to_end = {
            "setup_s": (t3 - t0, "s", 1),
            "latency_p50_s": (common.median(tail_lat), "s", len(tail_lat)),
            "latency_tail_s": (v_tail, "s", len(tail_lat)),
            "records_per_s": (sum(sizes[n_warm:n_pre]) / drain_s, "1/s", len(backlog)),
            "peak_rss_mb": (common.peak_rss_mb(spark), "MB", 1),
        }

    def med(batch_ids, f):
        vals = [f(progress[b]) for b in batch_ids if b in progress]
        return common.median(vals) if vals else 0.0

    def dur(key):
        return lambda p: float(p["durationMs"].get(key, 0))

    def state(key):
        return lambda p: float(sum(op.get(key, 0) for op in p.get("stateOperators", [])))

    measured_s = max(sink.end.values()) - warm_end
    stages = counters.stages(s_mark, s_end)
    waits = [_epoch(progress[batches[c]]["timestamp"]) - arrived[c]
             for c in due if batches.get(c) in progress]
    layers = {
        "session.start_s": t2 - t1,
        "sources.stage_s": t1 - t0,
        "plans.build_s": tb1 - tb0,
        "plans.build_jobs": float(j1 - j0),
        "plans.build_share": (tb1 - tb0) / (t3 - tb0),
        "plans.conf_leaks": float(bool(conf.changed())),
        "exec.run_s": measured_s,
        "exec.jobs": float(jobs_end - j1),
        **{f"exec.{k}": float(v) for k, v in stages.items()},
        "exec.core_busy_share": stages["task_run_s"] / (measured_s * common.CPUS),
        "streaming.batch_ms": med(tail_b, dur("triggerExecution")),
        "streaming.add_batch_ms": med(backlog, dur("addBatch")),
        "streaming.query_planning_ms": med(tail_b, dur("queryPlanning")),
        "streaming.latest_offset_ms": med(tail_b, dur("latestOffset")),
        "streaming.wal_commit_ms": med(tail_b, dur("walCommit")),
        "streaming.commit_offsets_ms": med(tail_b, dur("commitOffsets")),
        "streaming.trigger_wait_ms": 1e3 * common.median(waits) if waits else 0.0,
        "streaming.backlog_max_chunks": float(backlog_max(
            list(arrived.values()), [sink.end[batches[c]] for c in due if batches.get(c) in sink.end])),
        "streaming.state_rows_total": med(backlog, state("numRowsTotal")),
        "streaming.state_rows_updated": med(backlog, state("numRowsUpdated")),
        "streaming.state_memory_mb": med(backlog, state("memoryUsedBytes")) / 2**20,
        "streaming.state_commit_ms": med(backlog, state("commitTimeMs")),
        "sinks.write_ms": 1e3 * common.median([sink.end[b] - sink.start[b] for b in tail_b]),
        "sinks.envelopes": float(len(landed)),
        **{f"delivery.{k}": float(v) for k, v in totals.items()},
        "delivery.useful_ratio": totals["emails_triggered"] / max(1, totals["records_processed"]),
        "gen.late_max_ms": 1e3 * max(feeder.late_s, default=0.0),
    }
    if args.trace:
        traced_backlog = [sink.python[b] for b in backlog if b in sink.python]
        for name, _ in PY_METRICS.values():
            layers[name] = common.median([m[name] for m in traced_backlog]) if traced_backlog else 0.0
        on = [lat[c] for c in due if lat[c] is not None and sink.traced(batches[c])]
        off = [lat[c] for c in due if lat[c] is not None and not sink.traced(batches[c])]
        layers["trace.overhead_share"] = common.median(on) / common.median(off) - 1.0
    return dict(
        spark=spark,
        attempted=len(dirs) - n_warm + len(CHECKS),
        failed=len(failed_chunks) + len(failures),
        correct=not failures,
        end_to_end=end_to_end,
        tail_percentile=p_tail,
        layers=layers,
        detail=dict(
            chunk_rows=sizes,
            window_first_event_id=window.column("event_id")[0].as_py(),
            chunk_batch=batches,
            latency_s=lat,
            late_s=feeder.late_s,
            not_landed=not_landed,
            gate_failures=failures,
            counters=totals,
            progress=list(progress.values()),
            phase_s=dict(setup=t3 - t0, measured=t4 - t3, gate=t_gate - t4),
        ),
    )


def _last_batch(query) -> int:
    p = query.lastProgress
    return json.loads(p.json)["batchId"] if p is not None else -1


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
