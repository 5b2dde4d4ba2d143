"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pyarrow as pa
import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import common, compare, gen, run, stream  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 31)]  # 30 samples
    p, v = common.tail(values)
    assert p == pytest.approx(100 * 20 / 30)
    assert v == 20.0
    assert sum(x > v for x in values) == 10


def test_tail_needs_more_than_ten_samples():
    p, v = common.tail([1.0] * 10 + [5.0])
    assert (p, v) == (pytest.approx(100 / 11), 1.0)
    with pytest.raises(ValueError):
        common.tail([1.0] * 10)


def test_tail_not_below_median_from_21_samples():
    values = [float(i) for i in range(21)]
    assert common.tail(values)[1] >= common.median(values)


def test_latency_runs_from_due_time_so_a_stall_delays_later_chunks():
    # chunks 0..3 due one second apart; batch 1's sink stalls 5 s, so
    # chunk 2 (due at 2 s) lands in a batch that ends only after it
    due = {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    batches = {0: 0, 1: 1, 2: 2, 3: 3}
    sink_end = {0: 0.5, 1: 6.5, 2: 7.0, 3: 7.5}
    lat = stream.chunk_latencies(due, batches, sink_end)
    assert lat == {0: 0.5, 1: 5.5, 2: 5.0, 3: 4.5}


def test_chunk_that_never_landed_has_no_latency():
    lat = stream.chunk_latencies({0: 0.0, 1: 1.0}, {0: 0}, {0: 0.4})
    assert lat[1] is None


def _source_log(checkpoint: Path, name: str, entries: list[tuple[int, int]]) -> None:
    log = checkpoint / "sources" / "0"
    log.mkdir(parents=True, exist_ok=True)
    lines = ["v1"] + [
        json.dumps({"path": f"file:///w/watched/chunk={c:05d}/part-0.parquet",
                    "timestamp": 0, "batchId": b})
        for c, b in entries
    ]
    (log / name).write_text("\n".join(lines) + "\n")


def test_chunks_map_to_batches_through_the_offset_log(tmp_path):
    # batches 0-1 compacted into one file, and batch 2 picked up two chunks
    _source_log(tmp_path, "1.compact", [(0, 0), (1, 1)])
    _source_log(tmp_path, "2", [(2, 2), (3, 2)])
    (tmp_path / "sources" / "0" / ".2.crc").write_text("junk")
    batches = stream.chunk_batches(str(tmp_path))
    assert batches == {0: 0, 1: 1, 2: 2, 3: 2}
    lat = stream.chunk_latencies({2: 10.0, 3: 11.0}, batches, {2: 12.5})
    assert lat == {2: 2.5, 3: 1.5}


def test_backlog_max_counts_chunks_waiting_at_each_arrival():
    assert stream.backlog_max([0, 1, 2], [0.5, 1.5, 2.5]) == 1
    assert stream.backlog_max([0, 1, 2], [2.1, 2.2, 2.3]) == 3


def test_feeder_is_open_loop_and_reports_lateness(tmp_path):
    moves = []
    for i in range(3):
        src = tmp_path / "pending" / f"chunk={i:05d}"
        src.mkdir(parents=True)
        moves.append((str(src), str(tmp_path / f"chunk={i:05d}")))
    feeder = gen.OpenLoopFeeder(moves, interval_s=0.05)
    start = time.time() - 0.5  # already half a second behind schedule
    feeder.start(start)
    feeder.stop(timeout=5)
    assert feeder.due == pytest.approx([start, start + 0.05, start + 0.1])
    assert all(late >= 0.35 for late in feeder.late_s)
    assert all((tmp_path / f"chunk={i:05d}").is_dir() for i in range(3))


def _staged() -> pa.Table:
    return pa.table({
        "event_id": [1, 2, 3, 4, 5],
        "ts": pa.array([10, 20, 5, 30, 40], pa.timestamp("us")),
        "user_id": [7, 7, 7, 8, 8],
        "event_type": ["click", "click", "view", "click", "click"],
        "value": [1.0] * 5,
        "props": ["{}"] * 5,
    })


def _good_envelopes() -> list[dict]:
    return [
        dict(dedup_id="7-click", msg_id="email_7_1", event_id=1, user_id=7, event_type="click"),
        dict(dedup_id="7-view", msg_id="email_7_3", event_id=3, user_id=7, event_type="view"),
        dict(dedup_id="8-click", msg_id="email_8_4", event_id=4, user_id=8, event_type="click"),
    ]


GOOD_COUNTERS = dict(records_processed=5, emails_triggered=3, duplicates_prevented=2,
                     processing_errors=0)


def test_reconcile_accepts_the_exact_envelope_set():
    assert stream.reconcile(_staged(), _good_envelopes(), GOOD_COUNTERS) == {}


def test_reconcile_fails_on_a_doctored_envelope():
    doctored = _good_envelopes()
    doctored[0] = dict(doctored[0], event_id=2, msg_id="email_7_2")  # a later event won
    assert set(stream.reconcile(_staged(), doctored, GOOD_COUNTERS)) == {"envelopes"}


def test_reconcile_fails_on_a_missing_envelope_and_bad_counters():
    failures = stream.reconcile(
        _staged(), _good_envelopes()[:2],
        dict(GOOD_COUNTERS, records_processed=4, processing_errors=1))
    assert set(failures) == {"envelopes", "emails_triggered", "records_processed",
                             "processing_errors"}


class _FakeConf:
    def __init__(self, values):
        self.values = dict(values)

    @property
    def getAll(self):
        return dict(self.values)

    def set(self, k, v):
        self.values[k] = v

    def unset(self, k):
        self.values.pop(k, None)


class _FakeSpark:
    def __init__(self, values):
        self.conf = _FakeConf(values)


def test_conf_snapshot_detects_and_restores_leaks():
    spark = _FakeSpark({"a": "1"})
    conf = common.Conf(spark)
    assert conf.changed() == {}
    spark.conf.set("a", "2")
    spark.conf.set("b", "x")
    assert conf.changed() == {"a": "2", "b": "x"}
    conf.restore()
    assert spark.conf.values == {"a": "1"}


def test_generated_tables_repeat_for_a_seed(tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_tables(str(tmp_path / "a"), seed=3, sf=0.001)
    gen.write_tables(str(tmp_path / "b"), seed=3, sf=0.001)
    gen.write_tables(str(tmp_path / "c"), seed=4, sf=0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet"))
    events = [pq.read_table(tmp_path / d / "events.parquet") for d in ("a", "c")]
    assert not events[0].equals(events[1])


def _record(cpus: int, latency: float) -> dict:
    return dict(workload="batch_analytics", env=dict(cpus=cpus, master=f"local[{cpus}]"),
                metrics={"latency_p50_s": {"value": latency, "unit": "s"}})


def test_compare_refuses_records_from_another_core_count():
    assert compare.compare(_record(4, 1.0), _record(4, 1.5)) == [
        ("latency_p50_s", 1.0, 1.5, 1.5)]
    with pytest.raises(ValueError, match="cpus"):
        compare.compare(_record(4, 1.0), _record(8, 1.0))


def _alive(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


@pytest.mark.skipif(not Path("/proc/self/stat").exists(), reason="needs /proc")
def test_end_processes_waits_for_children_and_grandchildren():
    run.adopt_orphans()  # as run.main does
    shell = subprocess.Popen(["sh", "-c", "sleep 60 & exec sleep 60"])
    deadline = time.time() + 10
    while not run.descendants(shell.pid) and time.time() < deadline:
        time.sleep(0.02)
    below = [shell.pid] + run.descendants(shell.pid)
    assert len(below) == 2
    run.end_processes(grace_s=5)
    assert not any(_alive(pid) for pid in below)
    assert run.descendants(shell.pid) == []
