"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import oracle, run, worker  # noqa: E402
from perfbench import stats as S  # noqa: E402
from perfbench import trace as T  # noqa: E402

# ------------------------------------------------------------ percentiles


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    got = S.tail_percentile(list(range(n)))
    if want is None:
        assert got is None
        return
    assert got[0] == want
    assert S.samples_beyond(n, want) >= 10
    higher = [p for p in S.TAIL_LEVELS if p > want]
    assert all(S.samples_beyond(n, p) < 10 for p in higher)


def test_nearest_rank_values():
    xs = [5, 1, 4, 2, 3]
    assert S.nearest_rank(xs, 50) == 3
    assert S.nearest_rank(xs, 100) == 5
    assert S.nearest_rank(xs, 1) == 1
    assert S.tail_percentile(list(range(1, 21)))[1] == 10


# ------------------------------------------------------------ spans


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_tracer_nests_spans_and_tags_jobs():
    clock, tags = FakeClock(), []
    tr = T.Tracer(tag_jobs=tags.append, clock=clock)
    with tr.span("merge") as m:
        clock.t = 1.0
        with tr.span("append") as a:
            clock.t = 4.0
        clock.t = 5.0
        with tr.span("lineage") as lin:
            clock.t = 6.0
            with tr.span("read") as rd:
                clock.t = 8.0
        clock.t = 10.0
    assert tags == [m.id, a.id, m.id, lin.id, rd.id, lin.id, m.id, None]
    assert a.parent == m.id and lin.parent == m.id and m.parent is None
    selfs = T.self_times(tr.spans)
    assert selfs[m.id] == pytest.approx(10.0 - 3.0 - 3.0)
    assert selfs[lin.id] == pytest.approx(3.0 - 2.0)
    assert T.self_time_residual(m, tr.spans) == pytest.approx(0.0)


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [T.Span("p", "p", None, 0.0, 10.0), T.Span("a", "a", "p", 1.0, 3.0),
             T.Span("b", "b", "p", 2.0, 4.0), T.Span("c", "c", "p", 9.0, 12.0)]
    # children cover [1,4] and [9,10] inside the parent
    assert T.self_times(spans)["p"] == pytest.approx(6.0)
    assert T.union_length([(1, 3), (2, 4), (9, 12)], 0, 10) == pytest.approx(4.0)


def test_wrap_records_a_span_per_call():
    tr = T.Tracer()

    class Obj:
        def work(self, x):
            return x * 2

    o = Obj()
    tr.wrap(o, "work", "obj.work")
    assert o.work(21) == 42 and o.work(1) == 2
    assert [s.name for s in tr.spans] == ["obj.work", "obj.work"]
    assert Obj().work(3) == 6 and len(tr.spans) == 2  # only the instance is wrapped


# ------------------------------------------------------------ oracle


def _feed(tmp_path, name, rows):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = dt.datetime(2024, 1, 1)
    cols = list(zip(*rows))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()),
        "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(["user"] * len(rows)),
        "text": pa.array(cols[2], pa.string()),
        "tool": pa.array(cols[3], pa.string()),
        "ts": pa.array([ts] * len(rows), pa.timestamp("us")),
        "op": pa.array(cols[4], pa.string()),
        "lsn": pa.array(cols[5], pa.int64()),
        "commit_epoch": pa.array([0] * len(rows), pa.int64()),
    })
    path = str(tmp_path / name)
    pq.write_table(table, path)
    return path


def test_oracle_lww_and_state_diff(tmp_path):
    import duckdb

    f1 = _feed(tmp_path, "e0.parquet", [
        ("c1", 0, "a", None, "U", 1), ("c1", 1, "b", "browser", "U", 2),
        ("c2", 0, "x", None, "U", 3),
    ])
    f2 = _feed(tmp_path, "e1.parquet", [
        ("c1", 0, "a2", None, "U", 4), ("c2", 0, "gone", None, "D", 5),
        ("c1", 1, "stale", None, "U", 1),  # late, lower lsn: loses
    ])
    con = duckdb.connect()
    want = con.execute(oracle.lww_state_sql([f1, f2]) + " ORDER BY conv_id, turn_idx").fetchall()
    assert [(r[0], r[1], r[3], r[6]) for r in want] == [("c1", 0, "a2", 4), ("c1", 1, "b", 2)]

    state = str(tmp_path / "state.parquet")
    con.execute(f"COPY ({oracle.lww_state_sql([f1, f2])}) TO '{state}' (FORMAT parquet)")
    assert oracle.check_state(con, state, [f1, f2]) == {
        "ok": True, "rows": 2, "missing": 0, "extra": 0}
    # checked against the first epoch only, two rows are missing and
    # one is unexpected
    assert oracle.check_state(con, state, [f1]) == {
        "ok": False, "rows": 2, "missing": 2, "extra": 1}


def test_diff_counts_is_a_multiset_difference():
    import duckdb

    con = duckdb.connect()
    left = "SELECT * FROM (VALUES (1), (1), (2)) t(x)"
    right = "SELECT * FROM (VALUES (1), (3)) t(x)"
    assert oracle.diff_counts(con, left, right, ["x"]) == (2, 1)
    assert oracle.diff_counts(con, left, left, ["x"]) == (0, 0)


def test_oracle_rollup(tmp_path):
    import duckdb

    f = _feed(tmp_path, "e0.parquet", [
        ("c1", 0, "abc", "browser", "U", 1), ("c1", 1, "de", None, "U", 2),
        ("c2", 0, "f", None, "U", 3), ("c2", 0, "f", None, "D", 4),
    ])
    con = duckdb.connect()
    got = {"n_conversations": 1, "n_turns": 2, "n_tool_calls": 1,
           "total_chars": 5, "max_lsn": 2}
    assert oracle.check_rollup(con, got, [f])["ok"]
    assert not oracle.check_rollup(con, {**got, "n_turns": 3}, [f])["ok"]


# ------------------------------------------------------------ applied batches


class FakeStats:
    def __init__(self, epoch, skipped):
        self.epoch, self.skipped = epoch, skipped


def test_a_skipped_batch_fails_the_applied_check():
    files = ["ep-0", "ep-1", "ep-2"]
    applied = [FakeStats(0, False), FakeStats(1, False), FakeStats(2, False)]
    name, ok, _ = run.applied_check("untraced", worker.count_applied(applied), len(files))
    assert (name, ok) == ("untraced.batches", True)
    one_skipped = [FakeStats(0, False), FakeStats(1, True), FakeStats(2, False)]
    assert worker.count_applied(one_skipped) == 2
    assert not run.applied_check("untraced", worker.count_applied(one_skipped), len(files))[1]


def test_steal_share():
    before = [100, 0, 10, 50, 0, 0, 0, 5]
    assert run.steal_share(before, [160, 0, 20, 70, 0, 0, 0, 15]) == pytest.approx(0.1)
    assert run.steal_share(before, before) == 0.0
    assert len(run.cpu_times()) == 8


def test_metric_units_come_from_benchmark_json():
    e2e = run.metric_units("end_to_end")
    assert e2e["setup_s"] == "s" and e2e["apply_events_per_s"] == "events/s"
    assert run.metric_units("per_layer")["cdc.stream.wal_commit_ms"] == "ms"


# ------------------------------------------------------------ event log


def _task(stage, run_ms, gc=0, sw=0, rr=0, lr=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                             "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                                      "Local Bytes Read": lr}}}


def test_parse_event_log_attributes_stages_to_spans():
    props = {"Properties": {T.SPAN_PROPERTY: "s7", "spark.job.description": "x"}}
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], **props},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, **props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, **props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        _task(0, 10, gc=1, sw=100), _task(0, 30, gc=2, sw=50, spill=7),
        _task(1, 10, rr=5, lr=6), _task(1, 10), _task(1, 40),
        _task(2, 99),
    ]
    log = T.parse_event_log(json.dumps(e) + "\n" for e in events)
    assert log.jobs == {0: "s7", 1: None}
    s0, s1, s2 = log.stages[0], log.stages[1], log.stages[2]
    assert (s0.span, s0.tasks, s0.run_ms, s0.gc_ms) == ("s7", 2, [10, 30], 3)
    assert (s0.shuffle_write_bytes, s0.disk_spill_bytes) == (150, 7)
    assert s1.shuffle_read_bytes == 11 and s2.span is None
    assert T.widest_stage([s0, s1, s2]) is s1
    assert T.stage_skew(s1) == pytest.approx(4.0)
    assert T.stage_skew(T.StageMetrics(None)) == 1.0
