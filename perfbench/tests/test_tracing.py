from __future__ import annotations

import json

import pytest

from tracing import Tracer, parse_event_log, progress_metrics, read_event_logs, self_times


def _job(job_id, stages, **props):
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props})


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, spill=0):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Disk Bytes Spilled": spill,
            },
        }
    )


FIXTURE = [
    _job(0, [0, 1], **{"perfbench.caller": "lake.merge"}),
    _task(0, 100, cpu_ns=50_000_000, gc_ms=10, shuffle=1000),
    _task(0, 100, shuffle=500),
    _task(1, 100),
    _task(1, 100),
    _task(1, 400, spill=64),  # heaviest merge stage: skew 400 / 100
    _job(1, [2]),  # untagged: background
    _task(2, 30),
    _job(2, [3], **{"sql.streaming.queryId": "q1", "streaming.sql.batchId": "0"}),
    _task(3, 999),  # warm-up batch: not credited to the stream
    _job(3, [4], **{"sql.streaming.queryId": "q1", "streaming.sql.batchId": "1", "perfbench.caller": "perfbench"}),
    _task(4, 20),
    _task(4, 40),
    "",
]


def test_event_log_attributes_tasks_to_callers():
    out = parse_event_log(FIXTURE, {"q1": ("streaming.tailer", 1)})
    merge = out["lake.merge"]
    assert merge["tasks"] == 5
    assert merge["executor_run_s"] == pytest.approx(0.8)
    assert merge["executor_cpu_s"] == pytest.approx(0.05)
    assert merge["gc_s"] == pytest.approx(0.01)
    assert merge["shuffle_write_bytes"] == 1500
    assert merge["spill_bytes"] == 64
    assert merge["task_skew"] == pytest.approx(4.0)
    assert out["background"]["tasks"] == 1
    assert out["perfbench"]["executor_run_s"] == pytest.approx(0.999)
    stream = out["streaming.tailer"]
    assert stream["tasks"] == 2
    assert stream["task_skew"] == pytest.approx(40 / 30)


def test_rolling_event_log_files_are_read_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")
    (app / "events_2_local-1").write_text("\n".join(FIXTURE[5:8]) + "\n")
    (app / "events_1_local-1").write_text("\n".join(FIXTURE[:5]) + "\n")
    out = read_event_logs(tmp_path, {})
    assert out["lake.merge"]["tasks"] == 5
    assert out["background"]["tasks"] == 1


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "trace_id": "t", "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "commit", 0.0, 10.0),
        _span(1, "sources.lake.merge", 1.0, 4.0, parent=0),
        _span(2, "sources.lake.read_keys", 3.0, 6.0, parent=0),  # overlaps the merge
        _span(3, "sources.lake.read_keys", 8.0, 12.0, parent=0),  # runs past the parent
        _span(4, "inner", 1.5, 2.0, parent=1),
    ]
    got = self_times(spans)
    assert got["commit"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got["sources.lake.merge"] == pytest.approx(3.0 - 0.5)
    assert got["sources.lake.read_keys"] == pytest.approx(3.0 + 4.0)
    assert got["inner"] == pytest.approx(0.5)


def test_tracer_nests_spans_and_shares_trace_ids():
    tr = Tracer(enabled=True)
    with tr.span("commit", "commit-1") as outer:
        with tr.span("sources.lake.merge") as inner:
            pass
    assert [s.name for s in tr.spans] == ["commit", "sources.lake.merge"]
    assert inner.parent == outer.id and inner.trace_id == "commit-1"
    assert outer.seconds >= inner.seconds >= 0
    off = Tracer(enabled=False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s.seconds >= 0


def test_progress_metrics():
    progress = [
        {"rows": 10, "durationMs": {"triggerExecution": 300, "addBatch": 250, "walCommit": 5}},
        {"rows": 30, "durationMs": {"triggerExecution": 500, "addBatch": 420, "walCommit": 7}},
    ]
    m = progress_metrics(progress)
    assert m["stream.batches"] == 2
    assert m["stream.rows_per_batch"] == 20
    assert m["stream.triggerExecution_ms"] == 400
    assert m["stream.overhead_ms"] == 65
    assert m["stream.getBatch_ms"] == 0
