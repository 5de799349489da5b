"""The event-log parser on a small recorded log (see record_eventlog.py)
and the attribution rules on hand-made spans."""

import json
import os

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _raw_events():
    out = []
    for path in eventlog.event_files(os.path.join(DATA, "eventlog")):
        with open(path) as f:
            out += [json.loads(line) for line in f]
    return out


def _spans():
    with open(os.path.join(DATA, "spans.json")) as f:
        return json.load(f)


def test_reads_every_job_and_task():
    raw = _raw_events()
    log = eventlog.load(os.path.join(DATA, "eventlog"))
    starts = [e for e in raw if e["Event"] == "SparkListenerJobStart"]
    assert len(log["jobs"]) == len(starts) >= 6
    assert len(log["tasks"]) == sum(e["Event"] == "SparkListenerTaskEnd" for e in raw)
    assert all(j["end"] is not None and j["result"] == "JobSucceeded" for j in log["jobs"].values())


def test_attribution_is_complete():
    spans = _spans()
    root = next(s for s in spans if s["parent"] is None)
    att = eventlog.attribute(spans, eventlog.load(os.path.join(DATA, "eventlog")))
    in_window = [e for e in _raw_events() if e["Event"] == "SparkListenerJobStart"
                 and root["start"] <= e["Submission Time"] / 1000.0 <= root["end"]]
    assert att["jobs_in_window"] == len(in_window)
    # jobs across all layers, unattributed included, are the jobs in the log's window
    assert sum(v["jobs"] for v in att["layers"].values()) == len(in_window)
    props = [e["Properties"].get("perfbench.span") for e in in_window]
    untagged = props.count(None)
    assert att["jobs_stray"] == untagged >= 1
    assert att["jobs_unattributed"] == untagged + props.count(f"{root['run']}/{root['id']}")
    assert att["layers"]["plans.pipeline"]["jobs"] == 1
    assert att["layers"]["layer.a"]["jobs"] >= 1
    assert att["layers"]["layer.b"]["jobs"] >= 1
    assert att["layers"]["sources.kgx"]["jobs"] == 0
    assert att["layers"]["sources.kgx"]["driver_s"] >= 0.3
    # self times partition the root span
    total = sum(v["wall_s"] for v in att["layers"].values())
    assert abs(total - att["wall_s"]) < 1e-6
    assert att["layers"]["layer.a"]["cpu_s"] > 0


def _span(i, parent, start, end, layer, job_layer=None, run="r"):
    return {"id": i, "run": run, "name": f"s{i}", "layer": layer,
            "job_layer": job_layer or layer, "parent": parent, "start": start, "end": end}


def _job(i, span, submit, end):
    return {"id": i, "submit": submit, "end": end, "span": span, "result": "JobSucceeded"}


def test_self_time_split_by_jobs():
    spans = [
        _span(0, None, 0.0, 10.0, "unattributed"),
        _span(1, 0, 1.0, 5.0, "stage"),
        _span(2, 1, 3.0, 4.0, "commit"),
        _span(3, 0, 6.0, 9.0, "sink", "op"),
    ]
    jobs = {
        1: _job(1, "r/1", 1.5, 2.5),
        2: _job(2, "r/2", 3.2, 3.7),
        3: _job(3, "r/3", 6.5, 8.0),
        4: _job(4, None, 9.5, 9.6),     # untagged, inside the root
        5: _job(5, "r/1", 11.0, 12.0),  # after the root
    }
    att = eventlog.attribute(spans, {"jobs": jobs, "stages": {}, "tasks": []})
    L = att["layers"]
    assert L["stage"]["wall_s"] == 3.0 and L["stage"]["driver_s"] == 2.0
    assert L["commit"]["wall_s"] == 1.0 and L["commit"]["driver_s"] == 0.5
    assert L["op"]["wall_s"] == 1.5 and L["op"]["driver_s"] == 0.0
    assert L["sink"]["wall_s"] == 1.5 and L["sink"]["driver_s"] == 1.5
    assert L["unattributed"]["wall_s"] == 3.0
    assert att["jobs_in_window"] == 4 and att["jobs_stray"] == 1
    assert {k: v["jobs"] for k, v in L.items() if v["jobs"]} == {
        "stage": 1, "commit": 1, "op": 1, "unattributed": 1}


def test_task_metrics_and_skew():
    spans = [_span(0, None, 0.0, 10.0, "unattributed", "op")]
    base = {"cpu_ns": 1e9, "gc_ms": 100, "peak_mem": 1 << 20, "spill": 0,
            "shuffle_write": 1 << 20, "bytes_read": 0, "bytes_written": 0,
            "py_init_ms": 0, "py_run_ms": 0, "py_sent": 0, "py_recv": 0}
    tasks = [dict(base, stage=1, run_ms=100, records_in=10),
             dict(base, stage=1, run_ms=100, records_in=30),
             dict(base, stage=2, run_ms=10, records_in=1)]
    log = {"jobs": {}, "stages": {1: "r/0", 2: "r/0"}, "tasks": tasks}
    op = eventlog.attribute(spans, log)["layers"]["op"]
    assert op["cpu_s"] == 3.0 and op["shuffle_mb"] == 3.0 and op["peak_mem_mb"] == 1.0
    assert abs(op["gc_s"] - 0.3) < 1e-9
    assert op["task_skew"] == 1.5  # heaviest stage: max 30 / mean 20
