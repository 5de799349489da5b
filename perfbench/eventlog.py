"""Stdlib-only reader for Spark's rolling event log, and the attribution
of one traced run's jobs, tasks and time to layers.

Spark writes ``eventlog_v2_<app id>/events_<n>_<app id>`` files of one
JSON event per line (``spark.eventLog.rolling.enabled=true``,
``spark.eventLog.compress=false``).  Only job, stage-submission and
task-end events are kept; every job and stage carries the local
properties of the thread that started it, which include the job group
and the ``perfbench.span`` tag set by :mod:`tracer`.

Attribution rule, for one run's span tree: a span's self time is its
interval minus the intervals of its child spans.  The part of the self
time during which one of the span's own jobs is running goes to the
span's job layer; the rest is driver time and goes to the span's layer.
The root span's layer is ``unattributed``.  Self times partition the
root interval, so the layers' wall times plus the unattributed time add
up to the run's wall time.
"""

from __future__ import annotations

import glob
import json
import os
import re

from tracer import ROOT_LAYER, SPAN_PROPERTY

MIB = float(1 << 20)
_KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd",
         "SparkListenerStageSubmitted", "SparkListenerTaskEnd")
_PY = {
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
}


def event_files(log_dir: str) -> list[str]:
    """The event files of every application under ``log_dir``, in order."""
    out = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = []
        for f in os.listdir(app):
            m = re.fullmatch(r"events_(\d+)_.*", f)
            if m:
                parts.append((int(m.group(1)), os.path.join(app, f)))
        out.extend(p for _, p in sorted(parts))
    return out


def read_events(log_dir: str):
    """Yield the job, stage-submission and task-end events."""
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                head = line[:48]
                if any(k in head for k in _KEEP):
                    ev = json.loads(line)
                    if ev.get("Event") in _KEEP:
                        yield ev


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    outp = m.get("Output Metrics") or {}
    t = {
        "stage": ev["Stage ID"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0) + m.get("Executor Deserialize CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "records_in": sr.get("Total Records Read", 0) + inp.get("Records Read", 0),
        "bytes_read": inp.get("Bytes Read", 0),
        "bytes_written": outp.get("Bytes Written", 0),
    }
    for k in _PY.values():
        t[k] = 0
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        key = _PY.get(acc.get("Name"))
        if key and acc.get("Update") is not None:
            t[key] += int(acc["Update"])
    return t


def load(log_dir: str) -> dict:
    """``{"jobs": {id: job}, "stages": {id: span tag}, "tasks": [task]}``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, str | None] = {}
    tasks: list[dict] = []
    for ev in read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "span": props.get(SPAN_PROPERTY),
                "result": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["result"] = (ev.get("Job Result") or {}).get("Result")
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stages[ev["Stage Info"]["Stage ID"]] = props.get(SPAN_PROPERTY)
        else:
            tasks.append(_task(ev))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _measure(iv) -> float:
    return sum(e - s for s, e in iv)


def _intersect(a, b) -> list[tuple[float, float]]:
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _subtract(a, b) -> list[tuple[float, float]]:
    """Intervals of ``a`` not covered by ``b`` (both unions)."""
    out = []
    for s, e in a:
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


def _blank() -> dict:
    return {
        "wall_s": 0.0, "driver_s": 0.0, "jobs": 0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_mb": 0.0, "spill_mb": 0.0, "peak_mem_mb": 0.0,
        "python_init_s": 0.0, "python_run_s": 0.0, "python_mb": 0.0,
        "task_skew": 0.0, "exec_run_s": 0.0, "read_mb": 0.0, "written_mb": 0.0,
    }


def attribute(spans: list[dict], log: dict) -> dict:
    """Per-layer metrics of the run whose span tree is ``spans`` (one
    root).  Jobs submitted inside the root interval without a tag of
    this run count as unattributed."""
    by_id = {s["id"]: s for s in spans}
    root = next(s for s in spans if s["parent"] is None)
    run = root["run"]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def span_of(tag: str | None) -> dict | None:
        if not tag or not tag.startswith(run + "/"):
            return None
        return by_id.get(int(tag.rsplit("/", 1)[1]))

    layers: dict[str, dict] = {}

    def lay(name: str) -> dict:
        return layers.setdefault(name, _blank())

    in_window = [j for j in log["jobs"].values()
                 if root["start"] <= j["submit"] <= root["end"]]
    own_jobs: dict[int, list[dict]] = {}
    stray = 0
    for j in in_window:
        s = span_of(j["span"])
        if s is None:
            stray += 1
            lay(ROOT_LAYER)["jobs"] += 1
            continue
        own_jobs.setdefault(s["id"], []).append(j)
        lay(s["job_layer"])["jobs"] += 1

    for s in spans:
        self_iv = _subtract([(s["start"], s["end"])],
                            _union([(c["start"], c["end"]) for c in children.get(s["id"], [])]))
        jobs_iv = _union([(j["submit"], j["end"] or s["end"]) for j in own_jobs.get(s["id"], [])])
        job_time = _measure(_intersect(self_iv, jobs_iv))
        driver_time = _measure(self_iv) - job_time
        lay(s["job_layer"])["wall_s"] += job_time
        lay(s["layer"])["wall_s"] += driver_time
        lay(s["layer"])["driver_s"] += driver_time

    stage_tasks: dict[tuple[str, int], list[dict]] = {}
    span_io: dict[str, list[float]] = {}
    for t in log["tasks"]:
        s = span_of(log["stages"].get(t["stage"]))
        if s is None:
            continue
        io = span_io.setdefault(s["name"], [0.0, 0.0])
        io[0] += t["bytes_read"] / MIB
        io[1] += t["bytes_written"] / MIB
        L = lay(s["job_layer"])
        L["cpu_s"] += t["cpu_ns"] / 1e9
        L["gc_s"] += t["gc_ms"] / 1000.0
        L["shuffle_mb"] += t["shuffle_write"] / MIB
        L["spill_mb"] += t["spill"] / MIB
        L["peak_mem_mb"] = max(L["peak_mem_mb"], t["peak_mem"] / MIB)
        L["python_init_s"] += t["py_init_ms"] / 1000.0
        L["python_run_s"] += t["py_run_ms"] / 1000.0
        L["python_mb"] += (t["py_sent"] + t["py_recv"]) / MIB
        L["exec_run_s"] += t["run_ms"] / 1000.0
        L["read_mb"] += t["bytes_read"] / MIB
        L["written_mb"] += t["bytes_written"] / MIB
        stage_tasks.setdefault((s["job_layer"], t["stage"]), []).append(t)

    # data skew of each layer's heaviest stage: max / mean records read per task
    heaviest: dict[str, tuple[float, list[dict]]] = {}
    for (layer, _stage), ts in stage_tasks.items():
        busy = sum(t["run_ms"] for t in ts)
        if layer not in heaviest or busy > heaviest[layer][0]:
            heaviest[layer] = (busy, ts)
    for layer, (_busy, ts) in heaviest.items():
        recs = [t["records_in"] for t in ts]
        mean = sum(recs) / len(recs)
        layers[layer]["task_skew"] = max(recs) / mean if len(recs) > 1 and mean > 0 else 1.0

    return {
        "run": run,
        "wall_s": root["end"] - root["start"],
        "layers": layers,
        "jobs_in_window": len(in_window),
        "jobs_unattributed": layers.get(ROOT_LAYER, _blank())["jobs"],
        "jobs_stray": stray,
        "span_io_mb": span_io,  # span name -> [read, written]
    }
