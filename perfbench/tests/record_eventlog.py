"""Record the small event log that test_bench_eventlog.py reads.

    python3 perfbench/tests/record_eventlog.py

Runs a few tiny jobs on ``local[2]`` inside tracer spans: one job
directly under the root span, a stage span with a child commit span, a
sink span whose driver time belongs to another layer than its jobs, one
job inside the root with its span tag removed, and jobs before and after
the root span.  Writes the spans to ``data/spans.json`` and the event
log to ``data/eventlog/``, keeping only job, stage and task events and,
of their properties, only the ones the parser reads (the rest name
local paths), with this directory's path dropped from call sites.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import tracer  # noqa: E402

KEEP_EVENTS = {
    "SparkListenerLogStart", "SparkListenerJobStart", "SparkListenerJobEnd",
    "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
    "SparkListenerTaskStart", "SparkListenerTaskEnd",
}
KEEP_PROPS = {"spark.jobGroup.id", "spark.job.description", tracer.SPAN_PROPERTY}


def record(spark, log_dir: str) -> list[dict]:
    spark.range(7).count()  # before the run: outside the window
    tr = tracer.Tracer(spark, run_id="r1")
    with tr.span("iteration", tracer.ROOT_LAYER):
        spark.range(10).count()
        with tr.span("stage:a", "layer.a"):
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
            with tr.span("commit:a", "plans.pipeline"):
                spark.range(5).collect()
        with tr.span("sink:out", "sources.kgx", "layer.b"):
            spark.range(100).write.format("noop").mode("overwrite").save()
            time.sleep(0.3)
        tr.sc.setLocalProperty(tracer.SPAN_PROPERTY, None)
        spark.range(3).count()
        tr.sc.setLocalProperty(tracer.SPAN_PROPERTY, "r1/0")
    spark.range(9).count()  # after the run
    return tr.spans


def trim(src_dir: str, dst_dir: str) -> None:
    for app in glob.glob(os.path.join(src_dir, "eventlog_v2_*")):
        out_app = os.path.join(dst_dir, os.path.basename(app))
        os.makedirs(out_app)
        for f in os.listdir(app):
            if not f.startswith("events_"):
                continue
            with open(os.path.join(app, f)) as fin, open(os.path.join(out_app, f), "w") as fout:
                for line in fin:
                    ev = json.loads(line)
                    if ev["Event"] not in KEEP_EVENTS:
                        continue
                    if "Properties" in ev:
                        ev["Properties"] = {k: v for k, v in ev["Properties"].items()
                                            if k in KEEP_PROPS}
                    if "Stage Info" in ev:
                        ev["Stage Info"].pop("Details", None)
                    for info in ev.get("Stage Infos", []):
                        info.pop("Details", None)
                    if ev["Event"] == "SparkListenerLogStart":
                        ev = {"Event": ev["Event"], "Spark Version": ev["Spark Version"]}
                    # call sites name this file by its absolute path
                    fout.write(json.dumps(ev).replace(HERE + os.sep, "") + "\n")


def main() -> None:
    from pyspark.sql import SparkSession

    data = os.path.join(HERE, "data")
    tmp = tempfile.mkdtemp(dir=HERE)
    try:
        spark = (SparkSession.builder.master("local[2]").appName("perfbench-record")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", "file://" + tmp)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "true")
                 .getOrCreate())
        spans = record(spark, tmp)
        spark.stop()
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        trim(tmp, os.path.join(data, "eventlog"))
        with open(os.path.join(data, "spans.json"), "w") as f:
            json.dump(spans, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
