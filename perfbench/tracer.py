"""Layer spans recorded from outside the package.

:class:`Tracer` keeps spans in memory.  Each span has a name, start and
end (epoch seconds, the clock Spark's event log uses), its parent, the
run id, the layer its driver time belongs to, and the layer its Spark
jobs belong to.  Entering a span sets the Spark job group to that job
layer and the local property ``perfbench.span`` to ``<run>/<span id>``,
so every job, stage and task in the event log names the span that
started it.  Leaving a span restores the parent's tags.

:func:`install` wraps the package's public entry points, and the
private ``PipelineRun._write_metrics`` (the commit's metrics pass), by
module or class attribute and returns a function that puts the
originals back; it raises if one of them is gone.
The merge CLI imports its sinks and reader when it is called, so
module-attribute wrapping reaches them.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"
ROOT_LAYER = "unattributed"

# pipeline stage -> layer that does its work
STAGE_LAYERS = {
    "corpus": "sources.corpus",
    "extracted": "functions.extract",
    "triples": "functions.triples",
    "linked": "functions.linking",
    "components": "operators.components",
    "canonical_triples": "plans.pipeline",
    "kgx_edges": "operators.merge.edges_provenance",
    "kgx_nodes": "operators.merge.nodes",
}
# merge-command output -> layer whose plan the sink executes
OUTPUT_LAYERS = {
    "merged_kg_nodes": "operators.merge.nodes",
    "merged_kg_edges": "operators.merge.edges",
    "merged_kg_edges_full": "operators.merge.edges_provenance",
    "edges_missing_nodes_with_category": "operators.merge.coverage",
    "merged_graph_stats": "operators.stats",
}


class Tracer:
    """Span recorder for one traced run of one workload."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _tag(self, rec: dict | None) -> None:
        if rec is None:
            for key in ("spark.jobGroup.id", "spark.job.description", SPAN_PROPERTY):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(rec["job_layer"], rec["name"])
            self.sc.setLocalProperty(SPAN_PROPERTY, f"{self.run_id}/{rec['id']}")

    @contextmanager
    def span(self, name: str, layer: str, job_layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "job_layer": job_layer or layer,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


def _wrap(tracer: Tracer, fn, name_layer):
    """``name_layer(*args, **kwargs) -> (span name, layer, job layer)``."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name, layer, job_layer = name_layer(*args, **kwargs)
        with tracer.span(name, layer, job_layer):
            return fn(*args, **kwargs)

    return wrapper


def _output_name(path: str) -> str:
    base = os.path.basename(os.path.normpath(path))
    return base[:-4] if base.endswith(".tsv") else base


def _sink(kind: str):
    # driver time of a sink belongs to sources.kgx; the jobs it starts
    # run the plan of the operator that produced the output
    def name_layer(df, path, *a, **k):
        out = _output_name(path)
        return f"{kind}:{out}", "sources.kgx", OUTPUT_LAYERS.get(out, "sources.kgx")

    return name_layer


def install(tracer: Tracer):
    """Wrap the entry points; return a function that undoes it."""
    from kg_microbe_merge_spark import cli
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun
    from kg_microbe_merge_spark.sources import kgx

    targets = [
        (cli, "get_spark", lambda *a, **k: ("get_spark", "session", None)),
        (PipelineRun, "stage", lambda self, name, *a, **k: (
            f"stage:{name}", STAGE_LAYERS.get(name, "plans.pipeline"), None)),
        (kgx, "read_kgx_tsv", lambda *a, **k: ("read_kgx_tsv", "sources.kgx", None)),
        (kgx, "write_tsv_dir", _sink("write_tsv_dir")),
        (kgx, "write_tsv_single", _sink("write_tsv_single")),
        # private: the commit's metrics pass, the pipeline's own overhead
        # inside each stage; plans.pipeline.reread_ratio depends on it
        (PipelineRun, "_write_metrics", lambda self, stage, *a, **k: (
            f"commit:{stage}", "plans.pipeline", None)),
    ]
    missing = [f"{owner.__name__}.{attr}" for owner, attr, _ in targets
               if attr not in owner.__dict__]
    if missing:
        raise RuntimeError(f"cannot trace {', '.join(missing)}: gone from the package")
    saved = []
    for owner, attr, name_layer in targets:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, name_layer))

    def restore() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore
