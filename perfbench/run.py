#!/usr/bin/env python3
"""Benchmark of the corpus->KG pipeline and the KGX merge command.

    python3 perfbench/run.py --workload web_pipeline --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout.  One client submits one batch
job at a time (closed loop) from this single driver process, on
``local[nproc]``.  A run starts a session, generates the workload's
input from ``--seed``, warms up on a smaller input made from the same
seed, then times iterations over the full input until ``--seconds``
have passed and reports their median.  Every iteration writes to a fresh directory
that is checked against an oracle and deleted outside the timed window.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a
separate traced run (Spark event log on, layer spans recorded around the
package's public entry points) and prints the per-layer metrics.  The
last line of standard output is one JSON object; the lines before it
are a readable table.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

from tracer import OUTPUT_LAYERS, STAGE_LAYERS

T0 = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kg_microbe_merge_spark"
CORES = len(os.sched_getaffinity(0))
MIB = float(1 << 20)

# The largest sizes whose full measurement (ten seeds twice per workload,
# plus traced runs) fits the run budget; NOTES.md has the run lengths.
PIPELINE_DOCS = 20_000
KGX_SIZE = {"n_nodes": 4500, "n_edges": 11_250}  # per source, 11 sources
# Warm-ups run the same code over a fifth to a tenth of the input: the JVM
# and the Python workers warm up per call, not per row (NOTES.md).
WARMUP_DOCS = 2_000
KGX_WARMUP_SIZE = {"n_nodes": 900, "n_edges": 2250}
WORKLOADS = {
    "web_pipeline": {"kind": "pipeline"},
    "kgx_merge": {"kind": "merge", "single_file": False},
    "kgx_merge_golden": {"kind": "merge", "single_file": True},
}
WARMUPS = 2  # untimed iterations on the warm-up input, counted in setup_s
ITERATION_TIMEOUT_S = 100.0  # jobs are cancelled, the iteration fails
RUN_DEADLINE_S = 170.0  # no iteration starts that could end after this

END_TO_END = [
    ("wall_s", "s"), ("setup_s", "s"), ("input_rows_per_s", "1/s"),
    ("precision", "ratio"), ("recall", "ratio"),
]
LAYERS = [
    "sources.corpus", "functions.extract", "functions.triples", "functions.linking",
    "operators.components", "plans.pipeline", "operators.merge.nodes",
    "operators.merge.edges", "operators.merge.edges_provenance",
    "operators.merge.coverage", "operators.stats", "sources.kgx",
]
LAYER_METRICS = [
    ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_mb", "MiB"), ("spill_mb", "MiB"), ("peak_mem_mb", "MiB"), ("rows_out", "count"),
]
PYTHON_LAYERS = ["sources.corpus", "functions.extract", "functions.triples"]
PYTHON_METRICS = [("python_init_s", "s"), ("python_run_s", "s"), ("python_mb", "MiB")]
SKEW_LAYERS = ["operators.components", "operators.merge.nodes", "operators.merge.edges_provenance"]
SINGLE_METRICS = [
    ("session.start_s", "s"), ("session.canary_s", "s"),
    ("sources.kgx.scan_amplification", "ratio"), ("plans.pipeline.reread_ratio", "ratio"),
    ("plans.pipeline.bytes_written_mb", "MiB"), ("process.peak_rss_mb", "MiB"),
    ("executor.busy_ratio", "ratio"), ("trace.overhead_s", "s"),
]


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    out = []
    for layer in LAYERS:
        out += [(f"{layer}.{m}", u) for m, u in LAYER_METRICS]
        if layer in PYTHON_LAYERS:
            out += [(f"{layer}.{m}", u) for m, u in PYTHON_METRICS]
        if layer in SKEW_LAYERS:
            out.append((f"{layer}.task_skew", "ratio"))
    return out + SINGLE_METRICS


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def driver_memory() -> str:
    """A quarter of the box's memory, at least 1 GiB and at most 4 GiB
    (the package default of 48g overcommits a small box)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 4))}m"


def configure_env(work: str) -> None:
    """Environment every package call sees; set before pyspark loads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)  # else the CLI resets partitions to 32
    os.environ["SPARK_MASTER"] = f"local[{CORES}]"
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package by name from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


class RssSampler:
    """Peak resident set of this process and all its descendants."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            rss[int(pid)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE") // 1024
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo += [c for c, pp in parent.items() if pp == p and c not in tree]
        return sum(rss.get(p, 0) for p in tree)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- workloads


class Pipeline:
    """``run_pipeline(spark, fresh_work_dir, n_docs, seed)``."""

    input_unit = "docs"

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.input_rows = PIPELINE_DOCS
        self.truth: list[tuple] = []

    def generate(self) -> dict:
        return {"n_docs": PIPELINE_DOCS, "seed": self.seed, "warmup_docs": WARMUP_DOCS}

    def prepare_oracle(self) -> None:
        from kg_microbe_merge_spark.sources.corpus import ground_truth_triples

        rows = ground_truth_triples(self.spark, PIPELINE_DOCS, self.seed).select(
            "subj", "pred", "obj").collect()
        self.truth = [tuple(r) for r in rows]

    def run(self, out: str, warmup: bool = False) -> None:
        from kg_microbe_merge_spark.plans.pipeline import run_pipeline

        docs = WARMUP_DOCS if warmup else PIPELINE_DOCS
        run_pipeline(self.spark, out, n_docs=docs, seed=self.seed)

    def check(self, out: str) -> dict:
        import pyarrow.dataset as ds

        import oracle

        edges = ds.dataset(os.path.join(out, "kgx_edges"), format="parquet",
                           partitioning="hive").to_table(columns=["subject", "predicate", "object"])
        nodes = ds.dataset(os.path.join(out, "kgx_nodes"), format="parquet").to_table(columns=["id"])
        e = list(zip(*(edges.column(c).to_pylist() for c in ("subject", "predicate", "object"))))
        p, r, tp, got, exp = oracle.pipeline_scores(e, nodes.column("id").to_pylist(), self.truth)
        with open(os.path.join(out, "_STAGE_MANIFEST.json")) as f:
            manifest = json.load(f)
        rows = {}
        for stage, entry in manifest.items():
            layer = STAGE_LAYERS.get(stage, "plans.pipeline")
            rows[layer] = rows.get(layer, 0) + entry["rows"]
        return {"tp": tp, "got": got, "expected": exp, "ok": p == 1.0 and r == 1.0,
                "rows_out": rows,
                "stages": {k: v["wall_sec"] for k, v in manifest.items()}}


class Merge:
    """``cli.main(["merge", "--transform-dir", d, "--output", o, ...])``."""

    input_unit = "node+edge rows"

    def __init__(self, spark, work: str, seed: int, single_file: bool):
        self.spark, self.seed, self.single_file = spark, seed, single_file
        self.transform_dir = os.path.join(work, "transform")
        self.warmup_dir = os.path.join(work, "transform-warmup")
        self.input_rows = 0
        self.input_bytes = 0
        self.expected: dict = {}

    def generate(self) -> dict:
        import kgxgen

        manifest = kgxgen.generate(self.transform_dir, self.seed, **KGX_SIZE)
        self.input_rows = manifest["input_rows"]
        self.input_bytes = manifest["input_bytes"]
        warm = kgxgen.generate(self.warmup_dir, self.seed, **KGX_WARMUP_SIZE)
        return {**manifest, "warmup_input_rows": warm["input_rows"]}

    def prepare_oracle(self) -> None:
        import oracle

        self.expected = oracle.kgx_oracle(self.transform_dir)

    def run(self, out: str, warmup: bool = False) -> None:
        from kg_microbe_merge_spark import cli

        src = self.warmup_dir if warmup else self.transform_dir
        argv = ["merge", "--transform-dir", src, "--output", out]
        if self.single_file:
            argv.append("--single-file")
        with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the report
            cli.main(argv)

    def check(self, out: str) -> dict:
        import oracle

        suffix = ".tsv" if self.single_file else ""
        pairs, sorted_ok, rows = [], True, {}
        for name in oracle.KGX_OUTPUTS:
            cols, want = self.expected[name]
            header, got = oracle.read_tsv_output(os.path.join(out, name + suffix))
            got = oracle.align(cols, header, got)
            if self.single_file and not oracle.is_sorted(cols, got, oracle.SORT_KEYS[name]):
                sorted_ok = False
            pairs.append((got, want))
            rows[OUTPUT_LAYERS[name]] = len(got)
        _h, stats = oracle.read_tsv_output(os.path.join(out, "merged_graph_stats.tsv"))
        rows["operators.stats"] = len(stats)
        rows["sources.kgx"] = self.input_rows
        p, r, tp, got_n, exp_n = oracle.pooled_scores(pairs)
        return {"tp": tp, "got": got_n, "expected": exp_n, "sorted": sorted_ok,
                "ok": p == 1.0 and r == 1.0 and sorted_ok, "rows_out": rows}


# ---------------------------------------------------------------- timing


class Runner:
    def __init__(self, spark, workload, work: str):
        self.spark, self.workload, self.work = spark, workload, work
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []

    def iterate(self, warmup: bool = False, around=contextlib.nullcontext
                ) -> tuple[float | None, dict | None]:
        """One iteration: GC barrier, timed call (inside ``around()``),
        then the untimed check (not of a warm-up) and delete.  Returns
        (seconds, or None on failure; the check's result)."""
        self.attempted += 1
        out = os.path.join(self.work, f"out{self.attempted:03d}")
        gc.collect()
        self.spark._jvm.System.gc()
        sc = self.spark.sparkContext
        timer = threading.Timer(ITERATION_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        t0 = time.monotonic()
        try:
            with around():
                self.workload.run(out, warmup)
            dt = time.monotonic() - t0
        except Exception as e:  # any failure of the program is a failed iteration
            log(f"iteration failed: {type(e).__name__}: {e}")
            self.failed += 1
            shutil.rmtree(out, ignore_errors=True)
            return None, None
        finally:
            timer.cancel()
        result = None
        if not warmup:
            try:
                result = self.workload.check(out)
            except Exception as e:
                log(f"output check failed: {type(e).__name__}: {e}")
                result = {"ok": False, "tp": 0, "got": 0, "expected": 0, "rows_out": {}}
            self.checks.append(result)
            if not result["ok"]:
                self.failed += 1
        shutil.rmtree(out, ignore_errors=True)
        return dt, result


def canary(spark) -> float:
    """A fixed pure-JVM codegen job; its time tracks host speed."""
    from pyspark.sql import functions as F

    h = F.col("id")
    for i in range(8):
        h = F.xxhash64(h, F.lit(i))
    job = (spark.range(0, 4_000_000 * CORES, 1, CORES * 4)
           .select(h.alias("h")).agg(F.expr("bit_xor(h)").alias("s")))
    t0 = time.monotonic()
    job.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/: run from a source checkout")
        return 2
    spec = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(work)
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            report = measure(args, spec, work)
        if args.trace:
            report["per_layer"]["process.peak_rss_mb"] = rss.peak_kb / 1024.0
        return emit(args, report)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def shutdown() -> None:
    """Stop the session if one was started, then end the JVM and wait
    for it (it exits when its stdin closes)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def measure(args, spec: dict, work: str):
    t_setup = time.monotonic()
    from kg_microbe_merge_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    session_start = time.monotonic() - t_setup  # includes the pyspark import

    if spec["kind"] == "pipeline":
        wl = Pipeline(spark, args.seed)
    else:
        wl = Merge(spark, work, args.seed, spec["single_file"])
    t = time.monotonic()
    input_manifest = wl.generate()
    gen_s = time.monotonic() - t
    runner = Runner(spark, wl, work)
    warm = []
    t = time.monotonic()
    for _ in range(WARMUPS):
        dt, _ = runner.iterate(warmup=True)
        warm.append(dt)
    warm_s = time.monotonic() - t
    setup_s = session_start + gen_s + warm_s
    # after the warm-up, so its Spark job cannot pre-warm the program
    t = time.monotonic()
    wl.prepare_oracle()
    oracle_s = time.monotonic() - t

    report = {
        "input": input_manifest, "input_rows": wl.input_rows, "input_unit": wl.input_unit,
        "session_start_s": session_start, "gen_s": gen_s, "oracle_s": oracle_s,
        "warmup_s": warm, "setup_s": setup_s,
    }
    if not args.trace:
        # --seconds of timed calls; checks and clean-up do not count
        times = []
        while not times or sum(times) < args.seconds:
            if times and time.monotonic() - T0 + max(times) > RUN_DEADLINE_S:
                break
            dt, _ = runner.iterate()
            if dt is not None:
                times.append(dt)
            elif not times and runner.failed >= 3:
                break
        report["times"] = times
    else:
        report.update(traced(spark, wl, runner, work))
        report["per_layer"]["session.start_s"] = session_start
    report["runner"] = runner
    return report


def traced(spark, wl, runner: Runner, work: str) -> dict:
    """Canary, one untraced and one traced iteration, then attribution."""
    import eventlog
    import tracer

    canary(spark)  # codegen warm-up
    canary_s = statistics.median(canary(spark) for _ in range(3))
    plain, _ = runner.iterate()
    tr = tracer.Tracer(spark, run_id=f"r{os.getpid()}")
    restore = tracer.install(tr)
    try:
        out_dt, check = runner.iterate(
            around=lambda: tr.span("iteration", tracer.ROOT_LAYER))
    finally:
        restore()
    spark.stop()  # flushes and closes the event log
    att = eventlog.attribute(tr.spans, eventlog.load(os.path.join(work, "eventlog")))
    layers = att["layers"]
    rows = (check or {}).get("rows_out", {})
    per_layer: dict[str, float] = {}
    for name, _unit in per_layer_names():
        layer, _, metric = name.rpartition(".")
        if layer in LAYERS:
            if metric == "rows_out":
                per_layer[name] = float(rows.get(layer, 0))
            else:
                per_layer[name] = float(layers.get(layer, {}).get(metric, 0.0))
    total_read = sum(v["read_mb"] for v in layers.values()) * MIB
    total_written = sum(v["written_mb"] for v in layers.values())
    # commit passes re-read what the stage writes just committed
    io = att["span_io_mb"]
    commit_read = sum(r for name, (r, _w) in io.items() if name.startswith("commit:"))
    stage_written = sum(w for name, (_r, w) in io.items() if name.startswith("stage:"))
    is_merge = isinstance(wl, Merge)
    per_layer.update({
        "session.canary_s": canary_s,
        "sources.kgx.scan_amplification": total_read / wl.input_bytes if is_merge else 0.0,
        "plans.pipeline.reread_ratio": commit_read / stage_written if stage_written else 0.0,
        "plans.pipeline.bytes_written_mb": 0.0 if is_merge else total_written,
        "executor.busy_ratio": (sum(v["exec_run_s"] for v in layers.values())
                                / (att["wall_s"] * CORES)),
        "trace.overhead_s": (out_dt - plain) if out_dt is not None and plain is not None
        else 0.0,
    })
    return {"per_layer": per_layer, "attribution": att, "untraced_s": plain,
            "traced_s": out_dt, "spans": tr.spans}


# ---------------------------------------------------------------- report


def emit(args, report: dict) -> int:
    runner: Runner = report["runner"]
    checks = runner.checks
    tp = sum(c["tp"] for c in checks)
    got = sum(c["got"] for c in checks)
    exp = sum(c["expected"] for c in checks)
    precision = tp / got if got else 0.0
    recall = tp / exp if exp else 0.0
    correct = bool(checks) and runner.failed == 0 and all(c["ok"] for c in checks)
    print(f"workload {args.workload}  seed {args.seed}  local[{CORES}]  "
          f"input {report['input_rows']} {report['input_unit']}  trace {args.trace}")
    print("input " + json.dumps(report["input"], sort_keys=True))
    print(f"setup: session {report['session_start_s']:.2f}s  input {report['gen_s']:.2f}s  "
          f"warm-up {' '.join(f'{t:.2f}' if t else 'fail' for t in report['warmup_s'])}s  "
          f"(oracle {report['oracle_s']:.2f}s, not in setup)")
    failed_ratio = runner.failed / runner.attempted if runner.attempted else 1.0
    if not args.trace:
        times = report["times"]
        if not times:
            log("no iteration completed")
            return 1
        wall = statistics.median(times)
        metrics = {
            "wall_s": wall, "setup_s": report["setup_s"],
            "input_rows_per_s": report["input_rows"] / wall,
            "precision": precision, "recall": recall,
        }
        print(f"{'metric':<18}{'value':>14}  {'unit':<6} samples")
        for name, unit in END_TO_END:
            n = len(times) if name in ("wall_s", "input_rows_per_s") else (
                len(checks) if name in ("precision", "recall") else 1)
            print(f"{name:<18}{metrics[name]:>14.6g}  {unit:<6} n={n}")
        print(f"{'failed_ratio':<18}{failed_ratio:>14.6g}  {'ratio':<6} "
              f"n={runner.attempted}")
        print("iterations " + " ".join(f"{t:.3f}" for t in times))
        for c in checks:
            if "stages" in c:
                print("stage wall_sec (package manifest) " + json.dumps(c["stages"]))
        out = {name: {"value": metrics[name], "unit": unit} for name, unit in END_TO_END}
    else:
        if report["traced_s"] is None:
            log("traced iteration failed")
            return 1
        pl = report["per_layer"]
        att = report["attribution"]
        print(f"traced wall {att['wall_s']:.3f}s  untraced wall "
              f"{report['untraced_s'] or float('nan'):.3f}s  jobs in window "
              f"{att['jobs_in_window']}  unattributed jobs {att['jobs_unattributed']}")
        print(f"{'layer':<34}{'wall_s':>8}{'driver_s':>9}{'jobs':>6}{'cpu_s':>8}"
              f"{'gc_s':>7}{'shuf_mb':>8}{'spill':>7}{'peak_mb':>8}{'rows_out':>9}")
        shown = LAYERS + sorted(set(att["layers"]) - set(LAYERS))
        accounted = 0.0
        for layer in shown:
            v = att["layers"].get(layer)
            if v is None:
                continue
            accounted += v["wall_s"]
            rows = pl.get(f"{layer}.rows_out", 0.0)
            print(f"{layer:<34}{v['wall_s']:>8.3f}{v['driver_s']:>9.3f}{v['jobs']:>6}"
                  f"{v['cpu_s']:>8.2f}{v['gc_s']:>7.2f}{v['shuffle_mb']:>8.2f}"
                  f"{v['spill_mb']:>7.2f}{v['peak_mem_mb']:>8.1f}{rows:>9.0f}")
        print(f"layers + unattributed = {accounted:.3f}s of traced wall {att['wall_s']:.3f}s")
        print("spans " + json.dumps(report["spans"]))
        in_table = {f"{layer}.{m}" for layer in LAYERS for m, _u in LAYER_METRICS}
        for name, _u in per_layer_names():
            if name not in in_table:
                print(f"  {name} = {pl[name]:.6g}")
        out = {name: {"value": pl[name], "unit": unit} for name, unit in per_layer_names()}
    if not correct:
        # a wrong output or a failed iteration fails the run: no result line
        log(f"run failed: {runner.failed} of {runner.attempted} iterations failed or were wrong")
        return 1
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
