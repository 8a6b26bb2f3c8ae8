#!/usr/bin/env python3
"""spark-rdl benchmark: one workload per invocation on ``local[nproc]``.

    python3 perfbench/run.py --workload train_stack --seed 1 --seconds 5 --trace 0

Run from the repository root. The script generates its database from a
fixed data seed (``datagen.py``), builds a Spark session through the
engine's ``make_session``, runs the workload for ``--seconds`` and
prints, as the last line of standard output, one JSON object::

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (spans around engine calls, the Spark event log,
/proc), both as listed in ``BENCHMARK.json``. Every operation's output
is checked; a wrong output or an exception ends the run with exit code
1. ``--seconds 0`` measures the fewest iterations the workload
allows (``workloads.MIN_ITERATIONS``). All files are
written under ``.perfbench_work/`` in the repository root and removed
at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH_SF = 0.001
DRIVER_MEMORY = "2g"
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="write this run's output fingerprints to fingerprints.json")
    return p.parse_args(argv)


def _env(work: str) -> int:
    """Point every writer at ``work`` and return N for local[N]. Must
    run before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp
    return cores


def _session(work: str, trace: bool):
    from deep_db_learning_spark.session import make_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}/tmp",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            # one file per application; Spark 4 rolls the log by default
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = make_session("perfbench", driver_memory=DRIVER_MEMORY, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _setup(work: str, data_dir: str, trace: bool):
    """JVM launch and session start, then load and count every table:
    what a user waits for before the first call."""
    import __spark_entry__ as entry
    from deep_db_learning_spark.sources import load_testdata

    t0 = time.perf_counter()
    spark = _session(work, trace)
    t1 = time.perf_counter()
    db = load_testdata(spark, data_dir)
    for t in db.get_tables():
        db.df(t).count()
    entry._DBS[(spark, data_dir)] = db
    t2 = time.perf_counter()
    return spark, db, {"setup": t2 - t0, "start": t1 - t0, "load": t2 - t1}


def _install_spans(tracer: tracing.Tracer) -> None:
    import deep_db_learning_spark.checkpoint as checkpoint
    import deep_db_learning_spark.operators.graph as graph
    import deep_db_learning_spark.plans.persistence as persistence
    import deep_db_learning_spark.plans.training as training
    from deep_db_learning_spark.profiling.analyzer import SchemaAnalyzer

    tracer.rebind(checkpoint, "cut_lineage", "checkpoint.cut_lineage")
    tracer.rebind(graph, "build_hetero_graph", "operators.graph.build_hetero_graph")
    tracer.rebind(training, "assemble_training_frame",
                  "plans.training.assemble_training_frame")
    tracer.rebind(persistence, "save_stack_model", "plans.persistence.save_stack_model")
    tracer.rebind(persistence, "load_stack_model", "plans.persistence.load_stack_model")
    tracer.rebind(SchemaAnalyzer, "guess_schema", "profiling.guess_schema")


class Runner:
    def __init__(self, ctx, ops, tracer):
        self.ctx, self.ops, self.tracer = ctx, ops, tracer
        self.attempted = 0
        self.failed = 0
        self.op_s: dict[str, list[float]] = {}

    def iteration(self) -> float | None:
        """Run every op once; the summed call time, or None on failure."""
        total = 0.0
        for op in self.ops:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                if self.tracer is not None:
                    out = self.tracer.span(op.span, op.run, self.ctx)
                else:
                    out = op.run(self.ctx)
                dt = time.perf_counter() - t0
                total += dt
                self.op_s.setdefault(op.name, []).append(round(dt, 4))
                op.check(self.ctx, out)
            except workloads.CheckFailed as e:
                self.failed += 1
                print(f"perfbench: WRONG OUTPUT in {op.name}: {e}", file=sys.stderr)
                return None
            except Exception:
                self.failed += 1
                print(f"perfbench: {op.name} raised:", file=sys.stderr)
                traceback.print_exc()
                return None
        return total


def _layer_metrics(tracer, spans_from, n_iter, log, cores, window, cpu, setup):
    spans = tracer.spans
    measured = tracer.closed(spans_from)

    def per_iter(x):
        return x / n_iter

    def total(name):
        return per_iter(sum(s["end"] - s["start"] for s in measured if s["name"] == name))

    def calls(name):
        return per_iter(sum(1 for s in measured if s["name"] == name))

    def self_s(name):
        return per_iter(sum(tracing.self_time(s, spans) for s in measured if s["name"] == name))

    job_span = tracing.attribute_jobs(log, spans)
    lo, hi = window
    window_jobs = {j for j, job in log["jobs"].items() if lo <= job["submit"] <= hi}

    def subtree_jobs(name):
        roots = {s["id"] for s in measured if s["name"] == name}
        parent = {s["id"]: s["parent"] for s in spans}
        out = set()
        for j in window_jobs:
            sid = job_span.get(j)
            while sid is not None and sid not in roots:
                sid = parent.get(sid)
            if sid is not None:
                out.add(j)
        return out

    m = {
        "session.start_s": setup["start"],
        "sources.load_s": setup["load"],
        "sources.scd2_apply_s": total("sources.scd2_apply"),
        "sources.store_roundtrip_s": total("sources.store_roundtrip"),
        "profiling.guess_schema_s": total("profiling.guess_schema"),
        "operators.graph.build_s": total("operators.graph.build_hetero_graph"),
        "operators.graph.build_calls": calls("operators.graph.build_hetero_graph"),
        "plans.training.assemble_s": total("plans.training.assemble_training_frame"),
        "plans.stack.train_self_s": self_s("plans.stack.train_relational_stack"),
        "plans.stack.predict_self_s": self_s("plans.stack.predict"),
        "plans.persistence.save_s": total("plans.persistence.save_stack_model"),
        "plans.persistence.load_s": total("plans.persistence.load_stack_model"),
        "checkpoint.cut_lineage_s": total("checkpoint.cut_lineage"),
        "checkpoint.cut_lineage_calls": calls("checkpoint.cut_lineage"),
    }
    steps = 0
    train_spans = calls("plans.stack.train_relational_stack")
    if train_spans:
        _, cfg = workloads.stack_config()
        steps = train_spans * n_iter * cfg["epochs"] * cfg["n_batches"]
    m["plans.stack.jobs_per_step"] = (
        len(subtree_jobs("plans.stack.train_relational_stack")) / steps if steps else 0.0
    )
    c = tracing.spark_counters(log, window_jobs, window, cores)
    for k, v in c.items():
        m[f"spark.{k}"] = v if k == "core_busy_frac" else per_iter(v)
    for role, key in (("workers", "python_worker"), ("driver_py", "driver_py"),
                      ("jvm", "jvm")):
        m[f"proc.{key}_cpu_s"] = per_iter(cpu[1][role] - cpu[0][role])
    return m


def run(args, work: str, spec: dict) -> tuple[dict, int]:
    cores = _env(work)
    data_dir = os.path.join(work, "data")
    sizes = datagen.generate(data_dir, BENCH_SF)
    with open(FINGERPRINTS) as f:
        pins_all = json.load(f)
    pins = pins_all.get(f"sf={BENCH_SF}", {}).get(args.workload, {})

    tree = tracing.ProcTree()
    spark, db, setup = _setup(work, data_dir, bool(args.trace))
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext)
        _install_spans(tracer)
    ctx = workloads.Ctx(
        spark=spark, db=db, data_dir=data_dir, work_dir=work, seed=args.seed,
        n_customers=sizes["customer"], pins=pins,
        record={} if args.record else None,
    )
    runner = Runner(ctx, workloads.WORKLOADS[args.workload](args.seed), tracer)
    first = runner.iteration()
    iters: list[float] = []
    measure_wall = time.time()
    cpu0 = tree.cpu_s()
    # the memory sampler reads /proc twice a second: traced runs only
    mem = tracing.PeakMemory(tree) if tracer else contextlib.nullcontext()
    with mem:
        t0 = time.perf_counter()
        while not runner.failed:
            it = runner.iteration()
            if it is None:
                break
            iters.append(it)
            if (time.perf_counter() - t0 >= args.seconds
                    and len(iters) >= workloads.MIN_ITERATIONS[args.workload]):
                break
    cpu1 = tree.cpu_s()
    measure_end = time.time()
    app_id = spark.sparkContext.applicationId
    _stop_spark()

    ok = runner.failed == 0
    values: dict[str, float] = {}
    if ok and not args.trace:
        values = {
            # set-up plus the one cold iteration a user waits for
            # before the system is warm
            "setup_s": setup["setup"] + first,
            "iteration_s": statistics.median(iters),
        }
    elif ok:
        log = tracing.read_event_log(os.path.join(work, "eventlog"), app_id)
        values = _layer_metrics(
            tracer, measure_wall, len(iters), log, cores,
            (measure_wall, measure_end), (cpu0, cpu1), setup,
        )
        values["bench.iteration_s"] = statistics.median(iters)
        values["proc.peak_pss_mb"] = mem.peak_mb
        values["proc.jvm_peak_pss_mb"] = mem.peak_roles["jvm"]
    if args.record and ok:
        pins_all.setdefault(f"sf={BENCH_SF}", {})[args.workload] = {**pins, **ctx.record}
        with open(FINGERPRINTS, "w") as f:
            json.dump(pins_all, f, indent=1, sort_keys=True)
            f.write("\n")

    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        if m["name"] in values:
            metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    if ok and len(metrics) != len(declared):
        missing = sorted({m["name"] for m in declared} - set(metrics))
        print(f"perfbench: metrics not emitted: {missing}", file=sys.stderr)
        ok = False
    if ok:
        elsewhere = set().union(*(
            names for w, names in workloads.WORKLOAD_ONLY_METRICS.items()
            if w != args.workload
        ))
        zero = sorted(n for n, m in metrics.items() if n not in elsewhere and m["value"] == 0)
        if zero:
            print(f"perfbench: metrics read 0 on {args.workload}: {zero}", file=sys.stderr)
            ok = False
    result = {
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    print(json.dumps({"provenance": {
        "workload": args.workload, "seed": args.seed, "sf": BENCH_SF, "cores": cores,
        "loadavg": list(os.getloadavg()), "iterations": len(iters),
        "iteration_s": iters, "first_iteration_s": first, "setup_s": setup["setup"],
        "op_s": runner.op_s,
    }}))
    return result, 0 if ok else 1


def _stop_spark() -> None:
    """Stop Spark and the JVM it runs in, and wait for both to end."""
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
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = _parse(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, "deep_db_learning_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from a checkout of the engine (deep_db_learning_spark/, "
              "__spark_entry__.py and BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        result, code = run(args, work, spec)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
