"""Repository benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload pipeline_audio --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a source checkout. The process starts its own
SparkSession (``local[4]``), generates the workload's inputs from
``--seed`` under ``.bench_data/`` (keyed by workload, seed and size) and
checks them, then repeats the workload until the timed repetitions add
up to ``--seconds`` and reports medians over them. The first repetition
is cold, as every run of a batch job is; with ``--seconds`` below its
wall time, as ``BENCHMARK.json`` declares, a run is one cold repetition
in a fresh process. On a shared host that spreads less across runs than
a warm repetition after an untimed one does.
Outputs are checked after every repetition; checks never run inside a
timed interval.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log and the spans of ``trace.py`` on every timed repetition
and prints the per-layer metrics. Among them ``trace.wall_s`` is the
traced ``wall_s``: minus an untraced run's ``wall_s`` it is the tracing
overhead, since a session cannot turn its event log on and off.
``trace.overhead_s`` is the part of it the spans themselves take, per
repetition. Both modes print a detail record
(host steal/iowait shares, load, CPU per wall, every repetition, every
failed check) on the line before the result and keep it, with the
spans, under ``.bench_results/``.

The last line of stdout is
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``.
``--size small`` runs the self-test sizes.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "small"), default="full")
    return p.parse_args(argv)


def _environment(run_dir: str) -> dict[str, str]:
    """Process environment and JVM options of a run; returns the session
    confs. Python workers import the package from the checkout, like the
    Spark driver; every scratch file (Spark's, the JVM's, Python's) stays in
    ``run_dir``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the package's 8g default is sized for corpora of 100k+ clips; these
    # inputs need a fraction of 2g, and a fixed heap keeps GC, spill and
    # wall from depending on the caller's environment or taking more of
    # a shared host's memory than the run uses
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # the launcher JVM spark-submit starts before the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _stop(spark, root_pid: int) -> None:
    """Stop the session and the JVM, then wait for every process the
    session started (the JVM, the Python daemon and workers it forked)
    to end, killing those still alive after 30 s."""
    import subprocess

    from pyspark import SparkContext

    from perfbench.proc import alive, tree

    started = set(tree(root_pid)) - {root_pid}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in started):
        time.sleep(0.2)
    for pid in started:
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


class Ctx:
    """What a workload needs from the run: session, input store, seed,
    size, its scratch dir and the current tracer."""

    def __init__(self, spark, store, seed, size, work):
        from perfbench.trace import NullTracer
        self.spark, self.store, self.seed, self.size = spark, store, seed, size
        self.work = work
        self.tracer = NullTracer()


def measure(w, ctx, seconds: float, tracer, sampler, record) -> list:
    """Inputs, then repetitions until their timed parts add up to
    ``seconds``, then the finish; returns every check made. A tracer,
    when given, covers the repetitions and the finish; a memory sampler,
    when given, records each repetition's peak."""
    from perfbench.proc import Clock

    checks = []
    t0 = time.perf_counter()
    w.prepare()
    record["prepare_s"] = time.perf_counter() - t0

    if tracer is not None:
        tracer.install()
        ctx.tracer = tracer
    try:
        reps = record["reps"]
        while sum(r["wall_s"] for r in reps) < seconds:
            w.reset()
            t0 = time.perf_counter()
            w.setup()
            setup_s = time.perf_counter() - t0
            if sampler is not None:
                sampler.reset()
            with Clock(os.getpid()) as c:
                clips = ctx.tracer.span("rep", w.scope, w.rep)
            reps.append({"setup_s": setup_s, "wall_s": c.wall, "cpu_s": c.cpu,
                         "clips": clips})
            if sampler is not None:
                reps[-1]["peak_pss_mb"] = sampler.peak()
            checks += w.checks(clips)
        if tracer is not None:
            record["trace_overhead_s"] = tracer.overhead_s / len(reps)
        checks += w.finish(tracer is not None)
    finally:
        if tracer is not None:
            tracer.uninstall()
    return checks


def end_to_end(reps: list[dict], session_start_s: float) -> dict:
    """Medians over the timed repetitions. ``setup_s`` is the session
    start, paid once per process, plus the median repetition set-up."""
    med = lambda k: statistics.median(r[k] for r in reps)  # noqa: E731
    return {
        "setup_s": session_start_s + med("setup_s"),
        "wall_s": med("wall_s"),
        "clips_per_s": statistics.median(r["clips"] / r["wall_s"] for r in reps),
        "cpu_s": med("cpu_s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "addresses_importer_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: the package sources are not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, workload_cls) -> int:
    from addresses_importer_spark.session import get_spark
    from perfbench import inputs, metrics, trace
    from perfbench.proc import TreeSampler, host_noise, host_ticks

    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size, "reps": [], "failed_checks": []}
    root_pid = os.getpid()
    ticks0 = host_ticks()
    store = inputs.InputStore(os.path.join(ROOT, ".bench_data"))
    t_start = time.perf_counter()
    extra = _environment(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        extra.update(trace.event_log_conf(log_dir))
    spark = get_spark(app_name=f"perfbench-{args.workload}", cores=CORES,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    record["session_start_s"] = time.perf_counter() - t_start

    tracer = trace.Tracer(spark) if args.trace else None
    ctx = Ctx(spark, store, args.seed, args.size, run_dir)
    w = workload_cls(ctx)
    checks, layers, error = [], {}, None
    # the memory sampler's /proc reads run in this process; untraced
    # runs, whose CPU time is a metric, go without it
    sampler = TreeSampler(root_pid) if args.trace else None
    try:
        with sampler or contextlib.nullcontext():
            try:
                checks = measure(w, ctx, args.seconds, tracer, sampler, record)
                if tracer is not None:
                    layers = w.layers()
            except Exception:
                error = traceback.format_exc()
                print(error, file=sys.stderr)
    finally:
        _stop(spark, root_pid)

    reps = record["reps"]
    if error is not None and not reps:
        return 1
    record["host"] = host_noise(ticks0, host_ticks())
    e2e = end_to_end(reps, record["session_start_s"])
    record["host"]["cpu_per_wall"] = e2e["cpu_s"] / e2e["wall_s"]
    record["failed_checks"] = [repr(c) for c in checks if not c.ok]
    if error is not None:
        record["error"] = error

    if args.trace:
        spans = tracer.spans
        for scope, vals in trace.spark_scopes(log_dir, spans).items():
            for k, v in vals.items():
                layers[f"spark.{scope}.{k}"] = v
        layers["process.peak_pss_mb"] = statistics.median(
            r["peak_pss_mb"] for r in reps)
        layers["trace.wall_s"] = e2e["wall_s"]
        layers["trace.overhead_s"] = record.get("trace_overhead_s", 0.0)
        tag = f"{args.workload}-seed{args.seed}-{int(time.time())}"
        tracer.dump(os.path.join(results, f"spans-{tag}.json"))
        out = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
               for name, unit, _ in metrics.per_layer()}
    else:
        out = {name: {"value": float(e2e[name]), "unit": unit}
               for name, unit, _ in metrics.END_TO_END}

    # operations: the repetitions, the queries or epochs inside them,
    # every output check (the resume run's included) and an aborted step
    attempted = len(reps) + w.n_ops + len(checks) + int(error is not None)
    failed = len(record["failed_checks"]) + int(error is not None)
    with open(os.path.join(results, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"detail": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
