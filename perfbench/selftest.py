"""Self-test of the benchmark at the small sizes (a few minutes):

    python3 perfbench/selftest.py

1. Every workload runs end to end through ``run.py --size small`` on
   seeds 1 and 2, from inputs generated afresh whose digests must equal
   those pinned in ``pinned_inputs.json`` (``--pin`` records them
   instead and stops); the metric names and units printed equal
   ``BENCHMARK.json``'s, tracing off and on; a traced
   ``pipeline_audio`` run's ``pipeline.<stage>.s`` agree with its
   ``run_stage`` spans, and its span-based metrics come from the timed
   repetition.
2. Each output check and the input check fail when given a wrong
   expected value (in-process, one session for all workloads).

Exits 0 when all pass; prints each failure otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def cli(workload: str, trace: int, seed: int = 1) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "small"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(out.stderr[-3000:], file=sys.stderr)
        return {}
    return json.loads(lines[-1])


def declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_cli(pin: bool) -> None:
    """Seeds 1 and 2 of every workload from freshly generated inputs,
    tracing off, then a traced run of each declared workload."""
    from perfbench import inputs
    from perfbench.workloads import SIZES, input_key
    store = inputs.InputStore(os.path.join(ROOT, ".bench_data"))
    pinned = {}
    if pin:  # the runs below must not be held to the pins being replaced
        with open(os.path.join(HERE, "pinned_inputs.json"), "w") as f:
            f.write("{}\n")
    for w, sizes in SIZES.items():
        key = input_key(sizes["small"])
        for seed in (1, 2):
            shutil.rmtree(store.dir(w, seed, key), ignore_errors=True)
            res = cli(w, 0, seed)
            expect(bool(res) and res["correct"] and res["failed"] == 0,
                   f"{w} seed {seed}: runs with every check passing")
            if seed == 1:
                got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
                expect(got == declared("end_to_end"),
                       f"{w}: metric names and units match end_to_end")
            with open(os.path.join(store.dir(w, seed, key),
                                   "MANIFEST.json")) as f:
                pinned[f"{w}/{seed}/small"] = json.load(f)
    if pin:
        with open(os.path.join(HERE, "pinned_inputs.json"), "w") as f:
            json.dump(pinned, f, indent=1, sort_keys=True)
            f.write("\n")
        return
    for k, v in pinned.items():
        expect(inputs.PINNED.get(k) == v, f"{k}: inputs match the pinned digest")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [wl["name"] for wl in json.load(f)["workloads"]]
    for w in names:
        res = cli(w, 1)
        expect(bool(res) and res["correct"] and res["failed"] == 0,
               f"{w} traced: runs with every check passing")
        got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
        expect(got == declared("per_layer"),
               f"{w} traced: metric names and units match per_layer")
        if w == "pipeline_audio" and res.get("correct"):
            check_stage_spans(res["metrics"])


def check_stage_spans(metrics: dict) -> None:
    """The stage walls the pipeline reports agree with the spans around
    its run_stage calls (first traced repetition) within 10%, or 0.15 s
    for stages shorter than the pipeline's 0.01 s rounding makes exact."""
    path = max(glob.glob(os.path.join(ROOT, ".bench_results",
                                      "spans-pipeline_audio-seed1-*.json")),
               key=os.path.getmtime)
    with open(path) as f:
        spans = json.load(f)
    first = next(i for i, s in enumerate(spans) if s["name"] == "run_pipeline")
    for s in spans[first:]:
        if s["name"].startswith("run_stage:") and s["parent"] == first:
            stage = s["name"].split(":", 1)[1]
            span_s = s["end"] - s["start"]
            rep_s = metrics[f"pipeline.{stage}.s"]["value"]
            expect(abs(span_s - rep_s) <= max(0.1 * rep_s, 0.15),
                   f"pipeline.{stage}.s {rep_s:.2f} vs span {span_s:.2f}")

    def timed(i: int) -> bool:  # span i runs inside that run_pipeline
        while i is not None and i != first:
            i = spans[i]["parent"]
        return i == first

    # the resume run that follows calls both again: these must still be
    # the timed repetition's
    for name, metric in (("build_candidates", "candidates.build_s"),
                         ("connected_components", "components.s")):
        span_s = sum(s["end"] - s["start"] for i, s in enumerate(spans)
                     if s["name"] == name and timed(i))
        expect(abs(span_s - metrics[metric]["value"]) < 1e-6,
               f"{metric} is the timed repetition's {name} span")


def test_checks_fail_on_wrong_expectations() -> None:
    from addresses_importer_spark.session import get_spark
    from perfbench import inputs, run
    from perfbench.workloads import WORKLOADS

    os.makedirs(os.path.join(ROOT, ".bench_run"), exist_ok=True)
    base = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_run"),
                            prefix="selftest-")
    spark = get_spark(app_name="perfbench-selftest", cores=run.CORES,
                      extra_conf=run._environment(base))
    spark.sparkContext.setLogLevel("ERROR")
    store = inputs.InputStore(os.path.join(ROOT, ".bench_data"))
    try:
        for name, cls in WORKLOADS.items():
            ctx = run.Ctx(spark, store, 1, "small", os.path.join(base, name))
            w = cls(ctx)
            w.prepare()
            w.setup()
            clips = w.rep()
            expect(all(c.ok for c in w.checks(clips)),
                   f"{name}: checks pass on the true expectations")
            for wrong in WRONG[name](w):
                expect(not all(c.ok for c in w.checks(clips)),
                       f"{name}: checks fail when {wrong}")
            manifest = os.path.join(store.dir(name, 1, w.key()), "MANIFEST.json")
            with open(manifest) as f:
                record = json.load(f)
            table = sorted(record)[0]
            bad = {table: [record[table][0], "0"]}
            try:
                store.check(spark, name, 1, w.key(), bad)
                caught = False
            except inputs.InputMismatch:
                caught = True
            expect(caught, f"{name}: input check fails on a wrong digest")
    finally:
        run._stop(spark, os.getpid())
        shutil.rmtree(base, ignore_errors=True)


def _wrong_pipeline(w):
    size = dict(w.size)
    w.size["n_base"] += 1
    yield "the expected survivor count is off by one"
    w.size = size
    w.clusters["base_fake"] = ["base_fake", "dup_fake_0"]
    yield "a planted cluster that was never collapsed is expected"
    del w.clusters["base_fake"]


def _wrong_hot(w):
    w.size["n_unique"] += 1
    yield "one more unique survivor is expected"
    w.size["n_unique"] -= 1


def _wrong_chain(w):
    q = w.queries[0]
    right = w.want[q]
    w.want[q] = (right[0], right[1] + 1)
    yield f"{q}'s oracle digest is off"
    w.want[q] = right


def _wrong_probe(w):
    w.planted.add(("base_fake", "base_fake"))
    yield "a re-delivery that never arrived is expected"
    w.planted.discard(("base_fake", "base_fake"))


WRONG = {"pipeline_audio": _wrong_pipeline, "pipeline_hot": _wrong_hot,
         "contract_chain": _wrong_chain, "probe_stream": _wrong_probe}


def main() -> int:
    pin = "--pin" in sys.argv[1:]
    test_cli(pin)
    if pin:
        return 0
    test_checks_fail_on_wrong_expectations()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
