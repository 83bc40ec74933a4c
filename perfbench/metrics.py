"""Metric names and units: what ``run.py`` prints and ``BENCHMARK.json``
declares (``selftest.py`` checks that the two agree)."""

from __future__ import annotations

from addresses_importer_spark.plans.pipeline import STAGES as PIPELINE_STAGES
from bench import BENCH_QUERIES

DETECTORS = ("minhash", "simhash", "suffix")
SPARK_SCOPES = PIPELINE_STAGES + ["contract_chain", "probe"]

#: (name, unit, better): every workload reports each, tracing off.
#: ``cpu_s`` is the process tree's CPU time: steal never counts toward
#: it, so a stolen run shows as a longer ``wall_s`` at the same ``cpu_s``.
#: The tree's peak memory is a per-layer metric instead: across seeds
#: it fell in two modes about 30% apart (1.7 or 2.3 GiB on
#: contract_chain), more than a bound can allow.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("clips_per_s", "clips/s", "higher"),
    ("cpu_s", "s", "lower"),
]


def per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric a traced run
    reports; a layer a workload does not run reports 0."""
    out = []
    for st in PIPELINE_STAGES:
        out.append((f"pipeline.{st}.s", "s", "lower"))
    for st in PIPELINE_STAGES:
        out.append((f"checkpoint.{st}.write_s", "s", "lower"))
        out.append((f"checkpoint.{st}.mb", "MiB", "lower"))
    out += [("checkpoint.resume_s", "s", "lower"),
            ("checkpoint.resume_read_s", "s", "lower")]
    for d in DETECTORS:
        out.append((f"signatures.{d}.rows", "count", "lower"))
    for d in DETECTORS:
        out.append((f"candidates.{d}.pairs", "count", "lower"))
    out += [("candidates.hot_buckets", "count", "lower"),
            ("candidates.hot_rows", "count", "lower"),
            ("candidates.build_s", "s", "lower")]
    for d in DETECTORS:
        out.append((f"verify.{d}.edges", "count", "higher"))
        out.append((f"verify.{d}.yield", "ratio", "higher"))
    out += [("components.s", "s", "lower"),
            ("components.edges_in", "count", "lower"),
            ("components.count", "count", "lower"),
            ("components.max_size", "count", "lower"),
            # large-star rounds; 0: the driver union-find solved it
            ("components.star_loop", "count", "lower"),
            ("survivors.losers", "count", "higher")]
    for q in BENCH_QUERIES:
        out.append((f"query.{q}.s", "s", "lower"))
    out += [("probe.index_rows", "count", "higher"),
            ("probe.truncated_rows", "count", "lower"),
            ("probe.add_batch_ms_p50", "ms", "lower"),
            ("probe.trigger_ms_p50", "ms", "lower"),
            ("probe.edges_per_batch", "count", "higher"),
            ("probe.batch_p50_ms", "ms", "lower"),
            ("probe.batch_p75_ms", "ms", "lower"),
            ("probe.prepare_s", "s", "lower"),
            ("quality.dup_recall", "ratio", "higher")]
    for sc in SPARK_SCOPES:
        out += [(f"spark.{sc}.task_cpu_s", "s", "lower"),
                (f"spark.{sc}.task_run_s", "s", "lower"),
                (f"spark.{sc}.gc_s", "s", "lower"),
                (f"spark.{sc}.shuffle_mb", "MiB", "lower"),
                (f"spark.{sc}.spill_mb", "MiB", "lower"),
                (f"spark.{sc}.skew", "ratio", "lower")]
    out += [("process.peak_pss_mb", "MiB", "lower"),
            ("trace.wall_s", "s", "lower"),
            ("trace.overhead_s", "s", "lower")]
    return out
