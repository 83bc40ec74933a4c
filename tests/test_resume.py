"""Checkpoint/resume: the kill-and-resume contract (BASELINE.json;
the reference's `--keep` + SQLite-file-as-stage-boundary,
bin/main.rs:90-103)."""

import json
import os

from addresses_importer_spark.config import DedupConfig
from addresses_importer_spark.datagen import fixture_with_dupes, to_spark
from addresses_importer_spark.plans.pipeline import STAGES, run_pipeline

CFG = DedupConfig()


def test_rerun_resumes_all_stages(spark, tmp_path):
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    first = run_pipeline(spark, clips, CFG, ckpt)
    assert first.resumed_stages == []
    n1 = first.survivors.count()

    second = run_pipeline(spark, clips, CFG, ckpt)
    assert set(second.resumed_stages) == set(STAGES)
    assert second.survivors.count() == n1


def test_mid_stage_kill_resumes_tail_only(spark, tmp_path):
    """Simulate a crash after `signatures`: later stages lack manifests;
    a rerun must reuse the early checkpoints and recompute only the
    tail."""
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    run_pipeline(spark, clips, CFG, ckpt)

    for stage in ["candidates", "verified_edges", "components", "losers",
                  "survivors"]:
        os.remove(os.path.join(ckpt, stage, "MANIFEST.json"))

    res = run_pipeline(spark, clips, CFG, ckpt)
    assert set(res.resumed_stages) == {"features", "signatures"}
    assert res.survivors.count() == 10


def test_config_change_invalidates(spark, tmp_path):
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    run_pipeline(spark, clips, CFG, ckpt)
    res = run_pipeline(
        spark, clips, DedupConfig(jaccard_threshold=0.7), ckpt
    )
    assert res.resumed_stages == []


def test_run_args_change_invalidates(spark, tmp_path):
    """detectors and with_audio are part of every stage's identity: a
    default run after a suffix-only, audio-off run on the same dir must
    recompute everything, so its SimHash edges exist and it keeps the
    survivor count of a fresh dir."""
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    run_pipeline(spark, clips, CFG, ckpt, detectors=("suffix",),
                 with_audio=False)
    res = run_pipeline(spark, clips, CFG, ckpt)
    assert res.resumed_stages == []
    assert res.verified_edges.filter("detector = 'simhash'").count() > 0
    assert res.survivors.count() == 10


def test_upstream_recomputes_before_downstream_resume_check(spark, tmp_path):
    """Losing only the signatures manifest must recompute signatures
    and every stage below it: each stage checks its upstream manifests
    after the upstream stages have run, so none resumes against the
    stale fingerprints of the first run."""
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    n1 = run_pipeline(spark, clips, CFG, ckpt).survivors.count()
    os.remove(os.path.join(ckpt, "signatures", "MANIFEST.json"))

    res = run_pipeline(spark, clips, CFG, ckpt)
    assert res.resumed_stages == ["features"]
    assert res.survivors.count() == n1


def test_input_change_invalidates(spark, tmp_path):
    """Same checkpoint dir, different --input path: the features stage's
    input fingerprint must force a full recompute (round-1 gap: only
    config hash + row count were fingerprinted, so a swapped input with
    a lucky row count served stale checkpoints)."""
    pdf, truth = fixture_with_dupes()
    ckpt = str(tmp_path / "ck")
    p1, p2 = str(tmp_path / "in1"), str(tmp_path / "in2")
    to_spark(spark, pdf).write.parquet(p1)
    to_spark(spark, pdf).write.parquet(p2)  # same rows, different path

    run_pipeline(spark, spark.read.parquet(p1), CFG, ckpt)
    res = run_pipeline(spark, spark.read.parquet(p2), CFG, ckpt)
    assert "features" not in res.resumed_stages


def test_inplace_overwrite_invalidates(spark, tmp_path):
    """Input files overwritten IN PLACE under identical names (pyarrow
    writers with fixed filenames, rsync'd exports) must invalidate the
    features stage: the round-2 fingerprint hashed only sorted paths +
    count, so a same-name overwrite silently served survivors from the
    OLD corpus. Size+mtime are now folded in for stat-able paths."""
    import shutil

    def write_fixed(df, tag):
        staging = str(tmp_path / f"staging_{tag}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = [f for f in os.listdir(staging) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staging, part),
                    str(tmp_path / "in" / "data.parquet"))

    (tmp_path / "in").mkdir()
    pdf, truth = fixture_with_dupes()
    write_fixed(to_spark(spark, pdf), "v1")
    ckpt = str(tmp_path / "ck")
    run_pipeline(spark, spark.read.parquet(str(tmp_path / "in")), CFG, ckpt)

    pdf2 = pdf.copy()
    pdf2["transcript"] = pdf2["transcript"].map(
        lambda t: (t or "") + " overwritten"
    )
    write_fixed(to_spark(spark, pdf2), "v2")  # same path, same file name
    res = run_pipeline(spark, spark.read.parquet(str(tmp_path / "in")), CFG, ckpt)
    assert "features" not in res.resumed_stages


def test_counters_recorded_in_manifest(spark, tmp_path):
    """The candidates manifest must carry the oversize-bucket counters
    computed DURING the stage (round-1 bug: counters were read before
    compute ran, recording {} forever). With a tiny cap every bucket is
    oversize, so the counter must be non-empty."""
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    cfg = DedupConfig(bucket_cap=2)
    run_pipeline(spark, clips, cfg, str(tmp_path / "ck"), with_audio=False)
    with open(os.path.join(str(tmp_path / "ck"), "candidates", "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["counters"], "oversize-bucket counters missing from manifest"


def test_manifest_contents(spark, tmp_path):
    pdf, truth = fixture_with_dupes()
    clips = to_spark(spark, pdf)
    ckpt = str(tmp_path / "ck")
    run_pipeline(spark, clips, CFG, ckpt)
    with open(os.path.join(ckpt, "signatures", "MANIFEST.json")) as f:
        m = json.load(f)
    assert m["config_hash"] == CFG.config_hash()
    assert m["rows"] > 0
    assert m["upstream"]["features"]
