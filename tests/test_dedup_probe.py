"""Streaming incremental dedup probe: new clips vs a static index.

Planted expectation: stream each fixture cluster's non-first members
against an index holding only first members — every streamed transcript
/ acoustic / exact dup must edge back to its cluster's index clip, and
an availableNow restart over the same checkpoint must be a no-op
(idempotent epoch partitions).
"""

import pytest

from addresses_importer_spark.config import DedupConfig
from addresses_importer_spark.datagen import fixture_with_dupes, to_spark
from addresses_importer_spark.operators.signatures import build_features
from addresses_importer_spark.streaming.dedup_probe import start_dedup_probe

CFG = DedupConfig()

#: suffix containment is batch-only (global-df query keys); the
#: containment clusters c7/c8 are therefore NOT probe-detectable
PROBE_CLUSTERS = {"c0", "c1", "c2", "c3", "c4", "c5", "c6", "c9"}


@pytest.fixture(scope="module")
def probe_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("probe")
    pdf, truth = fixture_with_dupes()
    first = truth.groupby("cluster_id")["clip_id"].min()
    index_ids = set(first)
    index_pdf = pdf[pdf.clip_id.isin(index_ids)]
    stream_pdf = pdf[~pdf.clip_id.isin(index_ids)]

    index_path = str(tmp / "index_features")
    build_features(to_spark(spark, index_pdf), CFG).write.parquet(index_path)
    src = str(tmp / "incoming")
    to_spark(spark, stream_pdf).write.parquet(src)

    out, ckpt = str(tmp / "edges"), str(tmp / "ckpt")
    q = start_dedup_probe(spark, src, index_path, out, ckpt, CFG)
    q.awaitTermination(300)
    return spark, truth, index_ids, src, index_path, out, ckpt


def test_every_probeable_dup_finds_its_index_clip(probe_run):
    spark, truth, index_ids, *_, out, _ = probe_run
    edges = {(r.src, r.dst) for r in spark.read.parquet(out).collect()}
    cluster_of = dict(zip(truth.clip_id, truth.cluster_id))
    by_cluster = truth.groupby("cluster_id")["clip_id"].min().to_dict()
    streamed = [c for c in truth.clip_id if c not in index_ids
                and cluster_of[c] in PROBE_CLUSTERS]
    assert streamed
    for clip in streamed:
        anchor = by_cluster[cluster_of[clip]]
        assert (clip, anchor) in edges, (clip, anchor)


def test_edges_point_only_at_real_cluster_mates(probe_run):
    spark, truth, index_ids, *_, out, _ = probe_run
    cluster_of = dict(zip(truth.clip_id, truth.cluster_id))
    for r in spark.read.parquet(out).collect():
        assert r.dst in index_ids
        assert cluster_of[r.src] == cluster_of[r.dst], (r.src, r.dst, r.detector)


def test_probe_restart_is_idempotent(probe_run):
    spark, _, _, src, index_path, out, ckpt = probe_run
    before = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("epoch_id").collect()
    )
    q = start_dedup_probe(spark, src, index_path, out, ckpt, CFG)
    q.awaitTermination(300)
    after = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("epoch_id").collect()
    )
    assert after == before
# --- appended to tests/test_dedup_probe.py ---------------------------------


def test_epochs_read_only_the_materialized_index(spark, tmp_path):
    """The O(N) banding runs ONCE at prepare time (VERDICT r4 #1): after
    prepare_probe_index, the source features checkpoint is DELETED and
    the clips stream is split into two single-file epochs — both epochs
    must still produce their planted edges, which is only possible if
    no epoch ever re-executes the index banding plan (its input is
    gone)."""
    import shutil

    from addresses_importer_spark.streaming.dedup_probe import (
        prepare_probe_index,
    )

    pdf, truth = fixture_with_dupes()
    first = truth.groupby("cluster_id")["clip_id"].min()
    index_ids = set(first)
    index_pdf = pdf[pdf.clip_id.isin(index_ids)]
    stream_pdf = pdf[~pdf.clip_id.isin(index_ids)]

    index_path = str(tmp_path / "index_features")
    build_features(to_spark(spark, index_pdf), CFG).write.parquet(index_path)
    src = str(tmp_path / "incoming")
    # two parquet files -> two epochs under maxFilesPerTrigger=1
    half = len(stream_pdf) // 2
    to_spark(spark, stream_pdf.iloc[:half]).coalesce(1).write.parquet(src)
    to_spark(spark, stream_pdf.iloc[half:]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    idx_dir = str(tmp_path / "probe_index")
    stats = prepare_probe_index(spark, index_path, idx_dir, CFG)
    assert stats["truncated_buckets"] == 0  # fixture has no hot buckets
    shutil.rmtree(index_path)  # the proof: epochs cannot recompute this

    out, ckpt = str(tmp_path / "edges"), str(tmp_path / "ckpt")
    q = start_dedup_probe(
        spark, src, None, out, ckpt, CFG,
        max_files_per_trigger=1, prepared_index_dir=idx_dir,
    )
    q.awaitTermination(300)
    edges_df = spark.read.parquet(out)
    assert edges_df.select("epoch_id").distinct().count() == 2
    edges = {(r.src, r.dst) for r in edges_df.collect()}
    cluster_of = dict(zip(truth.clip_id, truth.cluster_id))
    by_cluster = truth.groupby("cluster_id")["clip_id"].min().to_dict()
    streamed = [c for c in truth.clip_id if c not in index_ids
                and cluster_of[c] in PROBE_CLUSTERS]
    for clip in streamed:
        assert (clip, by_cluster[cluster_of[clip]]) in edges


def test_probe_cap_truncation_is_counted_not_silent(spark, tmp_path):
    """ADVICE r4 / VERDICT #5: an over-cap index bucket must surface a
    counter (parity with the batch path's oversize_bucket_stats) and
    the materialized bucket must hold exactly `cap` members."""
    import pandas as pd

    from addresses_importer_spark.streaming.dedup_probe import (
        load_probe_index, prepare_probe_index,
    )

    text = "the same hot transcript shared by every clip in this bucket"
    hot = pd.DataFrame({
        "clip_id": [f"hot{i:03d}" for i in range(6)],
        "bytes": [None] * 6,
        "sr_hz": [16000] * 6,
        "dur_ms": [1000] * 6,
        "codec": ["pcm_s16le"] * 6,
        "transcript": [text] * 6,
    })
    feats_path = str(tmp_path / "hot_features")
    build_features(
        to_spark(spark, hot), CFG, with_audio=False
    ).write.parquet(feats_path)

    idx_dir = str(tmp_path / "hot_index")
    stats = prepare_probe_index(spark, feats_path, idx_dir, CFG, bucket_cap=3)
    assert stats["truncated_buckets"] > 0
    assert stats["truncated_rows"] > 0
    sigs, _ = load_probe_index(spark, idx_dir, CFG)
    from pyspark.sql import functions as F
    max_bucket = (
        sigs.groupBy("detector", "band", "bucket_key")
        .count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket == 3
    import json as _json
    import os as _os
    with open(_os.path.join(idx_dir, "index_stats.json")) as f:
        assert _json.load(f)["truncated_buckets"] == stats["truncated_buckets"]


def test_replayed_clip_id_reported_as_exact_dup(spark, tmp_path):
    """ADVICE r4: a batch clip whose clip_id already exists in the index
    must surface as an explicit exact_id edge instead of being silently
    dropped by the self-pair filter — and the duplicated key must not
    poison the verify joins of OTHER clips in the batch."""
    from addresses_importer_spark.streaming.dedup_probe import (
        load_probe_index, prepare_probe_index, probe_edges,
    )

    pdf, truth = fixture_with_dupes()
    first = truth.groupby("cluster_id")["clip_id"].min()
    index_ids = set(first)
    index_pdf = pdf[pdf.clip_id.isin(index_ids)]
    feats_path = str(tmp_path / "index_features")
    build_features(to_spark(spark, index_pdf), CFG).write.parquet(feats_path)
    idx_dir = str(tmp_path / "probe_index")
    prepare_probe_index(spark, feats_path, idx_dir, CFG)
    sigs, feats = load_probe_index(spark, idx_dir, CFG)

    # batch = one replayed index clip + the normal streamed dups
    replay_id = sorted(index_ids)[0]
    stream_pdf = pdf[~pdf.clip_id.isin(index_ids)]
    batch_pdf = pdf[pdf.clip_id == replay_id]
    import pandas as pd
    batch = to_spark(spark, pd.concat([batch_pdf, stream_pdf]))

    edges = probe_edges(batch, feats, sigs, CFG).collect()
    exact = {(r.src, r.dst) for r in edges if r.detector == "exact_id"}
    assert (replay_id, replay_id) in exact
    # other batch members still edge to their cluster anchors
    cluster_of = dict(zip(truth.clip_id, truth.cluster_id))
    by_cluster = truth.groupby("cluster_id")["clip_id"].min().to_dict()
    pairs = {(r.src, r.dst) for r in edges}
    for clip in stream_pdf.clip_id:
        if cluster_of[clip] in PROBE_CLUSTERS:
            assert (clip, by_cluster[cluster_of[clip]]) in pairs
    # no verify row fans out on the duplicated key: every edge involving
    # the replayed id as src must be the exact_id row or a genuine
    # cluster-mate edge
    for r in edges:
        if r.src == replay_id and r.detector != "exact_id":
            assert cluster_of[r.src] == cluster_of[r.dst]


def test_stale_probe_index_raises(spark, tmp_path):
    """An index prepared under another config hash must be refused at
    load, not probed: its bucket keys would match nothing, silently."""
    from addresses_importer_spark.streaming.dedup_probe import (
        load_probe_index, prepare_probe_index,
    )

    pdf, _truth = fixture_with_dupes()
    feats_path = str(tmp_path / "index_features")
    build_features(
        to_spark(spark, pdf), CFG, with_audio=False
    ).write.parquet(feats_path)
    idx_dir = str(tmp_path / "probe_index")
    prepare_probe_index(spark, feats_path, idx_dir, CFG)
    load_probe_index(spark, idx_dir, CFG)
    with pytest.raises(ValueError, match="config hash"):
        load_probe_index(spark, idx_dir, DedupConfig(jaccard_threshold=0.7))
