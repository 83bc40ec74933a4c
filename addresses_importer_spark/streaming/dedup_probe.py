"""Streaming incremental dedup: probe arriving clips against an index.

The reference re-runs its whole pairwise scan per import batch
(bin/main.rs:90-193 loads every provider then dedupes the union); at
10^12 clips a full re-dedup per arrival batch is not a plan. This
module is the incremental form a training-data ingestion service needs:
a *static* signature index (the features checkpoint of a previous
pipeline run) is banded + capped ONCE per query start and materialized
to parquet (``prepare_probe_index``), and each micro-batch of NEW clips
is

  featurized -> banded (minhash + simhash blocking keys) -> equi-joined
  against the materialized index bucket keys -> verified with the SAME
  3-clause ``is_duplicate`` disjunction the batch pipeline uses
  (operators/verify.py, dedupe.rs:129-198) -> appended as (src, dst,
  detector, score) dup edges.

Cost shape per batch of b clips against an index of N: the O(N) work —
banding, the hot-bucket cap window, the slim verify projection — is
paid exactly once at ``prepare_probe_index`` (the reference likewise
indexes its hash store once before scanning, db_hashes.rs:95-99; it
does not rebuild the index per batch). Each epoch then runs O(batch)
feature/signature work plus parquet reads of the matching index
partitions: the index signatures are hash-partitioned on disk by
``bk_mod = pmod(bucket_key, INDEX_SIG_PARTITIONS)`` and the probe join
includes ``bk_mod`` in its keys, so on a real cluster dynamic partition
pruning restricts the scan to partitions the batch actually probes.
The verify join still scans the slim index feature projection (ids +
hashes, never audio bytes or raw transcripts); AQE converts it to a
broadcast join whenever the per-batch candidate set is small.

Batches run inside ``foreachBatch``: candidate generation + verify are
multi-join batch plans (not expressible as a pure stateless streaming
map), and the per-epoch sink write is made idempotent by writing each
epoch to its own ``epoch_id=<n>`` partition with overwrite — a replayed
epoch after a crash overwrites its own output instead of duplicating
it (exactly-once at the sink, checkpointLocation tracks the source
offsets).

Suffix containment stays batch-only, as in streaming/ingest.py: its
rarest-shingle query keys need global document frequencies.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import DedupConfig
from ..operators.signatures import (
    DETECTOR_MINHASH, DETECTOR_SIMHASH, build_features, build_signatures,
    simhash_probe_flips,
)
from ..operators.verify import verify_edges
from .ingest import read_clip_stream

#: feature columns the 3-clause verify reads (operators/verify.py); the
#: probe never ships audio bytes or raw transcripts of the index
_VERIFY_COLS = ["clip_id", "shingle_hashes", "simhash", "norm"]

#: per-(detector, band, bucket_key) cap on index-side members joined per
#: probe key — the streaming twin of the batch pipeline's hot-bucket cap
#: (C3, deduplicator.rs:118-135): a pathological bucket bounds per-batch
#: edge volume at b * bands * cap instead of b * bands * |bucket|.
#: Truncation is COUNTED, never silent (parity with the batch path's
#: oversize_bucket_stats): prepare_probe_index records
#: {truncated_buckets, truncated_rows} into <index_dir>/index_stats.json
PROBE_BUCKET_CAP = 200

#: on-disk hash-partition count of the materialized index signatures;
#: the probe join includes bk_mod so partition pruning applies
INDEX_SIG_PARTITIONS = 64

_STATS_FILE = "index_stats.json"
_SIGS_DIR = "index_sigs"
_FEATS_DIR = "index_feats"


def _bk_mod() -> F.Column:
    return F.pmod(F.col("bucket_key"), F.lit(INDEX_SIG_PARTITIONS)).cast("int")


def prepare_probe_index(spark: SparkSession, index_features_path: str,
                        index_dir: str, cfg: DedupConfig,
                        bucket_cap: int = PROBE_BUCKET_CAP) -> dict:
    """Band + cap + materialize the probe index ONCE.

    Writes under ``index_dir``:
      - ``index_sigs/``  (clip_id, detector, band, bucket_key) capped at
        ``bucket_cap`` members per bucket, parquet partitioned by
        ``bk_mod`` (partition pruning for the probe join);
      - ``index_feats/`` the slim verify projection (_VERIFY_COLS);
      - ``index_stats.json`` truncation counters + config hash.

    Returns the stats dict. Epochs read ONLY these artifacts — deleting
    or recompacting the source features checkpoint after preparation
    cannot affect (or recompute inside) a running probe; restart the
    query with a fresh prepare to pick up a new index.

    ``index_dir`` must be a driver-reachable filesystem path (local,
    NFS, FUSE): the stats JSON below is written with plain open(), like
    the checkpoint manifests (sources/checkpoint.py documents the same
    contract). Bare hdfs://-style URIs would fail here after the
    expensive banding already ran (ADVICE r5).
    """
    index_full = spark.read.parquet(index_features_path)
    if "error_kind" in index_full.columns:
        # the pipeline's features checkpoint carries rejected rows for
        # the errors side-channel; an index must only hold valid clips
        index_full = index_full.filter(F.col("error_kind").isNull())
    sigs = build_signatures(
        index_full, cfg, detectors=(DETECTOR_MINHASH, DETECTOR_SIMHASH)
    ).select("clip_id", "detector", "band", "bucket_key")
    # persist: the banding plan feeds both the capped write and the
    # truncation tally below — unpersisted, the O(N) banding would run
    # twice at setup (still once per QUERY, but why pay it twice)
    sigs = sigs.persist()
    try:
        w = Window.partitionBy("detector", "band", "bucket_key").orderBy(
            "clip_id"
        )
        capped = (
            sigs.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= bucket_cap)
            .drop("_r")
            .withColumn("bk_mod", _bk_mod())
        )
        capped.write.mode("overwrite").partitionBy("bk_mod").parquet(
            os.path.join(index_dir, _SIGS_DIR)
        )
        trunc = (
            sigs.groupBy("detector", "band", "bucket_key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > bucket_cap)
            .agg(
                F.count("*").alias("buckets"),
                F.sum(F.col("n") - bucket_cap).alias("rows"),
            )
            .collect()[0]
        )
    finally:
        sigs.unpersist()
    index_full.select(*_VERIFY_COLS).write.mode("overwrite").parquet(
        os.path.join(index_dir, _FEATS_DIR)
    )
    stats = {
        "bucket_cap": bucket_cap,
        "truncated_buckets": int(trunc["buckets"] or 0),
        "truncated_rows": int(trunc["rows"] or 0),
        "config_hash": cfg.config_hash(),
        "source": index_features_path,
    }
    with open(os.path.join(index_dir, _STATS_FILE), "w") as f:
        json.dump(stats, f, indent=2)
    return stats


def load_probe_index(spark: SparkSession, index_dir: str,
                     cfg: DedupConfig) -> tuple[DataFrame, DataFrame]:
    """(index_sigs, index_feats) readers over a prepared index dir.

    Raises ValueError when the index was prepared under another config
    hash: its signatures need not agree with the batch side's (keys of
    another layout silently match nothing), the same rule the stage
    checkpoints apply on resume."""
    with open(os.path.join(index_dir, _STATS_FILE)) as f:
        got = json.load(f).get("config_hash")
    if got != cfg.config_hash():
        raise ValueError(
            f"probe index {index_dir!r} was prepared under config hash "
            f"{got!r}, not {cfg.config_hash()!r}: prepare it again"
        )
    return (
        spark.read.parquet(os.path.join(index_dir, _SIGS_DIR)),
        spark.read.parquet(os.path.join(index_dir, _FEATS_DIR)),
    )


def probe_edges(batch_clips: DataFrame, index_feats: DataFrame,
                index_sigs: DataFrame, cfg: DedupConfig,
                with_audio: bool = True) -> DataFrame:
    """Verified dup edges between one batch of new clips and the index.

    Orientation: src = the NEW clip, dst = the matched INDEX clip (the
    consumer decides retention policy; this operator only reports
    evidence). New-vs-new dups inside one batch are the batch
    pipeline's job on the next full run — emitting them here would
    double-count edges against the next compaction.

    Identical clip_ids on both sides (a re-delivered / re-ingested id)
    are handled EXPLICITLY: they are anti-joined out of the index's
    verify rows (the batch's own feature row wins — two rows under one
    key would fan out every verify join on the ambiguous id) and
    reported as ``detector='exact_id'`` edges with score 1.0, so exact
    re-arrivals are never silently dropped by the self-pair filter.

    ``index_sigs``/``index_feats`` come from load_probe_index (banded
    from FULL features once; see prepare_probe_index).
    """
    feats_b = build_features(batch_clips, cfg, with_audio=with_audio)
    batch_ids = feats_b.select("clip_id")
    replayed = (
        index_feats.select("clip_id")
        .join(F.broadcast(batch_ids), "clip_id", "left_semi")
        .select(
            F.col("clip_id").alias("src"),
            F.col("clip_id").alias("dst"),
            F.lit("exact_id").alias("detector"),
            F.lit(1.0).alias("score"),
        )
    )
    # batch side = stored keys PLUS the derived simhash 1-bit probe
    # flips (round 6: flips are no longer materialized signature rows —
    # signatures.simhash_band_keys_sql). The flips live on the BATCH
    # side only, matching the batch pipeline's asymmetric design: a
    # flip hitting an index original covers any band within Hamming 1,
    # so the post-verify edge set is unchanged (the old index's stored
    # flip rows added only flip×flip collisions, which need >= 2
    # differing bits in every band and therefore never verified).
    sigs_raw = build_signatures(
        feats_b, cfg, detectors=(DETECTOR_MINHASH, DETECTOR_SIMHASH)
    )
    sigs_b = sigs_raw.unionByName(simhash_probe_flips(sigs_raw, cfg)).select(
        F.col("clip_id").alias("probe_id"), "detector", "band", "bucket_key",
        _bk_mod().alias("bk_mod"),
    )
    join_keys = ["detector", "band", "bucket_key"]
    if "bk_mod" in index_sigs.columns:
        # bk_mod is functionally dependent on bucket_key; including it
        # in the equi-join lets dynamic partition pruning skip index
        # partitions the batch never probes
        join_keys.append("bk_mod")
    else:
        sigs_b = sigs_b.drop("bk_mod")
    cand = (
        sigs_b.join(index_sigs, join_keys)
        .filter(F.col("probe_id") != F.col("clip_id"))
        .select(
            F.col("probe_id").alias("src"),
            F.col("clip_id").alias("dst"),
            "detector",
        )
        .distinct()
    )
    index_live = index_feats.select(*_VERIFY_COLS).join(
        F.broadcast(batch_ids), "clip_id", "left_anti"
    )
    feats_all = feats_b.select(*_VERIFY_COLS).unionByName(index_live)
    return verify_edges(cand, feats_all, cfg).unionByName(replayed)


def start_dedup_probe(spark: SparkSession, clips_path: str,
                      index_features_path: str | None, out_path: str,
                      checkpoint_path: str, cfg: DedupConfig,
                      with_audio: bool = True,
                      available_now: bool = True,
                      max_files_per_trigger: int | None = None,
                      prepared_index_dir: str | None = None,
                      ) -> StreamingQuery:
    """File-source stream of new clips -> per-epoch verified dup edges
    under ``out_path/epoch_id=<n>/``.

    The index (a features checkpoint written by run_pipeline) is banded
    + capped + written to parquet ONCE here via prepare_probe_index
    (default location ``<checkpoint_path>_index``); every epoch reads
    the materialized parquet, never the banding plan. Pass
    ``prepared_index_dir`` to reuse an index prepared earlier (then
    ``index_features_path`` may be None); restart the query with a
    fresh prepare to pick up a recompacted index."""
    if prepared_index_dir is None:
        if index_features_path is None:
            raise ValueError(
                "need index_features_path (to prepare) or prepared_index_dir"
            )
        prepared_index_dir = f"{checkpoint_path.rstrip('/')}_index"
        prepare_probe_index(spark, index_features_path, prepared_index_dir, cfg)
    index_sigs, index_feats = load_probe_index(spark, prepared_index_dir, cfg)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        edges = probe_edges(
            batch_df, index_feats, index_sigs, cfg, with_audio=with_audio
        )
        # overwrite-own-partition => replayed epochs are idempotent
        edges.write.mode("overwrite").parquet(
            f"{out_path}/epoch_id={epoch_id}"
        )

    writer = (
        read_clip_stream(spark, clips_path,
                         max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
