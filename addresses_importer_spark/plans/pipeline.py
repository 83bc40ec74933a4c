"""End-to-end dedup pipeline: the graft of bin/main.rs:90-193.

    clips ──ingest(valid/errors)──► features ──► signatures
          ──► candidates ──► verified_edges ──► components
          ──► losers ──► survivors (+ export, metrics)

The stages are declared once (`DedupStages`) and run through a caller-
chosen runner. `run_pipeline` checkpoints each stage to parquet with a
manifest (sources/checkpoint.py) so a killed run resumes mid-stage —
the reference's SQLite-file-as-stage-boundary made explicit (SURVEY
§3.1). The dedup contract queries (plans/driver_queries.py) run the
same stage code with a session-memo runner instead.

Scale notes (100 TB / 10^12 rows):
- `bytes` is read exactly once (SimHash UDF inside the features stage)
  and never shuffled; all later stages move only int64 hashes + ids.
- candidates is ONE shuffle (groupBy bucket_key, map-side combine into
  collect_set) with the reference's 5000-member skew cap
  (deduplicator.rs:120-155) applied before pair expansion — worst-case
  pairs per bucket is bounded, and AQE splits skewed reduce tasks.
- verify is two broadcast-capable hash joins of candidates against the
  slim features table (no audio, no signature arrays beyond shingles).
- CC rounds are O(log n) self-joins on an edge table that is ~the
  number of verified duplicate pairs, orders of magnitude smaller than
  the corpus.
"""

from __future__ import annotations

import hashlib
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import DedupConfig
from ..operators.candidates import build_candidates
from ..operators.components import connected_components
from ..operators.signatures import build_features, build_signatures
from ..operators.survivors import apply_deletions_bucketed, pick_losers
from ..operators.verify import verify_edges
from ..sources.checkpoint import CheckpointStore
from ..sources.clips import error_kind_expr

STAGES = [
    "features", "signatures", "candidates",
    "verified_edges", "components", "losers", "survivors",
]

DETECTORS = ("minhash", "simhash", "suffix")

#: the pipeline doubles the session's shuffle partitions (2/core ->
#: 4/core) for its own stages when the DOUBLED grain still leaves at
#: least this many input rows per partition. The dedup aggs (bucket
#: groupBy, shingle-df pre-pass) carry Zipfian key skew and AQE splits
#: skew only in JOINS, so finer agg partitions smooth stragglers —
#: measured +21% at 390k clips / 8 cores = 12k rows/partition after
#: doubling (252 -> 208 s, survivors byte-identical). When doubling
#: would drop below this floor the finer grain is pure scheduling tax:
#: the round-5 sf0.1 A/B (104k clips / 32 cores = 810 rows/partition
#: doubled, 3 interleaved reps per setting) measured flat 4/core at
#: -27% total (94.5 -> 120.1 s, lsh_candidates 2.3x slower). Density,
#: not raw row count, is the criterion both measurements agree on.
MIN_ROWS_PER_SHUFFLE_PARTITION = 3000

#: size-targeted AQE coalescing for the dedup stages. Spark's default
#: parallelism-first coalescing never goes below defaultParallelism, so
#: the slim stage frames (losers, components, grouped buckets) ran
#: dozens of near-empty reduce tasks — measured ~3 s of the sf0.1
#: pipeline wall. Stage outputs are materialized, so their shuffle
#: bytes track downstream work and a size target is the right rule.
#: It stays scoped to the stages: session-wide it serialized the
#: amplification-shaped contract queries (see session.py).
STAGE_CONF = {
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


@contextmanager
def stage_conf(spark: SparkSession, extra: dict | None = None):
    """Apply STAGE_CONF (plus `extra`) to the session and restore the
    previous values on exit, so the caller's session is not re-tuned."""
    conf = {**STAGE_CONF, **(extra or {})}
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


class DedupStages:
    """The dedup dataflow, declared once:

        features -> signatures -> candidates -> verified_edges
                 -> components -> losers -> survivors

    ``stages[name]`` builds a stage on demand and at most once. Every
    stage resolves its upstream frames BEFORE its own
    ``run(stage, upstream, compute, **opts) -> DataFrame`` call, so a
    durable runner checks resume against fresh upstream manifests. The
    runner decides how a stage is materialized; ``opts`` are hints a
    runner may ignore (``counters``, ``partition_by``).

    The operators are looked up as this module's globals at call time,
    so wrapping ``pipeline.build_candidates`` & co. instruments every
    runner."""

    def __init__(self, clips: DataFrame, cfg: DedupConfig, run,
                 detectors: tuple[str, ...] = DETECTORS,
                 with_audio: bool = True):
        self.clips, self.cfg, self.run = clips, cfg, run
        self.detectors, self.with_audio = tuple(detectors), with_audio
        #: per-detector oversize-bucket counters, filled when the
        #: candidates stage computes (reference logs dropped packs,
        #: deduplicator.rs:141-147; here they go into the manifest)
        self.oversize_buckets: dict = {}
        self._frames: dict[str, DataFrame] = {}

    def __getitem__(self, stage: str) -> DataFrame:
        if stage not in self._frames:
            self._frames[stage] = getattr(self, f"_{stage}")()
        return self._frames[stage]

    @property
    def valid_features(self) -> DataFrame:
        return self["features"].filter(F.col("error_kind").isNull())

    @property
    def errors(self) -> DataFrame:
        """A filter view over the features checkpoint, not a stage of
        its own: it is fully derived from durable data, so a stage
        boundary would buy no resumability. Callers that want it on
        disk write it themselves."""
        return self["features"].filter(F.col("error_kind").isNotNull()) \
            .select("clip_id", F.col("error_kind").alias("kind"))

    # ONE pass over the payload bytes: features + the ingest validity
    # flag come from the same scan (a separate errors pass would read
    # the whole corpus twice; at 100 TB that is the most expensive scan
    # in the job).
    def _features(self) -> DataFrame:
        return self.run("features", [], lambda: build_features(
            self.clips, self.cfg, with_audio=self.with_audio,
            with_error_kind=True,
        ))

    def _signatures(self) -> DataFrame:
        features = self.valid_features
        return self.run(
            "signatures", ["features"],
            lambda: build_signatures(features, self.cfg,
                                     detectors=self.detectors),
            partition_by=["detector"],
        )

    def _candidates(self) -> DataFrame:
        signatures = self["signatures"]
        handles: list = []
        out = self.run(
            "candidates", ["signatures"],
            lambda: build_candidates(
                signatures, self.cfg, stats_out=self.oversize_buckets,
                handles_out=handles,
            ),
            # filled in place by compute; read after it
            counters=self.oversize_buckets,
        )
        # the runner has materialized the pair set — release the grouped
        # frames' cached blocks instead of leaning on LRU eviction
        for h in handles:
            h.unpersist()
        return out

    def _verified_edges(self) -> DataFrame:
        candidates, features = self["candidates"], self.valid_features
        return self.run(
            "verified_edges", ["candidates", "features"],
            lambda: verify_edges(candidates, features, self.cfg),
        )

    def _components(self) -> DataFrame:
        verified = self["verified_edges"]
        return self.run(
            "components", ["verified_edges"],
            lambda: connected_components(
                verified.select("src", "dst"),
                max_iters=self.cfg.cc_max_iters,
                checkpoint_every=self.cfg.cc_checkpoint_every,
            ),
        )

    def _losers(self) -> DataFrame:
        components = self["components"]
        ranks = self.valid_features.select("clip_id", "rank")
        return self.run(
            "losers", ["components", "features"],
            lambda: pick_losers(components, ranks),
        )

    # The survivors stage holds the DECISION (surviving clip ids, ~10
    # bytes/row), never the payload: full rows here would re-write every
    # surviving audio blob that the caller's own output write then
    # writes AGAIN. Ids come from the SLIM features frame (validity
    # already evaluated there) — an anti-join over the raw clips would
    # re-evaluate error_kind_expr, which reads the payload column.
    def _survivors(self) -> DataFrame:
        losers, features = self["losers"], self.valid_features
        return self.run(
            "survivors", ["losers", "features"],
            lambda: features.select("clip_id").join(
                losers.select("clip_id"), "clip_id", "left_anti"
            ),
        )


@dataclass
class PipelineResult:
    survivors: DataFrame
    components: DataFrame
    losers: DataFrame
    verified_edges: DataFrame
    errors: DataFrame
    metrics: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)


def input_fingerprint(clips: DataFrame) -> str | None:
    """Identity of the source data, pinned into the root stage manifest:
    re-running against the same checkpoint dir with a different input
    must recompute, not serve stale checkpoints. Per-file size + mtime
    are folded in where the path is locally stat-able, so files
    OVERWRITTEN IN PLACE under the same names (pyarrow writers, rsync'd
    exports) also invalidate. For non-local URIs (hdfs://, s3://) the
    path list alone is used: a documented residual gap (object stores
    version keys, and Spark's own writers never reuse file names).
    In-memory frames (tests) have no input files: None, and the config
    hash alone governs."""
    def file_sig(uri: str) -> str:
        parts = urlsplit(uri)
        if parts.scheme in ("", "file") and parts.netloc in ("", "localhost"):
            try:
                st = os.stat(parts.path or uri)
                return f"{uri}|{st.st_size}|{st.st_mtime_ns}"
            except OSError:
                pass
        return uri

    in_files = sorted(clips.inputFiles())
    if not in_files:
        return None
    digest = hashlib.sha256(";".join(map(file_sig, in_files)).encode())
    return f"{digest.hexdigest()[:16]}:{len(in_files)}"


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    cfg: DedupConfig,
    checkpoint_dir: str,
    detectors: tuple[str, ...] = DETECTORS,
    with_audio: bool = True,
) -> PipelineResult:
    # the run arguments are part of every stage's identity: a resume
    # under other detectors or audio setting would serve stale edges
    store = CheckpointStore(
        checkpoint_dir, cfg.config_hash(),
        run_args={"detectors": sorted(detectors), "with_audio": with_audio},
    )
    resumed: list[str] = []
    metrics: dict = {}
    t_last = [time.time()]
    input_fp = input_fingerprint(clips)

    def run(stage, upstream, compute, **opts) -> DataFrame:
        res = store.run_stage(
            spark, stage, upstream, compute,
            # root stages are pinned to the source data identity
            input_fingerprint=None if upstream else input_fp, **opts,
        )
        if res.resumed:
            resumed.append(stage)
        metrics[f"rows:{stage}"] = res.rows
        now = time.time()
        metrics[f"sec:{stage}"] = round(now - t_last[0], 2)
        t_last[0] = now
        for phase, sec in (res.timings or {}).items():
            metrics[f"sec:{stage}:{phase}"] = sec
        return res.df

    # scale-aware shuffle sizing (see MIN_ROWS_PER_SHUFFLE_PARTITION):
    # double the session's partitions for this run's stages iff the
    # doubled grain keeps enough rows per partition. count() on a
    # parquet source is footer-metadata only.
    shuffle_key = "spark.sql.shuffle.partitions"
    p0 = int(spark.conf.get(shuffle_key))
    n_input = clips.count()
    p = p0 * 2 if n_input >= MIN_ROWS_PER_SHUFFLE_PARTITION * p0 * 2 else p0
    metrics["shuffle_partitions"] = p
    metrics["rows:input"] = n_input
    with stage_conf(spark, {shuffle_key: str(p)}):
        stages = DedupStages(clips, cfg, run, detectors, with_audio)
        survivor_ids = stages["survivors"]  # runs every stage, in order
        if "candidates" not in resumed:
            metrics["oversize_buckets"] = stages.oversize_buckets
        # full-row result: a semi-join of the RAW input against the
        # durable id list (ids already encode validity, so the
        # payload-reading validity filter never re-evaluates). Broadcast
        # the ids when they fit (row count known from the manifest, no
        # extra job); above that, bucketed-storage anti-join against the
        # (smaller) loser set — either way no Exchange carries payload
        # (plan-asserted in tests/test_plans). Consumers that only count
        # or export ids get a column-pruned scan that never touches the
        # blobs.
        if metrics["rows:survivors"] <= cfg.broadcast_ids_max:
            survivors = clips.join(
                F.broadcast(survivor_ids.select("clip_id")),
                "clip_id", "left_semi",
            )
        else:
            survivors = apply_deletions_bucketed(
                clips.filter(error_kind_expr().isNull()), stages["losers"],
                table_name=f"valid_bucketed_{cfg.config_hash()}",
                path=f"{checkpoint_dir}/valid_bucketed",
                n_buckets=int(spark.conf.get(shuffle_key)),
            )
        return PipelineResult(
            survivors=survivors,
            components=stages["components"],
            losers=stages["losers"],
            verified_edges=stages["verified_edges"],
            errors=stages.errors,
            metrics=metrics,
            resumed_stages=resumed,
        )
