"""Stage checkpoints + lineage manifest → resumable pipeline.

The reference's stage boundary IS a SQLite file (SURVEY §3.1): each
phase writes durable state the next phase reads, and `--keep` reuses an
existing DB (bin/main.rs:90-103). The graft mirrors that with one
parquet table + one manifest JSON per stage; a stage is skipped on
resume iff its manifest exists AND records the same config hash, run
arguments and upstream fingerprint chain.

Layout:  {root}/{stage}/data.parquet/…   +   {root}/{stage}/MANIFEST.json

The manifest also carries row counts and per-stage counters — the A2-A5
metrics surface of the reference (db_hashes.rs:124-213).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, types as T


def _footer_stats(path: str) -> tuple[int, int, str]:
    """(rows, num_files, content_digest) from parquet file footers —
    metadata-only, no Spark job. Stage manifests record counts for 8+
    stages per run; a full scan per stage is pure serial driver
    overhead at scale.

    The digest folds each file's (relative path, byte size, row count)
    — a content-sensitive fingerprint: an upstream recompute that keeps
    the same total row count but different data almost surely changes
    file sizes (zstd parquet), invalidating downstream stages. Round 1
    fingerprinted config_hash:rowcount only, which could silently serve
    stale results after a same-rowcount recompute."""
    import hashlib

    import pyarrow.parquet as pq

    rows, files = 0, []
    for dirpath, _dirnames, filenames in os.walk(path):
        for fn in filenames:
            if fn.endswith(".parquet"):
                full = os.path.join(dirpath, fn)
                n = pq.ParquetFile(full).metadata.num_rows
                rows += n
                files.append((os.path.relpath(full, path), os.path.getsize(full), n))
    h = hashlib.sha256()
    for rel, size, n in sorted(files):
        h.update(f"{rel}:{size}:{n};".encode())
    return rows, len(files), h.hexdigest()[:16]


@dataclass
class StageResult:
    stage: str
    df: DataFrame
    rows: int
    resumed: bool
    # sub-phase walls (seconds): "build" = compute() (plan construction
    # plus any eager actions inside it), "write" = the parquet job,
    # "footer" = driver-side manifest footer scan. Diagnostic only —
    # surfaced into PipelineResult.metrics to locate serial driver time.
    timings: dict | None = None


class CheckpointStore:
    """Manifest IO is driver-local POSIX (json/os.walk/pyarrow footers).
    On a cluster the checkpoint_dir must therefore be a path every
    executor AND the driver can reach as a filesystem (local, NFS, or a
    FUSE mount); bare hdfs://-style URIs are rejected up front instead
    of writing parquet fine and then recording rows=0 manifests."""

    def __init__(self, root: str, config_hash: str,
                 run_args: dict | None = None):
        # urlsplit, not a '://' scan: Hadoop-style single-slash URIs
        # ('hdfs:/tmp/ck', 'file:/tmp/ck') carry no '//', so a
        # substring check resolved them to 'file' and Spark wrote
        # parquet to the URI while os.walk read a local dir literally
        # named 'hdfs:' — producing the rows=0 manifests this guard
        # exists to reject.
        from urllib.parse import urlsplit
        parts = urlsplit(root)
        if parts.scheme not in ("", "file") or (
            parts.scheme == "file" and parts.netloc not in ("", "localhost")
        ):
            raise ValueError(
                f"checkpoint dir {root!r}: scheme {parts.scheme!r} unsupported — "
                "manifests use driver-local IO; use a local/NFS/FUSE path"
            )
        self.root = parts.path if parts.scheme == "file" else root
        self.config_hash = config_hash
        # run arguments outside the config (detectors, audio on/off):
        # JSON-shaped so a manifest round-trip compares equal
        self.run_args = run_args or {}
        os.makedirs(self.root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "MANIFEST.json")

    def _data_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "data.parquet")

    def manifest(self, stage: str) -> dict | None:
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def is_complete(self, stage: str, upstream: list[str],
                    input_fingerprint: str | None = None) -> bool:
        m = self.manifest(stage)
        if (m is None or m.get("config_hash") != self.config_hash
                or m.get("run_args", {}) != self.run_args):
            return False
        if input_fingerprint is not None and m.get("input") != input_fingerprint:
            # root stages (no upstream manifests) are pinned to their
            # source data identity: re-running with a different --input
            # against the same checkpoint dir must recompute
            return False
        for up in upstream:
            um = self.manifest(up)
            if um is None or m.get("upstream", {}).get(up) != um.get("fingerprint"):
                return False
        return True

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        reader = spark.read
        m = self.manifest(stage)
        if m and m.get("schema"):
            # pinned schema: survives 0-row stages (no files to infer from)
            reader = reader.schema(
                T.StructType.fromJson(json.loads(m["schema"]))
            )
        return reader.parquet(self._data_path(stage))

    def write(self, stage: str, df: DataFrame, upstream: list[str],
              counters=None, partition_by: list[str] | None = None,
              input_fingerprint: str | None = None) -> StageResult:
        """Materialize a stage: parquet (zstd) + manifest. The manifest
        fingerprint is (config_hash, rows, footer content digest) —
        content-sensitive, so an upstream recompute invalidates
        downstream stages even at an identical row count.

        `counters` may be a dict or a zero-arg callable; callables are
        resolved AFTER the write (i.e. after `compute` side effects
        populated them — a plain dict evaluated at call-build time
        recorded {} forever)."""
        import time as _time

        path = self._data_path(stage)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        _t0 = _time.time()
        writer.parquet(path)
        _t_write = _time.time() - _t0
        # explicit schema: a 0-row stage writes no parquet files and
        # schema inference would fail (empty-corpus / fully-filtered runs)
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        _t0 = _time.time()
        rows, num_files, digest = _footer_stats(path)
        _t_footer = _time.time() - _t0
        manifest = {
            "stage": stage,
            "config_hash": self.config_hash,
            "run_args": self.run_args,
            "schema": df.schema.json(),
            "rows": rows,
            "fingerprint": f"{self.config_hash}:{rows}:{digest}",
            "input": input_fingerprint,
            "upstream": {
                up: (self.manifest(up) or {}).get("fingerprint") for up in upstream
            },
            "counters": (counters() if callable(counters) else counters) or {},
            "num_files": num_files,
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        return StageResult(
            stage, out, rows, resumed=False,
            timings={"write": round(_t_write, 2), "footer": round(_t_footer, 2)},
        )

    def run_stage(self, spark: SparkSession, stage: str, upstream: list[str],
                  compute, counters=None,
                  partition_by: list[str] | None = None,
                  input_fingerprint: str | None = None) -> StageResult:
        """Resume-or-compute: skip `compute` entirely when the manifest
        chain matches (the kill-and-resume contract)."""
        if self.is_complete(stage, upstream, input_fingerprint):
            df = self.read(spark, stage)
            m = self.manifest(stage)
            return StageResult(stage, df, int(m["rows"]), resumed=True)
        import time as _time
        _t0 = _time.time()
        df = compute()
        _t_build = _time.time() - _t0
        res = self.write(stage, df, upstream, counters, partition_by,
                         input_fingerprint)
        if res.timings is not None:
            res.timings["build"] = round(_t_build, 2)
        return res
