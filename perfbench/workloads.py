"""The four benchmark workloads.

Each workload has the same shape, driven by ``run.py``:

- ``prepare()``  generates and checks its seeded inputs; not timed;
- ``setup()``    the per-repetition set-up the program pays before the
                 timed part (the probe's index preparation); timed into
                 ``setup_s``;
- ``rep()``      one timed repetition; returns the clips it processed;
- ``checks(r)``  output checks of one repetition; not timed;
- ``finish()``   extra operations after the timed loop (traced runs);
- ``layers()``   per-layer metrics of a traced run.

The first repetition of a run is cold: it is the first call of the
workload's entry point in a session that has only generated and checked
its inputs, as when a batch job or a driver session starts.

Planted-duplicate ids follow ``datagen.synth_corpus``: ``base_k`` with
``dup_k_0`` (transcript jitter) and ``dup_k_1`` (acoustic re-render).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import functions as F

from addresses_importer_spark.config import DedupConfig
from addresses_importer_spark.plans import driver_queries, pipeline
from addresses_importer_spark.streaming import dedup_probe
from addresses_importer_spark.streaming.dedup_probe import start_dedup_probe

from . import inputs
from .metrics import DETECTORS, PIPELINE_STAGES as STAGES
from .trace import percentile, span_s

SIZES = {
    "pipeline_audio": {"full": {"n_base": 400}, "small": {"n_base": 120}},
    "pipeline_hot": {
        "full": {"n_unique": 3000, "n_hot": 1500, "cap": 200},
        "small": {"n_unique": 400, "n_hot": 300, "cap": 100},
    },
    "contract_chain": {
        "full": {"n_docs": 200, "n_emb": 250},
        "small": {"n_docs": 120, "n_emb": 150},
    },
    "probe_stream": {
        "full": {"n_index": 400, "n_batches": 8, "batch_size": 40},
        "small": {"n_index": 200, "n_batches": 4, "batch_size": 20},
    },
}


def input_key(size: dict) -> str:
    """Input key: the size's parameters, so each size has its own dir
    and manifest."""
    return "_".join(f"{k}{v}" for k, v in sorted(size.items()))


class Check:
    """One output check: ``ok`` when ``got`` equals ``want``."""

    def __init__(self, name: str, got, want):
        self.name, self.got, self.want = name, got, want
        self.ok = got == want

    def __repr__(self) -> str:
        return f"{self.name}: got {self.got!r}, want {self.want!r}"


class Workload:
    name = ""
    #: the Spark scope a repetition's otherwise untagged jobs belong to
    scope: str | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = SIZES[self.name][ctx.size]
        self.n_ops = 0  # operations run inside rep() (queries, epochs)

    def work(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def key(self) -> str:
        return input_key(self.size)

    def ensure_inputs(self, build) -> str:
        """The input dir, generated, its rows and digest checked against
        its manifest and, when pinned, the pin."""
        seed = self.ctx.seed
        pinned = inputs.PINNED.get(f"{self.name}/{seed}/{self.ctx.size}")
        return self.ctx.store.ensure(self.spark, self.name, seed, self.key(),
                                     build, pinned)

    def setup(self) -> None:
        """What the program pays before each repetition; timed."""

    def reset(self) -> None:
        """Untimed, before each repetition's set-up."""

    def finish(self, traced: bool) -> list[Check]:
        return []


# --------------------------------------------------------------------------
# pipelines
# --------------------------------------------------------------------------

class _Pipeline(Workload):
    detectors = DETECTORS
    with_audio = True

    def cfg(self) -> DedupConfig:
        return DedupConfig()

    def build(self):
        raise NotImplementedError

    def prepare(self) -> None:
        d = self.ensure_inputs(self.build())
        self.clips_path = os.path.join(d, "clips")
        self.clips = self.spark.read.parquet(self.clips_path)
        self.ids = [r.clip_id for r in self.clips.select("clip_id").collect()]
        self.n_reps = 0
        self.last = None

    def setup(self) -> None:
        self.ckpt = self.work(f"ckpt{self.n_reps}")

    def run(self, ckpt: str):
        res = pipeline.run_pipeline(
            self.spark, self.clips, self.cfg(), ckpt,
            detectors=self.detectors, with_audio=self.with_audio,
        )
        survivors = res.survivors.count()
        return res, survivors

    def reset(self) -> None:
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)

    def rep(self) -> int:
        spans = self.ctx.tracer.spans
        first = len(spans)
        res, n = self.run(self.ckpt)
        self.last = (self.ckpt, res, n)
        # this repetition's own spans: finish() runs the pipeline again
        self.rep_spans = spans[first:]
        self.n_reps += 1
        return len(self.ids)

    def survivor_ids(self, res) -> set[str]:
        return {r.clip_id for r in res.survivors.select("clip_id").collect()}

    # per-layer: stage walls, spans and checkpoint sizes of the last
    # repetition, row counts per detector from its stage checkpoints
    def layers(self) -> dict:
        ckpt, res, _ = self.last
        m = res.metrics
        out = {}
        for st in STAGES:
            out[f"pipeline.{st}.s"] = m.get(f"sec:{st}", 0.0)
            out[f"checkpoint.{st}.write_s"] = m.get(f"sec:{st}:write", 0.0)
            out[f"checkpoint.{st}.mb"] = _du_mb(os.path.join(ckpt, st))
        sigs = self._by_detector(os.path.join(ckpt, "signatures", "data.parquet"))
        cands = self._by_detector(os.path.join(ckpt, "candidates", "data.parquet"))
        edges = self._by_detector(os.path.join(ckpt, "verified_edges", "data.parquet"))
        hot = m.get("oversize_buckets") or {}
        for d in DETECTORS:
            out[f"signatures.{d}.rows"] = sigs.get(d, 0)
            out[f"candidates.{d}.pairs"] = cands.get(d, 0)
            out[f"verify.{d}.edges"] = edges.get(d, 0)
            out[f"verify.{d}.yield"] = (edges.get(d, 0) / cands[d]
                                        if cands.get(d) else 0.0)
        out["candidates.hot_buckets"] = sum(v["buckets"] for v in hot.values())
        out["candidates.hot_rows"] = sum(v["rows"] for v in hot.values())
        out["candidates.build_s"] = span_s(self.rep_spans, "build_candidates")
        comps = self.spark.read.parquet(
            os.path.join(ckpt, "components", "data.parquet"))
        sizes = comps.groupBy("component").count()
        agg = sizes.agg(F.count("*").alias("n"), F.max("count").alias("mx")) \
            .collect()[0]
        n_in = self.spark.read.parquet(
            os.path.join(ckpt, "verified_edges", "data.parquet")
        ).select(F.least("src", "dst").alias("u"), F.greatest("src", "dst")
                 .alias("v")).filter("u != v").distinct().count()
        out["components.s"] = span_s(self.rep_spans, "connected_components")
        out["components.edges_in"] = n_in
        out["components.count"] = agg["n"] or 0
        out["components.max_size"] = agg["mx"] or 0
        # star rounds run; 0 when the driver union-find solved the graph
        out["components.star_loop"] = sum(
            1 for sp in self.rep_spans if sp["name"] == "large_star")
        out["survivors.losers"] = m.get("rows:losers", 0)
        return out

    def _by_detector(self, path: str) -> dict:
        rows = self.spark.read.parquet(path).groupBy("detector").count().collect()
        return {r["detector"]: r["count"] for r in rows}


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


class PipelineAudio(_Pipeline):
    """run_pipeline, default config, all three detectors, audio on."""
    name = "pipeline_audio"

    def build(self):
        return inputs.audio_corpus(self.size["n_base"], self.ctx.seed)

    def prepare(self) -> None:
        super().prepare()
        self.clusters = inputs.planted_clusters(self.ids)

    def checks(self, _clips: int) -> list[Check]:
        _ckpt, res, n = self.last
        surv = self.survivor_ids(res)
        collapsed = sum(
            1 for members in self.clusters.values()
            if sum(m in surv for m in members) == 1
        )
        merged = sum(
            1 for members in self.clusters.values()
            if not any(m in surv for m in members)
        )
        self.dup_recall = collapsed / max(len(self.clusters), 1)
        return [
            Check("pipeline.survivors", n, self.size["n_base"]),
            Check("pipeline.dup_recall", self.dup_recall, 1.0),
            Check("pipeline.false_merge", merged, 0),
        ]

    def finish(self, traced: bool) -> list[Check]:
        """Traced runs only: resume after a kill following
        ``signatures`` (drop the manifests from ``candidates`` on and run
        again on the same dir), then one probe stream (the
        ``probe_stream`` workload's repetition) for the probe layer."""
        if not traced:
            return []
        ckpt, _res, n = self.last
        for st in STAGES[STAGES.index("candidates"):]:
            os.remove(os.path.join(ckpt, st, "MANIFEST.json"))
        tracer = self.ctx.tracer
        first = len(tracer.spans)
        t0 = time.perf_counter()
        res, n2 = self.run(ckpt)
        self.resume_s = time.perf_counter() - t0
        self.resume_read_s = sum(
            sp["end"] - sp["start"] for sp in tracer.spans[first:]
            if sp["name"] in ("run_stage:features", "run_stage:signatures"))
        resumed = sorted(res.resumed_stages)
        self.probe = ProbeStream(self.ctx)
        self.probe.prepare()
        self.probe.setup()
        tracer.span("rep", "probe", self.probe.rep)
        return [Check("resume.survivors", n2, n),
                Check("resume.stages", resumed, ["features", "signatures"]),
                *self.probe.checks(0)]

    def layers(self) -> dict:
        out = super().layers()
        out.update(self.probe.layers())
        out.update({"checkpoint.resume_s": self.resume_s,
                    "checkpoint.resume_read_s": self.resume_read_s,
                    "quality.dup_recall": self.dup_recall})
        return out


class PipelineHot(_Pipeline):
    """Text-only run with one n_hot-row identical boilerplate block: the
    salted hot-bucket pairs and verify over many candidates do the work."""
    name = "pipeline_hot"
    detectors = ("minhash", "suffix")
    with_audio = False

    def cfg(self) -> DedupConfig:
        return DedupConfig(bucket_cap=self.size["cap"])

    def build(self):
        return inputs.hot_corpus(self.size["n_unique"], self.size["n_hot"],
                                 self.ctx.seed)

    def checks(self, _clips: int) -> list[Check]:
        """The boilerplate block is salted into ceil(n_hot / cap)
        sub-buckets that pair only inside themselves, so it collapses to
        that many survivors; no unique transcript merges."""
        _ckpt, res, n = self.last
        surv = self.survivor_ids(res)
        hot_left = sum(1 for c in surv if c.startswith("hot_"))
        uniq_left = sum(1 for c in surv if c.startswith("u_"))
        sub_buckets = -(-self.size["n_hot"] // self.size["cap"])
        return [
            Check("hot.survivors", n, self.size["n_unique"] + sub_buckets),
            Check("hot.block_collapsed", hot_left, sub_buckets),
            Check("hot.false_merge", self.size["n_unique"] - uniq_left, 0),
        ]


# --------------------------------------------------------------------------
# contract_chain
# --------------------------------------------------------------------------

class ContractChain(Workload):
    """The bench.py query list, each run once and collected to the
    driver, so that the checks judge the results the timed run made
    (re-running the queries for them would double the run)."""
    name = "contract_chain"
    scope = "contract_chain"

    def prepare(self) -> None:
        from bench import BENCH_QUERIES
        self.queries = list(BENCH_QUERIES)
        self.sf_dir = self.ensure_inputs(inputs.contract_tables(
            self.size["n_docs"], self.size["n_emb"], self.ctx.seed))
        self.query_s: dict[str, list[float]] = {q: [] for q in self.queries}
        self.got: dict = {}
        self.want = self.oracle()

    def oracle(self) -> dict[str, tuple]:
        """(rows, digest) of every query's DuckDB oracle. They depend on
        the inputs only and are kept beside them."""
        path = os.path.join(self.sf_dir, "oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                return {q: tuple(v) for q, v in json.load(f).items()}
        import duckdb
        want = {}
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for q in self.queries:
                pdf = con.execute(driver_queries.ORACLES[q]).fetchdf()
                want[q] = (len(pdf), rows_key(pdf))
        finally:
            con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def reset(self) -> None:
        """A fresh chain memo, as a new session would have: the queries
        share memoized features/signatures/candidates per session."""
        driver_queries._CHAIN_CACHE.clear()
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def rep(self) -> int:
        tracer = self.ctx.tracer
        for q in self.queries:
            t0 = time.perf_counter()
            tracer.span(f"query:{q}", "contract_chain", self._run, q)
            self.query_s[q].append(time.perf_counter() - t0)
            self.n_ops += 1
        return self.size["n_docs"]

    def _run(self, q: str) -> None:
        self.got[q] = driver_queries.QUERIES[q](self.spark, self.sf_dir) \
            .toPandas()

    def checks(self, _docs: int) -> list[Check]:
        """Every query's row count and row digest equal its DuckDB
        oracle's."""
        out = []
        for q in self.queries:
            got, want = self.got[q], self.want.get(q, (None, None))
            out.append(Check(f"query.{q}.rows", len(got), want[0]))
            out.append(Check(f"query.{q}.digest", rows_key(got), want[1]))
        return out

    def layers(self) -> dict:
        return {f"query.{q}.s": _median(v) for q, v in self.query_s.items()}


def rows_key(pdf) -> int:
    """Order-insensitive digest of a result frame: columns by name,
    floats to 9 significant digits, rows hashed and summed."""
    import hashlib
    cols = sorted(pdf.columns)
    total = 0
    for row in pdf[cols].itertuples(index=False, name=None):
        text = "|".join(_cell(v) for v in row)
        total += int(hashlib.md5(text.encode()).hexdigest()[:16], 16)
    return total


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if v != v else f"{v:.9g}"
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, int) or (hasattr(v, "dtype") and v.dtype.kind in "iu"):
        return str(int(v))
    return str(v)


# --------------------------------------------------------------------------
# probe_stream
# --------------------------------------------------------------------------

class ProbeStream(Workload):
    """Batch files of new clips probed against a prepared index, one
    file per epoch, each epoch starting after the previous commits."""
    name = "probe_stream"
    scope = "probe"

    def prepare(self) -> None:
        s = self.size
        self.dir = self.ensure_inputs(inputs.probe_inputs(
            s["n_index"], s["n_batches"], s["batch_size"], self.ctx.seed))
        batches = self.spark.read.parquet(os.path.join(self.dir, "batches"))
        rows = batches.select("clip_id").collect()
        self.n_clips = len(rows)
        ids = [r.clip_id for r in rows]
        index_ids = {f"base_{k:09d}" for k in range(s["n_index"])}
        # planted: each re-render must edge to its base clip, each
        # re-delivered index id to itself
        self.planted = {(c, f"base_{c.split('_')[1]}")
                        for c in ids if c.startswith("dup_")}
        self.planted |= {(c, c) for c in ids if c in index_ids}
        self.n_reps = 0
        self.batch_ms: list[float] = []
        self.add_ms: list[float] = []
        self.prepare_s: list[float] = []

    def setup(self) -> None:
        k = self.n_reps
        self.index_dir = self.work(f"index{k}")
        t0 = time.perf_counter()
        self.stats = dedup_probe.prepare_probe_index(
            self.spark, os.path.join(self.dir, "index_features"),
            self.index_dir, DedupConfig(),
        )
        self.prepare_s.append(time.perf_counter() - t0)
        self.src = self.work(f"incoming{k}")
        inputs.stage_batches(self.dir, self.src)
        self.out, self.ckpt = self.work(f"edges{k}"), self.work(f"stream{k}")

    def rep(self) -> int:
        sc = self.spark.sparkContext
        sc.setJobGroup("probe", "probe_stream")
        try:
            q = start_dedup_probe(
                self.spark, self.src, None, self.out, self.ckpt,
                DedupConfig(), with_audio=True, available_now=True,
                max_files_per_trigger=1, prepared_index_dir=self.index_dir,
            )
            q.awaitTermination()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.ctx.tracer.add_epochs(progress)
        self.progress = progress
        self.n_ops += len(progress)
        self.batch_ms += [p["batchDuration"] for p in progress]
        self.add_ms += [p["durationMs"].get("addBatch", 0) for p in progress]
        self.n_reps += 1
        return self.n_clips

    def checks(self, _clips: int) -> list[Check]:
        edges = {(r.src, r.dst) for r in
                 self.spark.read.parquet(self.out).select("src", "dst").collect()}
        self.n_edges = len(edges)
        found = len(self.planted & edges)
        self.dup_recall = found / max(len(self.planted), 1)
        return [
            Check("probe.epochs", len(self.progress), self.size["n_batches"]),
            Check("probe.planted_found", found, len(self.planted)),
        ]

    def layers(self) -> dict:
        trig = [b - a for a, b in zip(self.add_ms, self.batch_ms)]
        return {
            "probe.index_rows": self.spark.read.parquet(
                os.path.join(self.index_dir, "index_feats")).count(),
            "probe.truncated_rows": self.stats["truncated_rows"],
            "probe.add_batch_ms_p50": _median(self.add_ms),
            "probe.trigger_ms_p50": _median(trig),
            "probe.edges_per_batch": self.n_edges / self.size["n_batches"],
            "probe.batch_p50_ms": _median(self.batch_ms),
            "probe.batch_p75_ms": percentile(self.batch_ms, 75),
            "probe.prepare_s": _median(self.prepare_s),
            "quality.dup_recall": self.dup_recall,
        }


def _median(values) -> float:
    import statistics
    return statistics.median(values) if values else 0.0


WORKLOADS = {w.name: w for w in
             (PipelineAudio, PipelineHot, ContractChain, ProbeStream)}
