"""Seeded benchmark inputs, generated under the checkout's own data dir.

Every input is keyed by (workload, seed, size); a ``MANIFEST.json``
beside it records its row count and an order-insensitive content digest
at its first generation. ``check`` re-reads the input and compares both
before any timing starts, so a change to a generator (including the
package's ``datagen.synth_corpus``, which the audio corpus and the probe
batches come from) fails loudly instead of quietly changing the
workload. ``PINNED`` holds the digests of the self-test sizes on seeds 1
and 2, recorded when the benchmark was added; every run on those
inputs, ``perfbench/selftest.py``'s among them, is held to them.

Generators here own the shapes the package does not provide: the
hot-bucket text corpus (the ``bench_hotbucket.py`` recipe), the
contract tables (``documents``/``embeddings`` as the contract queries
read them) and the probe's index/batch split.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

#: the hot block's shared transcript (bench_hotbucket.py's boilerplate)
BOILERPLATE = (
    "this transcript is the standard boilerplate disclaimer that every "
    "episode of the show repeats verbatim before the content begins "
    "including the usual notices about rights and redistribution"
)

#: the contract corpus vocabulary: the 30 words the ``documents`` tables
#: of ``bench.py``'s scale-factor data draw from, uniformly, 10 to 100
#: per text; it saturates shingle overlap (the regime the exact-Jaccard
#: prefix join is expensive in)
DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMB_DIM = 64

#: (workload, seed, size name) -> {table: [rows, digest]} recorded at
#: the seed commit; the self-test regenerates these and compares
PINNED: dict = json.load(open(os.path.join(os.path.dirname(__file__),
                                           "pinned_inputs.json")))


class InputMismatch(RuntimeError):
    """A generated input no longer has the rows or digest recorded."""


def digest(df: DataFrame) -> str:
    """Order-insensitive content digest: the exact (decimal) sum of
    xxhash64 over every column of every row, plus the row count."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


class InputStore:
    """Inputs under ``<root>/<workload>/seed<seed>_<key>/<table>``, the
    key naming the size parameters. Every run generates its inputs
    again, so that it does the same work before timing whether or not
    it ran on the seed before; the dir keeps the manifest of the first
    generation and what is derived from the inputs alone (the contract
    queries' oracle)."""

    def __init__(self, root: str):
        self.root = root

    def dir(self, workload: str, seed: int, key: str) -> str:
        return os.path.join(self.root, workload, f"seed{seed}_{key}")

    def ensure(self, spark: SparkSession, workload: str, seed: int,
               key: str, build, expected: dict | None = None) -> str:
        """``build(spark, out_dir)`` writes the tables and returns their
        names; the first generation records them in the manifest, and
        ``check`` then holds every generation to it."""
        out = self.dir(workload, seed, key)
        os.makedirs(out, exist_ok=True)
        tables = build(spark, out)
        man = os.path.join(out, "MANIFEST.json")
        if not os.path.exists(man):
            record = {}
            for t in tables:
                n, h = digest(spark.read.parquet(os.path.join(out, t))).split(":")
                record[t] = [int(n), h]
            with open(man + ".tmp", "w") as f:
                json.dump(record, f, indent=1, sort_keys=True)
            os.replace(man + ".tmp", man)
        self.check(spark, workload, seed, key, expected)
        return out

    def check(self, spark: SparkSession, workload: str, seed: int,
              key: str, expected: dict | None = None) -> dict:
        """Re-read each table; its rows and digest must equal the
        manifest's and, when given, ``expected`` (a pinned record)."""
        out = self.dir(workload, seed, key)
        with open(os.path.join(out, "MANIFEST.json")) as f:
            record = json.load(f)
        for t in record:
            got = digest(spark.read.parquet(os.path.join(out, t)))
            for want in (record, expected or {}):
                if t in want and got != f"{want[t][0]}:{want[t][1]}":
                    raise InputMismatch(
                        f"{workload} seed {seed} {key} {t}: "
                        f"digest {got}, expected {want[t][0]}:{want[t][1]}"
                    )
        return record


# --------------------------------------------------------------------------
# pipeline_audio: the package's seeded audio corpus
# --------------------------------------------------------------------------

def audio_corpus(n_base: int, seed: int):
    from addresses_importer_spark.datagen import synth_corpus

    def build(spark, out):
        synth_corpus(spark, n_base=n_base, seed=seed, dup_fraction=0.3) \
            .write.mode("overwrite").parquet(os.path.join(out, "clips"))
        return ["clips"]
    return build


def planted_clusters(clip_ids) -> dict[str, list[str]]:
    """synth_corpus's planted clusters from the ids alone:
    ``base_k`` with its ``dup_k_0`` (transcript jitter) and ``dup_k_1``
    (acoustic re-render)."""
    clusters: dict[str, list[str]] = {}
    ids = set(clip_ids)
    for cid in ids:
        if cid.startswith("dup_"):
            k = cid.split("_")[1]
            clusters.setdefault(f"base_{k}", [f"base_{k}"]).append(cid)
    return clusters


# --------------------------------------------------------------------------
# pipeline_hot: unique transcripts + one identical boilerplate block
# --------------------------------------------------------------------------

def hot_corpus(n_unique: int, n_hot: int, seed: int):
    """Text-only clips: ``n_unique`` distinct md5-built transcripts and
    ``n_hot`` copies of one boilerplate transcript (ids ``hot_*``), so
    one MinHash band bucket and the boilerplate's suffix postings hold
    ``n_hot`` members."""
    def build(spark, out):
        salt = F.lit(f"s{seed}:")
        uniq = spark.range(n_unique).select(
            F.format_string("u_%09d", "id").alias("clip_id"),
            F.concat(
                F.lit("document number "),
                F.md5(F.concat(salt, F.col("id").cast("string"))),
                F.lit(" discusses topic "),
                F.md5(F.concat(salt, (F.col("id") + 1).cast("string"))),
                F.lit(" in considerable detail today"),
            ).alias("transcript"),
        )
        hot = spark.range(n_hot).select(
            F.format_string("hot_%09d", "id").alias("clip_id"),
            F.lit(BOILERPLATE).alias("transcript"),
        )
        uniq.unionByName(hot).select(
            "clip_id",
            F.lit(None).cast("binary").alias("bytes"),
            F.lit(None).cast("int").alias("sr_hz"),
            F.lit(None).cast("int").alias("dur_ms"),
            F.lit(None).cast("string").alias("codec"),
            "transcript",
        ).repartition(spark.sparkContext.defaultParallelism) \
            .write.mode("overwrite").parquet(os.path.join(out, "clips"))
        return ["clips"]
    return build


# --------------------------------------------------------------------------
# contract_chain: documents + embeddings in the contract queries' schema
# --------------------------------------------------------------------------

def contract_tables(n_docs: int, n_emb: int, seed: int):
    """``documents(doc_id, text, lang, source, n_chars)`` shaped like
    ``bench.py``'s ``documents`` tables: texts over the 30-word
    vocabulary, 5% of them (every 20th) an earlier text with the token
    ``dup`` appended, as those tables plant near-duplicates, and 1% (the
    50th of every 100) an exact repeat, so the exact-dedup query has
    work at a few hundred docs; and ``embeddings(vec_id, embedding,
    label)``: 64-d float vectors around 10 label centroids."""
    def build(spark, out):
        rng = np.random.default_rng(seed)
        texts = []
        for i in range(n_docs):
            if i and i % 20 == 0:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i % 100 == 50:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                n = int(rng.integers(10, 100))
                texts.append(" ".join(rng.choice(DOC_WORDS, n)))
        docs = pd.DataFrame({
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        })
        centroids = rng.standard_normal((10, EMB_DIM))
        labels = rng.integers(0, 10, n_emb).astype("int32")
        vecs = (0.4 * centroids[labels]
                + rng.standard_normal((n_emb, EMB_DIM))).astype("float32")
        emb = pd.DataFrame({
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": list(vecs),
            "label": labels,
        })
        docs.to_parquet(os.path.join(out, "documents.parquet"), index=False)
        emb.to_parquet(os.path.join(out, "embeddings.parquet"), index=False)
        return ["documents.parquet", "embeddings.parquet"]
    return build


# --------------------------------------------------------------------------
# probe_stream: an index of base clips + batch files of new arrivals
# --------------------------------------------------------------------------

def probe_inputs(n_index: int, n_batches: int, batch_size: int, seed: int):
    """One ``synth_corpus`` split in two. The index is the features of
    ``base_0 .. base_{n_index-1}``; the arrivals are, per batch file,
    ``batch_size`` clips mixing fresh base clips (ids past the index),
    planted re-renders ``dup_k_m`` of index clips and, every 4th batch,
    two re-delivered index rows (same id, same payload)."""
    from addresses_importer_spark.config import DedupConfig
    from addresses_importer_spark.datagen import synth_corpus
    from addresses_importer_spark.operators.signatures import build_features

    n_fresh_per = batch_size // 2
    n_base = n_index + n_batches * n_fresh_per
    # dup clusters (2 rows each) cover the first n_dup base clips, all
    # inside the index
    n_dup = n_batches * (batch_size - n_fresh_per) // 2
    if n_dup > n_index:
        raise ValueError("more planted re-renders than index clips")

    def build(spark, out):
        corpus = synth_corpus(spark, n_base=n_base, seed=seed,
                              dup_fraction=2 * n_dup / n_base)
        pdf = corpus.toPandas()
        pdf = pdf.set_index("clip_id", drop=False)
        index_ids = [f"base_{k:09d}" for k in range(n_index)]
        build_features(
            spark.createDataFrame(pdf.loc[index_ids].reset_index(drop=True),
                                  corpus.schema),
            DedupConfig(),
        ).write.mode("overwrite").parquet(os.path.join(out, "index_features"))
        dups = [c for c in pdf.clip_id if c.startswith("dup_")]
        fresh = [f"base_{k:09d}" for k in range(n_index, n_base)]
        rng = np.random.default_rng(seed)
        redeliver = rng.choice(index_ids[n_dup:], 2 * n_batches,
                               replace=False).tolist()
        per_dup = len(dups) // n_batches
        parts = []
        for b in range(n_batches):
            ids = (fresh[b * n_fresh_per:(b + 1) * n_fresh_per]
                   + dups[b * per_dup:(b + 1) * per_dup])
            if b % 4 == 0:
                ids += redeliver[2 * b:2 * b + 2]
            parts.append(pdf.loc[ids].reset_index(drop=True).assign(batch=b))
        spark.createDataFrame(pd.concat(parts, ignore_index=True)) \
            .repartition("batch").write.mode("overwrite").partitionBy("batch") \
            .parquet(os.path.join(out, "batches"))
        return ["index_features", "batches"]
    return build


def stage_batches(inputs_dir: str, dest: str) -> list[str]:
    """Copy the batch files into a fresh stream source dir, one parquet
    file per batch (the ``batch`` partition column drops out), named so
    the file source takes them in order."""
    os.makedirs(dest)
    src = os.path.join(inputs_dir, "batches")
    names = sorted((d for d in os.listdir(src) if d.startswith("batch=")),
                   key=lambda d: int(d.split("=")[1]))
    for name in names:
        part = [f for f in os.listdir(os.path.join(src, name))
                if f.endswith(".parquet")]
        shutil.copy(os.path.join(src, name, part[0]),
                    os.path.join(dest, f"b{int(name.split('=')[1]):04d}.parquet"))
    return names
