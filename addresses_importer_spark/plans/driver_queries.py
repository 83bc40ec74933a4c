"""Driver-contract queries: Spark implementation + DuckDB oracle SQL.

Each entry runs MY operators over the driver's parquet tables and has a
bit-for-bit DuckDB oracle (same hash math — polynomial rolling base
hashes + md5 bucket keys — same constants from DedupConfig; see
functions/oracle_fragments.py). The dedup-pipeline
queries run over a derived corpus of `documents ∪ truncated copies`
(SQL-expressible in both engines) so candidate/verify/CC paths are
exercised on real collisions, mirroring the reference's golden-fixture
strategy (deduplicator/data/tests/with_dupes.sql).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the SQL (the driver sorts columns by name before
value-hashing). Output typing discipline: integer/string columns
wherever possible; doubles only where unavoidable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config import DedupConfig
from ..functions import oracle_fragments as O
from ..functions.hashing import POLY_BASE, POLY_MOD, md5_long
from ..functions.text import normalize_text, token_count
# build_candidates, connected_components and verify_edges stay module
# attributes here: perfbench's tracer wraps them on this module too
from ..operators.candidates import build_candidates  # noqa: F401
from ..operators.components import connected_components  # noqa: F401
from ..operators.materialize import materialize
from ..operators.signatures import DETECTOR_MINHASH, DETECTOR_SUFFIX
from ..operators.similarity import (
    ann_near_dup_pairs_banded, band_bucket_sql, banded_planes,
    cosine_expr as _cosine_expr, lsh_planes, lsh_sizing,
)
from ..operators.survivors import apply_deletions
from ..operators.verify import verify_edges  # noqa: F401
from .pipeline import DedupStages, stage_conf

CFG = DedupConfig()

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "dans"],
}

COPY_OFFSET = 1_000_000


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# derived dedup corpus: documents ∪ 80%-prefix copies of every 5th doc
# ---------------------------------------------------------------------------

def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clips-shaped frame: clip_id = lpad(doc_id, 9), transcript = text;
    every doc_id % 5 == 0 also yields a truncated (80%-prefix) copy —
    a planted near-dup + substring-containment pair."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("clip_id"),
        F.col("text").alias("transcript"),
    )
    copies = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.lpad((F.col("doc_id") + COPY_OFFSET).cast("string"), 9, "0").alias("clip_id"),
        F.substring(
            F.col("text"), 1, F.floor(F.length("text") * 4 / 5).cast("int")
        ).alias("transcript"),
    )
    df = base.unionByName(copies)
    # the sf parquet is 1-2 input splits; without a spread the 64-perm
    # minhash + per-shingle md5 projection downstream runs on <= 2 of
    # the session's cores (measured: feats 30 s -> ~4 s at 32 cores).
    # Shuffling here moves only (id, text) rows once.
    df = df.repartition(spark.sparkContext.defaultParallelism)
    return df.select(
        "clip_id",
        F.lit(None).cast("binary").alias("bytes"),
        F.lit(None).cast("int").alias("sr_hz"),
        F.lit(None).cast("int").alias("dur_ms"),
        F.lit(None).cast("string").alias("codec"),
        "transcript",
    )


# --- oracle CTE fragments (composed per query) ------------------------------

_CTE_CORPUS = f"""corpus AS (
    SELECT lpad(doc_id::VARCHAR, 9, '0') AS clip_id, text AS transcript
    FROM documents
    UNION ALL
    SELECT lpad((doc_id + {COPY_OFFSET})::VARCHAR, 9, '0'),
           substr(text, 1, floor(length(text) * 4 / 5)::INT)
    FROM documents WHERE doc_id % 5 = 0
)"""

# MATERIALIZED: DuckDB inlines CTEs by default, which would recompute
# the shingle/minhash lambdas once per downstream reference (64 band-key
# references x 64-perm signature = a 4096x blowup observed at 116 s for
# 600 rows). Materializing pins each expensive expression to one
# evaluation per row.
_CTE_FEATS = f"""normed AS MATERIALIZED (
    SELECT clip_id, {O.sql_normalize('transcript')} AS norm FROM corpus
),
coded AS MATERIALIZED (
    SELECT clip_id, norm, {O.sql_poly_codes('norm')} AS codes FROM normed
),
feats AS MATERIALIZED (
    SELECT clip_id, norm,
           {O.sql_poly_hashes_from_codes('codes', CFG.shingle_width, POLY_BASE, POLY_MOD)} AS hashes
    FROM coded
)"""

_CTE_SIGS_MINHASH = f"""sig_t AS MATERIALIZED (
    SELECT clip_id, {O.sql_minhash_signature('hashes', CFG)} AS sig
    FROM feats WHERE len(hashes) > 0
),
sigs AS MATERIALIZED (
    SELECT clip_id, 'minhash' AS detector, e.band AS band,
           e.bucket_key AS bucket_key
    FROM (
        SELECT clip_id, unnest({O.sql_band_keys('sig', CFG)}) AS e
        FROM sig_t
    )
)"""

# suffix detector oracle: rarest-shingle query keys (by global document
# frequency) joined against the full postings table — mirrors
# operators/signatures.suffix_signatures + the asymmetric pairing in
# operators/candidates (buckets keyed by the raw shingle hash; Spark
# md5-wraps it, which is injective for parity purposes)
_CTE_SUFFIX_CANDS = f"""sx_feats AS MATERIALIZED (
    SELECT clip_id,
           {O.sql_poly_hashes_from_codes('codes', CFG.suffix_shingle_width, POLY_BASE, POLY_MOD)} AS sx
    FROM coded
    WHERE length(norm) >= {max(CFG.min_containment_len, CFG.suffix_shingle_width)}
),
posts AS MATERIALIZED (
    SELECT clip_id, unnest(sx) AS h
    FROM sx_feats WHERE len(sx) > 0
),
dfc AS (
    SELECT h, count(*) AS df FROM posts GROUP BY h
),
rarest AS (
    SELECT clip_id, h FROM (
        SELECT p.clip_id, p.h,
               row_number() OVER (PARTITION BY p.clip_id ORDER BY d.df, p.h) AS rn
        FROM posts p JOIN dfc d ON d.h = p.h
    ) WHERE rn = 1
),
ok_buckets AS (
    SELECT h FROM dfc WHERE df <= {CFG.bucket_cap}
),
cands AS (
    SELECT DISTINCT least(q.clip_id, i.clip_id) AS src,
                    greatest(q.clip_id, i.clip_id) AS dst
    FROM rarest q
    JOIN ok_buckets s ON s.h = q.h
    JOIN posts i ON i.h = q.h
    WHERE q.clip_id != i.clip_id
)"""

# self-join pair generation with the reference's bucket cap
# (deduplicator.rs:120-135: packs above the cap contribute nothing)
_CTE_CANDS = f"""sizes AS (
    SELECT detector, bucket_key, count(DISTINCT clip_id) AS n
    FROM sigs GROUP BY detector, bucket_key
    HAVING count(DISTINCT clip_id) BETWEEN 2 AND {CFG.bucket_cap}
),
cands AS (
    SELECT DISTINCT a.clip_id AS src, b.clip_id AS dst, a.detector AS detector
    FROM sigs a
    JOIN sigs b ON a.bucket_key = b.bucket_key AND a.detector = b.detector
               AND a.clip_id < b.clip_id
    JOIN sizes s ON s.bucket_key = a.bucket_key AND s.detector = a.detector
)"""

_CTE_VERIFIED_MINHASH = f"""verified AS (
    SELECT c.src AS src, c.dst AS dst
    FROM cands c
    JOIN feats fa ON fa.clip_id = c.src
    JOIN feats fb ON fb.clip_id = c.dst
    WHERE len(fa.hashes) > 0 AND len(fb.hashes) > 0
      AND {O.sql_jaccard('fa.hashes', 'fb.hashes')} >= {CFG.jaccard_threshold}
)"""

_CTE_VERIFIED_SUFFIX = f"""verified AS (
    SELECT c.src AS src, c.dst AS dst
    FROM cands c
    JOIN feats fa ON fa.clip_id = c.src
    JOIN feats fb ON fb.clip_id = c.dst
    WHERE length(CASE WHEN length(fa.norm) <= length(fb.norm)
                      THEN fa.norm ELSE fb.norm END) >= {CFG.min_containment_len}
      AND contains(
            CASE WHEN length(fa.norm) <= length(fb.norm) THEN fb.norm ELSE fa.norm END,
            CASE WHEN length(fa.norm) <= length(fb.norm) THEN fa.norm ELSE fb.norm END)
)"""

# min-label propagation to fixpoint (recursive CTE) — the CC oracle
_CTE_COMPONENTS = """sym AS (
    SELECT src AS u, dst AS v FROM verified
    UNION
    SELECT dst, src FROM verified
),
lab AS (
    SELECT u AS node, least(u, min(v)) AS label FROM sym GROUP BY u
    UNION
    SELECT s.u, l.label
    FROM sym s JOIN lab l ON l.node = s.v
    WHERE l.label < s.u
),
components AS (
    SELECT node AS clip_id, min(label) AS component FROM lab GROUP BY node
)"""


def _with(parts: list[str], select: str, recursive: bool = False) -> str:
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"{kw} {', '.join(parts)} {select}"


# ---------------------------------------------------------------------------
# dedup pipeline queries (Spark side uses the real operators)
# ---------------------------------------------------------------------------

def q_exact_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: first-writer-wins on md5(text) —
    the reference's PK-constraint upsert (utils.rs:185-196)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
    )


SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS survivor_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


_CHAIN_CACHE: dict = {}


def _session_alive(spark: SparkSession) -> bool:
    try:
        sc = spark.sparkContext
        return sc._jsc is not None and not sc._jsc.sc().isStopped()
    except Exception:
        return False


def _chain_val(spark: SparkSession, key: tuple, builder):
    """Session-scoped memo for the contract chain.

    A bench/correctness session runs 7+ queries over the same derived
    corpus; round 1 rebuilt feats/sigs per query, round 2 rebuilt
    candidates/verify/CC per query (~15-20 s of duplicated work per
    bench run). Every link of the chain is now memoized.

    Entries hold the session OBJECT: dead-context entries (spark.stop())
    are purged on every access, so stale checkpointed lineage is never
    served, stopped sessions aren't pinned for the process lifetime, and
    a recycled id() can't alias a dead entry (the stored object pins the
    id while the entry lives)."""
    for k in [k for k, (sess, _) in _CHAIN_CACHE.items()
              if not _session_alive(sess)]:
        del _CHAIN_CACHE[k]
    full = (id(spark),) + key
    if full not in _CHAIN_CACHE:
        _CHAIN_CACHE[full] = (spark, builder())
    return _CHAIN_CACHE[full][1]


def _stages(spark: SparkSession, sf_dir: str,
            detectors: tuple[str, ...]) -> DedupStages:
    """The contract chain: the pipeline's own stage code over the
    derived corpus, each stage lineage-cut once per session (the
    MinHash column alone is referenced by the dual verify joins, CC
    rounds and the loser pick; recomputed per action the 64-perm chain
    took minutes). Features do not depend on the detectors, so the
    minhash and suffix chains share one features frame."""
    def run(stage, upstream, compute, **_opts) -> DataFrame:
        key = (stage, sf_dir) + (() if stage == "features" else (detectors,))

        def build():
            with stage_conf(spark):
                return materialize(compute(), eager=True)
        return _chain_val(spark, key, build)

    return _chain_val(
        spark, ("stages", sf_dir, detectors),
        lambda: DedupStages(corpus_df(spark, sf_dir), CFG, run,
                            detectors=detectors, with_audio=False),
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2 graft: per-clip banded MinHash keys, exploded 1:N
    (dedupe.rs:61-86; db_hashes.rs:61-65)."""
    sigs = _stages(spark, sf_dir, (DETECTOR_MINHASH,))["signatures"]
    return sigs.select("clip_id", "detector", "band", "bucket_key")


SQL_MINHASH_SIGNATURES = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH],
    "SELECT clip_id, detector, band, bucket_key FROM sigs",
)


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 graft: bucket-collision candidate pairs (db_hashes.rs:484-513)."""
    return _stages(spark, sf_dir, (DETECTOR_MINHASH,))["candidates"]


SQL_LSH_CANDIDATES = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH, _CTE_CANDS],
    "SELECT src, dst, detector FROM cands",
)


def q_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 graft: candidates surviving exact-Jaccard verification
    (dedupe.rs:129-198)."""
    # distinct (src, dst) by construction: candidates are distinct per
    # detector and corpus clip ids are unique
    return _stages(spark, sf_dir, (DETECTOR_MINHASH,))["verified_edges"] \
        .select("src", "dst")


SQL_VERIFIED_PAIRS = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH, _CTE_CANDS, _CTE_VERIFIED_MINHASH],
    "SELECT DISTINCT src, dst FROM verified",
)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 graft: large-star/small-star CC labels vs a recursive
    min-label-propagation oracle."""
    return _stages(spark, sf_dir, (DETECTOR_MINHASH,))["components"]


SQL_DEDUP_COMPONENTS = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH, _CTE_CANDS,
     _CTE_VERIFIED_MINHASH, _CTE_COMPONENTS],
    "SELECT clip_id, component FROM components",
    recursive=True,
)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C4/J3 graft: per-component survivor pick by (rank desc,
    clip_id desc) — rank's transcript-length term makes the FULL
    document beat its 80%-prefix copy (deduplicator.rs:157-164
    tiebreak + sources.rs:86-88 completeness) + LEFT ANTI deletion
    (db_hashes.rs:306-319)."""
    stages = _stages(spark, sf_dir, (DETECTOR_MINHASH,))
    return apply_deletions(stages.clips, stages["losers"]).select("clip_id")


# rank replicated from operators/signatures.rank_expr for the contract
# corpus (codec/dur/bytes all NULL there, so those terms are constant):
# completeness/10 + len(transcript) richness term. Ordering-identical to
# the Spark side because both engines evaluate the same double formula.
_SQL_RANK = (
    "((CASE WHEN cp.transcript IS NOT NULL THEN 1 ELSE 0 END) / 10.0"
    " + least(coalesce(length(cp.transcript), 0), 100000) / 100000.0 / 1000.0)"
)

SQL_DEDUP_SURVIVORS = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH, _CTE_CANDS,
     _CTE_VERIFIED_MINHASH, _CTE_COMPONENTS],
    f"""
    SELECT c.clip_id AS clip_id
    FROM corpus c
    LEFT JOIN (
        SELECT clip_id FROM (
            SELECT cm.clip_id,
                   row_number() OVER (
                       PARTITION BY cm.component
                       ORDER BY {_SQL_RANK} DESC, cm.clip_id DESC
                   ) AS rn
            FROM components cm JOIN corpus cp ON cp.clip_id = cm.clip_id
        ) WHERE rn > 1
    ) losers ON losers.clip_id = c.clip_id
    WHERE losers.clip_id IS NULL
    """,
    recursive=True,
)


def q_suffix_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix/containment detector: rarest-shingle blocking + exact
    substring verify (the distributed-suffix-array graft)."""
    return _stages(spark, sf_dir, (DETECTOR_SUFFIX,))["verified_edges"] \
        .select("src", "dst")


SQL_SUFFIX_VERIFIED = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SUFFIX_CANDS, _CTE_VERIFIED_SUFFIX],
    "SELECT DISTINCT src, dst FROM verified",
)


def q_collision_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 graft: GROUP BY hash HAVING count>1 + outer SUM
    (db_hashes.rs:197-213)."""
    sigs = _stages(spark, sf_dir, (DETECTOR_MINHASH,))["signatures"]
    return (
        sigs.groupBy("bucket_key")
        .agg(F.countDistinct("clip_id").alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).alias("colliding_rows"),
            F.count("*").alias("colliding_buckets"),
        )
    )


SQL_COLLISION_COUNT = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH],
    """
    -- ::BIGINT: DuckDB's sum(BIGINT) returns HUGEINT, which fetchdf()
    -- lowers to float64 (2011.0 vs Spark's int64 2011) — that broke the
    -- driver's value hash in round 1 while rows+schema matched.
    SELECT coalesce(sum(n), 0)::BIGINT AS colliding_rows,
           count(*) AS colliding_buckets
    FROM (
        SELECT bucket_key, count(DISTINCT clip_id) AS n
        FROM sigs GROUP BY bucket_key HAVING count(DISTINCT clip_id) > 1
    )
    """,
)


# ---------------------------------------------------------------------------
# text-analysis queries (documents)
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


_SQL_NORM_TEXT = O.sql_normalize("text")
SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CASE WHEN length({_SQL_NORM_TEXT}) = 0 THEN 0
            ELSE len(string_split({_SQL_NORM_TEXT}, ' ')) END AS n_tokens
FROM documents
"""


# BPE-style pre-tokenizer: runs of letters / digits / other-symbols,
# each optionally glued to one leading space (the GPT-2 pre-tokenizer
# shape, restricted to a dialect Java regex and RE2 count identically
# — the disjoint alternatives make non-overlapping left-to-right match
# counts engine-independent). Applied to normalized text.
BPE_TOKEN_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting (the BPE-ish twin of the
    whitespace counter): count pre-tokenizer matches, the input-length
    proxy a training-data pipeline budgets by."""
    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.regexp_count(norm, F.lit(BPE_TOKEN_PATTERN)).cast("long").alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT_BPE = f"""
SELECT doc_id,
       len(regexp_extract_all({_SQL_NORM_TEXT}, '{BPE_TOKEN_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


def _stop_hits(words_col, stopwords: list[str]) -> F.Column:
    return F.size(F.filter(words_col, lambda w: w.isin(stopwords)))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact quality counters (training-data quality scoring
    building blocks: length / alpha / digit / token / stopword)."""
    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    words = F.split(norm, " ")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_raw"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(words)).alias("n_tokens"),
        F.when(F.length(norm) == 0, F.lit(0))
        .otherwise(_stop_hits(words, STOPWORDS["en"])).alias("n_stopwords"),
    )


def _sql_stop_hits(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return (
        f"len(list_filter(string_split({_SQL_NORM_TEXT}, ' '), "
        f"w -> list_contains({lst}, w)))"
    )


SQL_QUALITY_SCORE = f"""
SELECT doc_id,
       length(text) AS n_chars_raw,
       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
       CASE WHEN length({_SQL_NORM_TEXT}) = 0 THEN 0
            ELSE len(string_split({_SQL_NORM_TEXT}, ' ')) END AS n_tokens,
       CASE WHEN length({_SQL_NORM_TEXT}) = 0 THEN 0
            ELSE {_sql_stop_hits('en')} END AS n_stopwords
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID, deterministic tiebreak order
    (en > de > es > fr), 'und' when no stopword hits at all."""
    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    words = F.split(norm, " ")
    scores = {lang: _stop_hits(words, sw) for lang, sw in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(scores["en"] == best, F.lit("en"))
        .when(scores["de"] == best, F.lit("de"))
        .when(scores["es"] == best, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select("doc_id", pred.alias("lang_pred"))


SQL_LANG_ID = f"""
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            WHEN s_en = best THEN 'en'
            WHEN s_de = best THEN 'de'
            WHEN s_es = best THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM (
    SELECT doc_id, s_en, s_de, s_es, s_fr,
           greatest(s_en, s_de, s_es, s_fr) AS best
    FROM (
        SELECT doc_id,
               {_sql_stop_hits('en')} AS s_en,
               {_sql_stop_hits('de')} AS s_de,
               {_sql_stop_hits('es')} AS s_es,
               {_sql_stop_hits('fr')} AS s_fr
        FROM documents
    )
)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: content md5 + min shingle hash (bottom-1
    sketch) + set size — X7-style u64 re-hash surface (dedupe.rs:81-85).

    Round 4 (VERDICT r3 task #3): the shingle base hash is the
    polynomial rolling family (hashing.poly_hashes_from_codes_sql), not
    md5-per-shingle — DuckDB 1.0 ships no xxhash64/crc32 so the
    verdict's xxhash64 candidate has no pure-SQL oracle twin, but the
    poly fold does (bit-identical fold in both engines, parity-tested
    in tests/test_hashing.py) and removes the per-shingle hex
    materialize+parse that made this the slowest contract query
    (19.4 s of the 80.6 s r3 total). Round 5 swapped the whole
    pipeline's base-hash family to the same fold (signatures.py); the
    round-4 md5 A/B variant is recorded in BENCH.md and deleted."""
    from ..functions.hashing import poly_codes_sql, poly_hashes_from_codes_sql

    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    # three-step projection: codes is multi-referenced by the hash fold
    # and hashes by three output columns; inlined, each reference would
    # re-evaluate the full upstream chain per row (the md5 variant
    # measured 35 s -> ~12 s from the same split). CollapseProject
    # keeps the splits because the aliases are non-cheap and
    # multi-referenced.
    with_codes = docs.select("doc_id", "text", norm.alias("norm")).select(
        "doc_id", "text", F.expr(poly_codes_sql("norm")).alias("codes")
    )
    with_hashes = with_codes.select(
        "doc_id", "text",
        F.expr(
            poly_hashes_from_codes_sql("codes", CFG.shingle_width)
        ).alias("hashes"),
    )
    return with_hashes.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.when(F.size("hashes") > 0, F.array_min("hashes")).alias("min_shingle_hash"),
        F.size("hashes").alias("n_shingles"),
    )


# norm is projected to its own subquery column first: DuckDB lambdas
# re-evaluate per reference, so inlining the regexp chain into the
# per-char transform would be O(len^2) regexps
SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       md5(text) AS content_md5,
       CASE WHEN len(hashes) > 0 THEN list_min(hashes) END AS min_shingle_hash,
       len(hashes) AS n_shingles
FROM (
    SELECT doc_id, text,
           {O.sql_poly_hashes_from_codes('codes', CFG.shingle_width, POLY_BASE, POLY_MOD)} AS hashes
    FROM (
        SELECT doc_id, text, {O.sql_poly_codes('norm')} AS codes
        FROM (SELECT doc_id, text, {_SQL_NORM_TEXT} AS norm FROM documents)
    )
)
"""


SIMHASH_TEXT_BITS = 32


def q_text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over word hashes (the text twin of the acoustic
    detector): bit b set iff more distinct words have bit b set in
    their md5 hash than not. Charikar's scheme with unit weights,
    bit-for-bit reproducible in SQL."""
    docs = _read(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    hashes = F.array_distinct(
        F.transform(F.split(norm, " "), lambda w: md5_long(w) % (2**60))
    )
    n = F.size(hashes)
    bits = []
    for b in range(SIMHASH_TEXT_BITS):
        ones = F.size(
            F.filter(hashes, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1)
        )
        bits.append(F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0)))
    simhash = sum(bits[1:], bits[0])
    return docs.select(
        "doc_id",
        F.when(F.length(norm) > 0, simhash.cast("long")).alias("simhash_text"),
    )


_SQL_WORD_HASHES = (
    f"list_distinct(list_transform(string_split({O.sql_normalize('text')}, ' '), "
    f"w -> {O.sql_md5_long('w')} % {2**60}))"
)
_SQL_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hashes, h -> (h >> {b}) & 1 = 1)) "
    f"> len(hashes) THEN {1 << b} ELSE 0 END)"
    for b in range(SIMHASH_TEXT_BITS)
)
SQL_TEXT_SIMHASH = f"""
SELECT doc_id,
       CASE WHEN length({_SQL_NORM_TEXT}) > 0 THEN ({_SQL_SIMHASH_BITS})::BIGINT END
           AS simhash_text
FROM (
    SELECT doc_id, text, {_SQL_WORD_HASHES} AS hashes FROM documents
)
"""


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------



def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 query vector (the ANN
    baseline); output is rank+id only (no float hashing hazards)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    sim = _cosine_expr(F.col("embedding"), F.col("q_embedding"))
    top = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    return top.select(
        "vec_id",
        F.row_number().over(Window.orderBy(F.desc("sim"), F.asc("vec_id"))).alias("rank"),
    )


# zero-vector guard mirrors operators/similarity.cosine_expr: NULL when
# either norm is 0 (NULL never passes a >= threshold filter)
_SQL_COS_AB = """(
    CASE WHEN sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) > 0
    THEN
    list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> p[1]::DOUBLE * p[2]::DOUBLE))
    / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
       * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))))
    END
)"""

SQL_COSINE_TOPK = f"""
SELECT vec_id,
       row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
FROM (
    SELECT a.vec_id AS vec_id, {_SQL_COS_AB} AS sim
    FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) b
    WHERE a.vec_id != 0
    ORDER BY sim DESC, vec_id ASC LIMIT 10
)
"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ perturbed copies of every 4th vector (+0.05 on every
    3rd coordinate, in double): planted near-dups at cosine ~0.97+ while
    natural pairs stay <= ~0.52 — the embedding analog of the documents'
    truncated-copy corpus."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + COPY_OFFSET).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + F.when(i % 3 == 0, F.lit(0.05)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    return emb.unionByName(copies)


_SQL_EMB_CORPUS = f"""emb AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
    FROM embeddings
    UNION ALL
    SELECT vec_id + {COPY_OFFSET},
           [embedding[i]::DOUBLE + CASE WHEN (i-1) % 3 = 0 THEN 0.05 ELSE 0.0 END
            for i in range(1, len(embedding) + 1)]
    FROM embeddings WHERE vec_id % 4 = 0
)"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force embedding-cosine near-dup pairs (>= 0.9) over the
    planted-copy corpus: reference semantics for the embedding dedup
    detector (the LSH-bucketed variant is the scale path)."""
    emb = _emb_corpus(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("src_vec"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("dst_vec"), F.col("embedding").alias("eb"))
    sim = _cosine_expr(F.col("ea"), F.col("eb"))
    return (
        a.crossJoin(b)
        .filter(F.col("src_vec") < F.col("dst_vec"))
        .select("src_vec", "dst_vec", sim.alias("sim"))
        .filter(F.col("sim") >= 0.9)
        .select("src_vec", "dst_vec")
    )


SQL_EMBEDDING_NEAR_DUP = f"""
WITH {_SQL_EMB_CORPUS}
SELECT a.vec_id AS src_vec, b.vec_id AS dst_vec
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE {_SQL_COS_AB} >= 0.9
"""

# --- banded-LSH variant: the SCALE path, oracle-checked ---------------------
# Sizing pinned at the correctness-gate scale (sf0.01 corpus: 500
# embeddings + 125 planted copies = 625 vectors, planted cosine >= 0.97)
# per operators/similarity.lsh_sizing — the oracle SQL is a static
# string, so the contract entry uses one fixed (bands, rows); the
# n-dependent rule itself is unit-tested in tests/test_similarity.py.
_LSH_NDUP_THRESHOLD = 0.9
_LSH_BANDS, _LSH_ROWS = lsh_sizing(625, target_cos=0.97, target_recall=0.99)
_LSH_PLANES = banded_planes(64, _LSH_BANDS, _LSH_ROWS, seed=CFG.seed)


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH embedding near-dup pairs (>= 0.9) — the
    contracted + benched operator (the brute crossJoin above stays as
    the small-sf truth oracle; its O(n²) plan was round 1's worst bench
    query). Bucket math is explicit left-assoc double sums, bit-exact
    vs the DuckDB oracle.

    The pair frame is persisted (persist+count, NOT localCheckpoint —
    the RDD-conversion path has no huge-method codegen fallback for the
    banded bucket expressions) and memoized; the intermediate bucket
    cache is released as soon as the pairs exist."""
    def build():
        emb = _emb_corpus(spark, sf_dir)
        handles: list = []
        pairs = ann_near_dup_pairs_banded(
            emb, _LSH_PLANES, _LSH_NDUP_THRESHOLD, handles_out=handles
        ).persist()
        pairs.count()
        for h in handles:
            h.unpersist()
        return pairs
    return _chain_val(spark, ("emb_lsh", sf_dir), build)


def _sql_embedding_near_dup_lsh() -> str:
    per_band = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"{band_bucket_sql('e', planes, 'duckdb')} AS bucket FROM embd"
        for b, planes in enumerate(_LSH_PLANES)
    )
    return f"""
WITH {_SQL_EMB_CORPUS},
embd AS MATERIALIZED (SELECT vec_id, embedding AS e FROM emb),
bucketed AS MATERIALIZED ({per_band}),
cands AS (
    SELECT DISTINCT l.vec_id AS src_vec, r.vec_id AS dst_vec
    FROM bucketed l JOIN bucketed r
      ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT c.src_vec AS src_vec, c.dst_vec AS dst_vec
FROM cands c
JOIN (SELECT vec_id, e AS embedding FROM embd) a ON a.vec_id = c.src_vec
JOIN (SELECT vec_id, e AS embedding FROM embd) b ON b.vec_id = c.dst_vec
WHERE {_SQL_COS_AB} >= {_LSH_NDUP_THRESHOLD}
"""


SQL_EMBEDDING_NEAR_DUP_LSH = _sql_embedding_near_dup_lsh()


# --- IVF-bucketed ANN top-k: the indexed scale path for J4 ------------------
# 4 sign planes → 16 coarse cells; the query scans ONLY its own cell
# (n_probe=1), trading recall for a 16× scan cut — the IVF-flat shape.
# Deterministic + oracle-expressible because the bucket math is the
# same engine-neutral SQL string used by the banded-LSH detector.
_IVF_PLANES = lsh_planes(64, 4, seed=CFG.seed)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 by cosine within the query vector's sign-LSH cell
    (operators/similarity.ivf_topk semantics, inlined with the
    oracle-shared bucket SQL for bit parity)."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    bucket = F.expr(band_bucket_sql("embedding", _IVF_PLANES, "spark"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), bucket.alias("qb")
    )
    wb = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", "embedding", bucket.alias("bucket")
    )
    sim = _cosine_expr(F.col("embedding"), F.col("q_embedding"))
    top = (
        wb.join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )
    return top.select(
        "vec_id",
        F.row_number().over(Window.orderBy(F.desc("sim"), F.asc("vec_id"))).alias("rank"),
    )


def _sql_ann_ivf_topk() -> str:
    bucket = band_bucket_sql("e", _IVF_PLANES, "duckdb")
    return f"""
WITH embd AS MATERIALIZED (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
    FROM embeddings
),
bkt AS MATERIALIZED (
    SELECT vec_id, {bucket} AS bucket FROM embd
)
SELECT vec_id,
       row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rank
FROM (
    SELECT a.vec_id AS vec_id, {_SQL_COS_AB} AS sim
    FROM (SELECT x.vec_id, x.e AS embedding, k.bucket
          FROM embd x JOIN bkt k ON k.vec_id = x.vec_id
          WHERE x.vec_id != 0) a,
         (SELECT x.e AS embedding, k.bucket
          FROM embd x JOIN bkt k ON k.vec_id = x.vec_id
          WHERE x.vec_id = 0) b
    WHERE a.bucket = b.bucket
    ORDER BY sim DESC, vec_id ASC LIMIT 10
)
"""


SQL_ANN_IVF_TOPK = _sql_ann_ivf_topk()


# ---------------------------------------------------------------------------
# relational-operator parity (reference ops over the driver tables)
# ---------------------------------------------------------------------------

def q_errors_by_kind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 graft (errors-by-kind, tools/src/lib.rs:590-600)."""
    docs = _read(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("text").isNull() | (F.trim("text") == ""), "empty")
        .when(F.col("n_chars") < 64, "too_short")
        .otherwise("ok")
    )
    return docs.groupBy(kind.alias("kind")).agg(F.count("*").alias("n"))


SQL_ERRORS_BY_KIND = """
SELECT CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
            WHEN n_chars < 64 THEN 'too_short'
            ELSE 'ok' END AS kind,
       count(*) AS n
FROM documents GROUP BY 1
"""


# irregular hexagon over the synthetic [-10, 10) coordinate box
GEO_POLYGON = [(-6.0, -2.0), (-2.0, -7.0), (3.0, -5.0),
               (7.0, 1.0), (2.0, 6.0), (-4.0, 5.0)]


def q_geo_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 graft: point-in-polygon source filter (the reference keeps
    only France records, sources.rs:65-72). Coordinates are synthesized
    deterministically from the event id hash (same double math in both
    engines); the ray-cast predicate is ONE engine-neutral SQL string,
    constant-folded and codegen'd — no UDF, no join."""
    from ..functions.geo import point_in_polygon_sql

    evts = _read(spark, sf_dir, "events")
    lon = ((md5_long(F.concat(F.lit("lon_"), F.col("event_id").cast("string")))
            % 2000).cast("double") / 100.0 - 10.0)
    lat = ((md5_long(F.concat(F.lit("lat_"), F.col("event_id").cast("string")))
            % 2000).cast("double") / 100.0 - 10.0)
    pts = evts.select("event_id", lon.alias("lon"), lat.alias("lat"))
    return pts.filter(F.expr(point_in_polygon_sql("lon", "lat", GEO_POLYGON))).select(
        "event_id"
    )


def _sql_geo_filter() -> str:
    from ..functions.geo import point_in_polygon_sql

    lon_h = O.sql_md5_long("'lon_' || event_id::VARCHAR")
    lat_h = O.sql_md5_long("'lat_' || event_id::VARCHAR")
    lon = f"(({lon_h} % 2000)::DOUBLE / 1.0e2 - 1.0e1)"
    lat = f"(({lat_h} % 2000)::DOUBLE / 1.0e2 - 1.0e1)"
    return f"""
SELECT event_id FROM (
    SELECT event_id, {lon} AS lon, {lat} AS lat FROM events
) WHERE {point_in_polygon_sql('lon', 'lat', GEO_POLYGON)}
"""


SQL_GEO_FILTER = _sql_geo_filter()


def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 graft: JSON-lines scan over a nested directory tree
    (recursiveFileLookup + explicit schema — the OpenAddresses
    dir-walk importer, importers/openaddresses/src/lib.rs:109-146).
    The tree is generated deterministically from documents.parquet, so
    the oracle aggregates the parquet view directly; min/max of the
    md5 hash domain proves content (not just counts) round-tripped
    through JSON byte-identically."""
    from ..sources.jsonl import ensure_docs_jsonl_tree, read_docs_jsonl

    path = ensure_docs_jsonl_tree(spark, sf_dir)
    docs = read_docs_jsonl(spark, path)
    h = md5_long(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.min(h).alias("min_hash"),
        F.max(h).alias("max_hash"),
    )


SQL_JSONL_SCAN = f"""
SELECT lang, count(*) AS n, count(DISTINCT doc_id) AS n_docs,
       min({O.sql_md5_long('text')}) AS min_hash,
       max({O.sql_md5_long('text')}) AS max_hash
FROM documents GROUP BY lang
"""


def q_counts_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 graft: COUNT(*) + COUNT(DISTINCT) (db_hashes.rs:124-186)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


SQL_COUNTS_DISTINCT = """
SELECT count(*) AS n_rows,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources
FROM documents
"""


def q_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 graft: source union with provenance lit (bin/main.rs:105-125)."""
    docs = _read(spark, sf_dir, "documents").select(
        F.lit("documents").alias("src_table"), F.col("doc_id").alias("rec_id")
    )
    evts = _read(spark, sf_dir, "events").select(
        F.lit("events").alias("src_table"), F.col("event_id").alias("rec_id")
    )
    return (
        docs.unionByName(evts)
        .groupBy("src_table")
        .agg(F.count("*").alias("n"), F.max("rec_id").alias("max_id"))
    )


SQL_UNION_SOURCES = """
SELECT src_table, count(*) AS n, max(rec_id) AS max_id
FROM (
    SELECT 'documents' AS src_table, doc_id AS rec_id FROM documents
    UNION ALL
    SELECT 'events', event_id FROM events
) GROUP BY src_table
"""


def q_minmax_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 graft: MIN/MAX hash-domain bounds (db_hashes.rs:461-477)."""
    docs = _read(spark, sf_dir, "documents")
    h = md5_long(F.col("text"))
    return docs.agg(
        F.min(h).alias("min_hash"),
        F.max(h).alias("max_hash"),
        F.count("*").alias("n"),
    )


SQL_MINMAX_HASH = f"""
SELECT min({O.sql_md5_long('text')}) AS min_hash,
       max({O.sql_md5_long('text')}) AS max_hash,
       count(*) AS n
FROM documents
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 graft: key lookup (tools/src/lib.rs:602-611)."""
    orders = _read(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(20)
    )


SQL_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
ORDER BY o_orderkey LIMIT 20
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (documents) — exact all-pairs similarity
# via AllPairs/PPJoin prefix filtering (recall 1.0 at the target tau)
# ---------------------------------------------------------------------------

#: integer-arithmetic tau (n_inter * 100 >= TAU_PCT * n_union): bit-exact
#: in both engines, no float threshold hazards
JACCARD_TAU_PCT = 60
#: prefix-filter tau: the pair frame is built to catch EVERY pair with
#: Jaccard >= 0.5 (the smallest threshold the dedup_rate_curve sweeps);
#: the pairs query then applies its own >= 0.6 cut on exact evidence
PREFIX_TAU_PCT = 50


def prefix_filter_candidates(hashed: DataFrame,
                             tau_pct: int = PREFIX_TAU_PCT) -> DataFrame:
    """AllPairs/PPJoin prefix-filter candidate pairs over a
    (clip_id, hashes) frame — the volume-bounding heart of the exact
    Jaccard detector, exposed for the adversarial linearity golden
    (VERDICT r4 #4): a stop token present in EVERY document has maximal
    df, sorts to the very end of the (df, h) total order, and therefore
    falls outside every document's prefix — the inverted-index join
    stays linear where a naive token join goes quadratic."""
    # n_tok rides along from size(hashes) — a count() window here would
    # buffer + scan every clip partition a second time on the largest
    # intermediate table in the query (the round-5 sf0.1 bench showed
    # this chain as the slowest contract query at ~33 s)
    posts = hashed.select(
        "clip_id", F.size("hashes").alias("n_tok"),
        F.explode("hashes").alias("h"),
    )
    # global document frequency via count() OVER (PARTITION BY h): one
    # exchange of the postings by h, replacing the groupBy+join form
    # (measured ~40% faster on the suffix chain's identical pattern —
    # operators/signatures.py round 6); the row_number window then
    # re-shuffles by clip_id as before
    ranked = posts.withColumn(
        "d", F.count("*").over(Window.partitionBy("h"))
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("clip_id").orderBy("d", "h")
        ),
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_tok")
        - F.expr(f"({tau_pct} * n_tok + 99) div 100")
        + 1
    ).select("clip_id", "n_tok", "h", "rn")
    a = prefix.select(
        F.col("clip_id").alias("a_id"), F.col("n_tok").alias("na"),
        "h", F.col("rn").alias("ra"),
    )
    b = prefix.select(
        F.col("clip_id").alias("b_id"), F.col("n_tok").alias("nb"),
        "h", F.col("rn").alias("rb"),
    )
    # explicit, size-gated broadcast of the index side: one cheap agg
    # over the (already materialized) hash frame gives the EXACT prefix
    # row count — Spark's own estimate over checkpoint-backed frames is
    # unusable, so left alone the planner may shuffle both sides by h
    # and hand the fan-out back to byte-based coalescing. Up to ~3M
    # prefix rows (~100 MB hashed) broadcasting keeps the probe-side
    # partitioning pinned above; past that the shuffle join's input is
    # large enough that size-targeted AQE gives sane parallelism anyway.
    n_prefix_rows = hashed.agg(
        F.sum(
            F.greatest(
                F.lit(0),
                F.size("hashes")
                - F.expr(f"({tau_pct} * size(hashes) + 99) div 100")
                + 1,
            )
        )
    ).first()[0] or 0
    if n_prefix_rows <= 3_000_000:
        b = F.broadcast(b)
    matched = (
        a.join(b, "h")
        .filter(F.col("a_id") < F.col("b_id"))
        # PPJoin length filter: J(a,b) >= tau ⇒ |inter| <= min(na,nb)
        # and |union| >= max(na,nb) ⇒ min/max >= tau — integer-exact,
        # removes only pairs that cannot reach tau. Measured at sf0.1:
        # 12.3M -> 8.3M candidates BEFORE the distinct shuffle and the
        # exact-verification join that ships the hash arrays.
        .filter(
            F.least("na", "nb") * 100 >= tau_pct * F.greatest("na", "nb")
        )
    )
    # PPJoin positional filter (Xiao et al., WWW'08), set-oriented form.
    # Both docs list tokens in the SAME global (df, h) order, so
    # "position > i in a" ⟺ "globally greater than a's token i" ⟺
    # "position > j in b" for the matching token. Hence with k = number
    # of tokens common to both prefixes and (ia, jb) the positions of
    # the globally-largest such token, every remaining common token
    # ranks after BOTH, giving the exact upper bound
    #   |inter| <= k + min(na - ia, nb - jb).
    # J >= tau ⇔ |inter|*(100+tau_pct) >= tau_pct*(na+nb) (integer-
    # exact), so pairs whose BOUND misses tau can never verify — the
    # groupBy replaces the old distinct (same shuffle key, map-side
    # combinable) and prunes before the verification join ships the
    # hash arrays.
    return (
        matched.groupBy("a_id", "b_id", "na", "nb")
        .agg(
            F.count("*").alias("k"),
            F.max("ra").alias("ia"),
            F.max("rb").alias("jb"),
        )
        .filter(
            (F.col("k")
             + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("jb")))
            * (100 + tau_pct)
            >= tau_pct * (F.col("na") + F.col("nb"))
        )
        .select("a_id", "b_id")
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared chain for the Jaccard contract queries: derived corpus ->
    poly-rolling shingle-hash SETS (the round-4 cheap base-hash family)
    -> AllPairs/PPJoin PREFIX-FILTER candidates -> exact per-pair
    intersection/union sizes.

    Prefix filter (Bayardo et al., WWW'07): order every token by the
    global (df, h) total order; each doc indexes only its first
    ``n - ceil(tau*n) + 1`` tokens. If J(a,b) >= tau then
    |inter| >= tau*|a| and >= tau*|b|, so the globally-smallest shared
    token provably lies in BOTH prefixes — the prefix equi-join has
    recall 1.0 for every pair at or above tau, while frequent tokens
    (which explode a naive inverted-index join quadratically) fall
    outside the short prefixes of the docs that contain them. Rarest
    tokens carry the candidates: the same global-df trick as the suffix
    detector's rarest-shingle keys (operators/signatures.py). All
    length arithmetic is integer ((tau_pct*n + 99) div 100), bit-exact
    across engines. Memoized per (session, sf_dir) like the minhash
    chain; the hash-set frame is used three times (postings + both
    sides of the pair join)."""
    from ..functions.hashing import poly_codes_sql, poly_hashes_from_codes_sql

    def build():
        corpus = corpus_df(spark, sf_dir)
        # run the WHOLE chain on long ids: this corpus's clip_ids are
        # 9-char zero-padded digit strings (corpus_df), so the cast is
        # injective and numeric order == lexicographic order — the
        # a < b pair orientation is unchanged. Long keys make the pair
        # aggregation fixed-width (UnsafeFixedWidthAggregationMap — the
        # robust spill path; the string-keyed agg over the billions of
        # matched rows at sf1.0 died of heap OOM) and halve the
        # hash/compare cost of the join and agg at every scale. The
        # padded strings are restored in one projection at the end.
        normed = corpus.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            normalize_text(F.col("transcript")).alias("norm"),
        )
        # three-step projection (doc_fingerprint lesson): codes and
        # hashes are each multi-referenced; inlined, Catalyst would
        # re-evaluate the full upstream chain per reference
        coded = normed.select(
            "clip_id", F.expr(poly_codes_sql("norm")).alias("codes")
        )
        hashed = materialize(
            coded.select(
                "clip_id",
                F.expr(
                    poly_hashes_from_codes_sql("codes", CFG.shingle_width)
                ).alias("hashes"),
            ),
            eager=False,
        )
        cand = prefix_filter_candidates(hashed, PREFIX_TAU_PCT)
        ha = hashed.select(
            F.col("clip_id").alias("a_id"), F.col("hashes").alias("a_hashes")
        )
        hb = hashed.select(
            F.col("clip_id").alias("b_id"), F.col("hashes").alias("b_hashes")
        )
        # explicit broadcast of the array side while it fits: the hash
        # arrays then NEVER cross an Exchange — the candidate pairs
        # stream through two map-side hash joins. The gate is on EXACT
        # total array bytes (one cheap agg over the cached frame), not
        # row count: a row-count gate at sf1.0 (60k docs x ~261 tokens)
        # built two ~500 MB hashed relations and OOM'd the heap under
        # the pair-agg's concurrent memory (observed: TorrentBroadcast
        # readBroadcastBlock OOM). 4M int64 tokens ~= 32 MB raw per
        # relation; past the gate the planner's shuffle join takes over
        # (at that scale the array side is large enough that sort-merge
        # by id is the right plan anyway).
        total_tokens = hashed.agg(F.sum(F.size("hashes"))).first()[0] or 0
        if total_tokens <= 4_000_000:
            ha, hb = F.broadcast(ha), F.broadcast(hb)
        # hash arrays shuffle only to the (volume-bounded) candidate
        # pairs, never all-pairs; n_inter projected once, reused for
        # n_union in a second projection so array_intersect evaluates
        # one time per pair
        sized = (
            cand.join(ha, "a_id")
            .join(hb, "b_id")
            .select(
                "a_id", "b_id",
                F.size(F.array_intersect("a_hashes", "b_hashes")).alias("n_inter"),
                F.size("a_hashes").alias("na"),
                F.size("b_hashes").alias("nb"),
            )
        )
        pairs = sized.select(
            F.lpad(F.col("a_id").cast("string"), 9, "0").alias("a_id"),
            F.lpad(F.col("b_id").cast("string"), 9, "0").alias("b_id"),
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
        )
        return materialize(pairs, eager=False)

    return _chain_val(spark, ("jaccard_pairs", sf_dir), build)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class n-gram Jaccard near-dup detector over `documents`
    (the exact-verification counterpart of the MinHash estimate the
    pipeline's H1/J1 chain uses — dedupe.rs:59-76 computes the same
    shingle-set Jaccard exactly per candidate pair). Emits every pair
    with Jaccard >= 0.6 plus the integer intersection/union evidence."""
    pairs = _jaccard_pairs(spark, sf_dir)
    return pairs.filter(
        F.col("n_inter") * 100 >= JACCARD_TAU_PCT * F.col("n_union")
    )


def _sql_jaccard_pairs_ctes() -> str:
    """Oracle twin of _jaccard_pairs (shared by both Jaccard queries)."""
    from ..functions.hashing import POLY_BASE as _B, POLY_MOD as _M

    return f"""{_CTE_CORPUS},
normed AS MATERIALIZED (
    SELECT clip_id, {O.sql_normalize('transcript')} AS norm FROM corpus
),
hashed AS MATERIALIZED (
    SELECT clip_id,
           {O.sql_poly_hashes_from_codes('codes', CFG.shingle_width, _B, _M)} AS hashes
    FROM (SELECT clip_id, {O.sql_poly_codes('norm')} AS codes FROM normed)
),
posts AS (SELECT clip_id, unnest(hashes) AS h FROM hashed),
ranked AS (
    SELECT p.clip_id, p.h,
           row_number() OVER (PARTITION BY p.clip_id ORDER BY d.d, p.h) AS rn,
           count(*) OVER (PARTITION BY p.clip_id) AS n_tok
    FROM posts p
    JOIN (SELECT h, count(*) AS d FROM posts GROUP BY h) d USING (h)
),
prefix AS (
    SELECT clip_id, h FROM ranked
    WHERE rn <= n_tok - ({PREFIX_TAU_PCT} * n_tok + 99) // 100 + 1
),
cand AS (
    SELECT DISTINCT a.clip_id AS a_id, b.clip_id AS b_id
    FROM prefix a JOIN prefix b ON a.h = b.h AND a.clip_id < b.clip_id
),
pairs AS MATERIALIZED (
    SELECT a_id, b_id,
           len(list_intersect(ha.hashes, hb.hashes)) AS n_inter,
           len(ha.hashes) + len(hb.hashes)
               - len(list_intersect(ha.hashes, hb.hashes)) AS n_union
    FROM cand
    JOIN hashed ha ON cand.a_id = ha.clip_id
    JOIN hashed hb ON cand.b_id = hb.clip_id
)"""


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH {_sql_jaccard_pairs_ctes()}
SELECT a_id, b_id, n_inter::BIGINT AS n_inter, n_union::BIGINT AS n_union
FROM pairs
WHERE n_inter * 100 >= {JACCARD_TAU_PCT} * n_union
"""


#: threshold sweep for the dedup-rate curve (integer percents)
DEDUP_RATE_TAUS = [50, 60, 70, 80, 90]


def q_dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup-rate diagnostic: how many near-dup pairs
    survive at each Jaccard threshold — the what-would-we-drop curve a
    training-data pipeline consults before committing to a tau. One
    pass over the (already volume-bounded) candidate pairs; the sweep
    is a tiny literal-array explode, not a re-scan per threshold."""
    pairs = _jaccard_pairs(spark, sf_dir)
    taus = F.explode(F.array(*[F.lit(t) for t in DEDUP_RATE_TAUS])).alias("tau")
    return (
        pairs.select("n_inter", "n_union", taus)
        .groupBy("tau")
        .agg(
            F.sum(
                F.when(
                    F.col("n_inter") * 100 >= F.col("tau") * F.col("n_union"), 1
                ).otherwise(0)
            ).cast("long").alias("n_pairs")
        )
    )


SQL_DEDUP_RATE_CURVE = f"""
WITH {_sql_jaccard_pairs_ctes()}
SELECT tau, sum(CASE WHEN n_inter * 100 >= tau * n_union
                     THEN 1 ELSE 0 END)::BIGINT AS n_pairs
FROM pairs
CROSS JOIN (VALUES {', '.join(f'({t})' for t in DEDUP_RATE_TAUS)}) t(tau)
GROUP BY tau
"""


def q_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the CC labels — the standard dedup
    diagnostic (how many pairs, triples, ... did blocking+verify
    produce; a fat tail here means a blocking key is too coarse).
    Reference analog: the per-cluster loop in deduplicator.rs:137-170
    iterates exactly these groups; this materializes their size
    distribution in two map-side-combinable aggs, no extra shuffle
    beyond the component key (already the CC output partitioning)."""
    comps = _stages(spark, sf_dir, (DETECTOR_MINHASH,))["components"]
    sizes = comps.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
    )


SQL_CLUSTER_SIZE_HIST = _with(
    [_CTE_CORPUS, _CTE_FEATS, _CTE_SIGS_MINHASH, _CTE_CANDS,
     _CTE_VERIFIED_MINHASH, _CTE_COMPONENTS],
    """
    SELECT cluster_size, count(*)::BIGINT AS n_clusters
    FROM (
        SELECT component, count(*)::BIGINT AS cluster_size
        FROM components GROUP BY component
    )
    GROUP BY cluster_size
    """,
    recursive=True,
)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES = {
    "exact_dedup_survivors": q_exact_dedup_survivors,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidates": q_lsh_candidates,
    "verified_pairs": q_verified_pairs,
    "dedup_components": q_dedup_components,
    "dedup_survivors": q_dedup_survivors,
    "suffix_verified": q_suffix_verified,
    "collision_count": q_collision_count,
    "token_count": q_token_count,
    "token_count_bpe": q_token_count_bpe,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "text_simhash": q_text_simhash,
    "cosine_topk": q_cosine_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "errors_by_kind": q_errors_by_kind,
    "geo_filter": q_geo_filter,
    "jsonl_scan": q_jsonl_scan,
    "counts_distinct": q_counts_distinct,
    "union_sources": q_union_sources,
    "minmax_hash": q_minmax_hash,
    "point_lookup": q_point_lookup,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "dedup_rate_curve": q_dedup_rate_curve,
    "cluster_size_hist": q_cluster_size_hist,
}

ORACLES = {
    "exact_dedup_survivors": SQL_EXACT_DEDUP,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "lsh_candidates": SQL_LSH_CANDIDATES,
    "verified_pairs": SQL_VERIFIED_PAIRS,
    "dedup_components": SQL_DEDUP_COMPONENTS,
    "dedup_survivors": SQL_DEDUP_SURVIVORS,
    "suffix_verified": SQL_SUFFIX_VERIFIED,
    "collision_count": SQL_COLLISION_COUNT,
    "token_count": SQL_TOKEN_COUNT,
    "token_count_bpe": SQL_TOKEN_COUNT_BPE,
    "quality_score": SQL_QUALITY_SCORE,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "text_simhash": SQL_TEXT_SIMHASH,
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "embedding_near_dup_lsh": SQL_EMBEDDING_NEAR_DUP_LSH,
    "errors_by_kind": SQL_ERRORS_BY_KIND,
    "geo_filter": SQL_GEO_FILTER,
    "jsonl_scan": SQL_JSONL_SCAN,
    "counts_distinct": SQL_COUNTS_DISTINCT,
    "union_sources": SQL_UNION_SOURCES,
    "minmax_hash": SQL_MINMAX_HASH,
    "point_lookup": SQL_POINT_LOOKUP,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "dedup_rate_curve": SQL_DEDUP_RATE_CURVE,
    "cluster_size_hist": SQL_CLUSTER_SIZE_HIST,
}
