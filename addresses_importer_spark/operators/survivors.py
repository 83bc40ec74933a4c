"""Stage 5 — survivor selection + loser anti-join.

Graft of the reference's rank-sorted greedy representative pick and
mark-then-apply deletion:

- rank sort within pack, deterministic (rank, id) desc tiebreak:
  deduplicator.rs:157-164  →  row_number over (rank desc, clip_id desc);
- losers into ``_to_delete`` then one bulk DELETE:
  deduplicator.rs:228-241 + db_hashes.rs:306-319  →  losers DataFrame +
  LEFT ANTI join. The two stages stay separate (mark, then apply) so a
  resume can re-run `apply` without re-verifying (SURVEY §2.7 C4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pick_losers(components: DataFrame, ranks: DataFrame) -> DataFrame:
    """(clip_id) rows to delete: every component member that is not its
    component's best (rank desc, clip_id desc) representative.

    ``ranks`` = (clip_id, rank); components = (clip_id, component).
    """
    w = Window.partitionBy("component").orderBy(
        F.desc("rank"), F.desc("clip_id")
    )
    return (
        components.join(ranks, "clip_id", "left")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("clip_id")
    )


def apply_deletions(clips: DataFrame, losers: DataFrame,
                    broadcast: bool = False) -> DataFrame:
    """Survivors = clips LEFT ANTI losers (db_hashes.rs:306-319 analog).

    Clips never seen in any verified edge are untouched — they simply
    aren't in ``losers``.

    broadcast=True pins a broadcast-hash anti-join: the payload side
    (30 KB audio blobs) streams through without ever entering an
    Exchange. Round 1 left this to the planner, which fell back to a
    sort-merge join shuffling the entire payload column whenever losers
    exceeded the 10 MB autoBroadcast threshold — the single biggest
    data movement in the job at scale. Callers gate on the known loser
    row count (pipeline uses the losers stage manifest)."""
    l = losers.select("clip_id")
    if broadcast:
        l = F.broadcast(l)
    return clips.join(l, "clip_id", "left_anti")


def apply_deletions_bucketed(valid: DataFrame, losers: DataFrame,
                             table_name: str, path: str,
                             n_buckets: int) -> DataFrame:
    """Payload-exchange-free anti-join for loser sets too big to
    broadcast: write the valid clips once as a clip_id-bucketed table
    (bucketBy writes shuffle-free — each task splits its rows into its
    own bucket files), then anti-join. The bucketed scan satisfies the
    join's hash distribution, so only the slim loser ids are exchanged;
    payload bytes never cross a shuffle (asserted in tests/test_plans).

    On a production cluster the input Iceberg table would already be
    bucketed by clip_id and this extra materialization disappears; here
    it doubles write volume vs the broadcast path, which is why the
    pipeline only takes this branch above cfg.broadcast_ids_max.
    Reference shape: mark-then-apply, db_hashes.rs:306-319."""
    spark = valid.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (
        valid.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "clip_id").sortBy("clip_id")
        .option("path", path)
        .saveAsTable(table_name)
    )
    bucketed = spark.table(table_name)
    return bucketed.join(losers.select("clip_id"), "clip_id", "left_anti")

