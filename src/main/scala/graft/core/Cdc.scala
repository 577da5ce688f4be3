package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC APPLY — maintain a keyed DOWNSTREAM REPLICA from a source
  * table's row-level change feed (the "APPLY CHANGES INTO" shape):
  * the replica follows the source through appends, copy-on-write
  * DELETE/MERGE, compactions (skipped no-ops), and restores, paying
  * DELTA-sized work per sync instead of a full re-copy — the only
  * replication shape that survives 100 TB.
  *
  * Key discipline (the same one every CDC apply imposes): the source
  * must be UNIQUE per `keys` — the feed is reduced to the LAST event
  * per key ([[lastEventPerKey]]), postimage winning over the preimage
  * of the same commit, so applying is one MERGE (upserts) + one
  * key-set DELETE. Applying is idempotent: re-applying a feed whose
  * events already landed changes nothing, which pairs with the
  * at-least-once cursor ([[Incremental.runOnceFeed]]) for
  * exactly-once replica effects.
  */
object Cdc {

  /** Reduce a change feed to the LAST event per key: highest
    * `_commit_version` wins; within one commit an insert (postimage)
    * outranks a delete (preimage) — a same-commit delete+insert pair
    * is an UPDATE, and the surviving row is the postimage.
    */
  def lastEventPerKey(feed: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    feed.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Apply a change feed to the replica at `targetDir`. Bootstraps the
    * table when it has no versions yet (upserts land as the base —
    * deletes then target nothing by construction). Returns
    * (upserted, deleted) row counts.
    */
  def applyChangeFeed(spark: SparkSession, feed: DataFrame,
      targetDir: String, keys: Seq[String]): (Long, Long) = {
    // checkpoint (cache + lineage-truncate) the REDUCED feed across the
    // apply: the raw feed is an exceptAll/union pipeline over the
    // source's rewrite files, and the merge + delete legs below run
    // SEVERAL actions each — a plain persist would stop the recompute
    // but every action would still RE-PLAN the full feed lineage
    // (driver-side analysis/optimization per action dominated the
    // measured wall of a mirror sync; ProfileQ r13), so the plan is cut
    // to a flat scan of the cached internal rows
    CacheScope.withReleased {
      val reduced = lastEventPerKey(feed, keys)
      val last = org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
        spark, CacheScope.persistRows(reduced), reduced.schema)
      val upserts = last.filter(col("_change_type") === "insert")
        .drop("_change_type", "_commit_version")
      val deletes = last.filter(col("_change_type") === "delete")
        .select(keys.map(col): _*)
      // ONE action sizes BOTH legs off the checkpointed feed — it
      // replaces the bootstrap's count, the deletes.isEmpty probe, and
      // the merge's batch-sizing/dup-check job (the reduced feed is
      // unique per key by construction — lastEventPerKey keeps exactly
      // the row_number()==1 event)
      val typeCounts = last.groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nUp = typeCounts.getOrElse("insert", 0L)
      val nDel = typeCounts.getOrElse("delete", 0L)
      val hasVersions = VersionLog.versions(spark, targetDir).nonEmpty
      if (!hasVersions) {
        // bootstrap: the first feed IS the table (no deletes can match)
        if (nUp > 0L) {
          // right-size the bootstrap files from the known row count —
          // the replica's file count otherwise inherits the feed plan's
          // partitioning (one part file per shuffle partition for a
          // delta-sized feed), and every later MERGE/DELETE pays per
          // file (guide §6)
          upserts.coalesce(VersionLog.filesFor(nUp))
            .write.mode("overwrite")
            .parquet(VersionLog.rootUriPath(targetDir))
          VersionLog.snapshot(spark, targetDir)
        }
        (nUp, 0L)
      } else if (nUp == 0L) {
        // pure-delete feed: the all-rows-delete guard must stay, so
        // this keeps the guarded key-set DELETE path
        if (nDel == 0L) (0L, 0L)
        else (0L, Dml.deleteMatching(spark, targetDir, deletes, keys)._2)
      } else {
        // upserts + deletes land as ONE copy-on-write rewrite (shared
        // probe, each affected file read+written once — see
        // Dml.mergeApply); upserts are non-empty, so the table cannot
        // empty and the delete leg needs no survivor guard
        val (_, replaced, inserted, deleted) =
          Dml.mergeApply(spark, targetDir, upserts, deletes, keys, nUp)
        (replaced + inserted, deleted)
      }
    }
  }

  /** One standing-replica sync step: consume the source's change feed
    * since the cursor ([[Incremental.runOnceFeed]] — the first run
    * delivers the full head as inserts) and apply it to `targetDir`.
    * Returns the (fromVersion, toVersion) range applied, or None when
    * the replica is already caught up. AT-LEAST-ONCE cursor +
    * idempotent apply = exactly-once replica content.
    */
  def mirrorOnce(spark: SparkSession, srcDir: String, targetDir: String,
      keys: Seq[String]): Option[(Int, Int)] = {
    val cursor = s"$targetDir/${VersionLog.LogDir}/mirror.cursor"
    Incremental.runOnceFeed(spark, srcDir, cursor) { feed =>
      applyChangeFeed(spark, feed, targetDir, keys)
      ()
    }
  }

  /** The replica's current contents. */
  def readMirror(spark: SparkSession, targetDir: String): DataFrame =
    VersionLog.readVersion(spark, targetDir,
      VersionLog.latest(spark, targetDir))

}
