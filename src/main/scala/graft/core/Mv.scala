package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate MATERIALIZED VIEW over a
  * [[VersionLog]] source — the reference keeps its contract/token-
  * transfer MVs fresh by full recompute (`operations/
  * contract_transactions.py:103-112`); at 100 TB a refresh must cost
  * the DELTA, not the table. Maintains additive aggregates (count +
  * long sums) per key group: each refresh folds ONLY the source's
  * row-level change feed since the last refreshed version — inserts
  * with weight +1, deletes/preimages with weight −1 — so the MV
  * survives compaction (a skipped logical no-op) and copy-on-write
  * DELETE/MERGE on its source, not just appends.
  *
  * EXACTLY-ONCE by the versioned-state discipline
  * ([[VersionLog.markCommitted]]'s, keyed by SOURCE VERSION instead
  * of batch id): state for source version N lands at `v=N/`, the
  * commit marker is written AFTER the state, readers take the highest
  * committed version, and a crash-replay of the same refresh rewrites
  * the same `v=N/` dir idempotently — a delta is never folded twice
  * (where a bare cursor would double-count on replay).
  *
  * Scale shape per refresh: one delta-sized aggregation + one
  * state-sized merge (unionByName + re-aggregate — additive partials
  * re-sum exactly), nothing proportional to the source table.
  */
object Mv {

  /** Source versions with committed MV state, ascending. */
  def committedVersions(spark: SparkSession, mvDir: String): Seq[Int] =
    VersionLog.committed(spark, mvDir).map(_.toInt)

  /** Refresh the MV to the source's latest version. Returns the
    * (fromVersion, toVersion) range folded (from 0 on the first
    * refresh), or None when already fresh.
    */
  def refresh(spark: SparkSession, srcDir: String, mvDir: String,
      keys: Seq[String], sumCols: Seq[String]): Option[(Int, Int)] = {
    require(keys.nonEmpty, "an aggregate MV needs at least one key")
    val latest = VersionLog.latest(spark, srcDir)
    val cur = committedVersions(spark, mvDir).lastOption
    if (cur.contains(latest)) return None
    // the row-level CHANGE FEED, not the insert-only read: compaction
    // versions contribute nothing (skipped inside the feed), and DML
    // versions arrive as signed events — a delete/preimage folds in
    // with weight −1, so the MV survives OPTIMIZE and copy-on-write
    // DELETE/MERGE on its source instead of dying at the first rewrite
    val delta = cur match {
      case Some(v) =>
        try VersionLog.readChangeFeed(spark, srcDir, v, latest)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"MV at $mvDir cannot fold incrementally from source " +
                s"version $v: ${e.getMessage}. If the source was " +
                "vacuumed past it, run Mv.rebuild.", e)
        }
      case None => VersionLog.readVersion(spark, srcDir, latest)
        .withColumn("_change_type", lit("insert"))
    }
    val sgn = when(col("_change_type") === "delete", lit(-1L))
      .otherwise(lit(1L))
    val aggs = sum(sgn).as("n_rows") +:
      sumCols.map(c => sum(sgn * col(c).cast("long")).as(s"${c}__sum"))
    val valCols = "n_rows" +: sumCols.map(c => s"${c}__sum")
    val dAgg = delta.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val merged = (cur match {
      case Some(v) =>
        val state = spark.read.parquet(VersionLog.stateDir(mvDir, v))
        // additive partials re-sum exactly; unionByName keeps the
        // merge one exchange over state + delta, not the source
        state.unionByName(dAgg)
          .groupBy(keys.map(col): _*)
          .agg(sum(col(valCols.head)).as(valCols.head),
            valCols.tail.map(c => sum(col(c)).as(c)): _*)
      case None => dAgg
    // a group whose rows were ALL deleted leaves the MV entirely (the
    // full recompute would not have it) — the filter runs on the
    // MERGED state, never the delta, whose legitimate zero-n_rows
    // partials (an update within a group) must still fold in
    }).filter(col("n_rows") =!= 0L)
    merged.write.mode("overwrite").parquet(VersionLog.stateDir(mvDir, latest))
    VersionLog.markCommitted(spark, mvDir, latest)
    Some((cur.getOrElse(0), latest))
  }

  /** The MV's current contents (highest committed state). */
  def read(spark: SparkSession, mvDir: String): DataFrame = {
    val state = VersionLog.committedState(spark, mvDir)
    require(state.nonEmpty, s"no committed MV state at $mvDir")
    state.get
  }

  /** Rebuild the MV from scratch against the source's LATEST version —
    * the recovery path when the source history was VACUUMED past the
    * MV's refreshed version (the change feed then rightly refuses: its
    * files are gone) or hit an unclassifiable rewrite. All prior state
    * and commits are dropped first.
    */
  def rebuild(spark: SparkSession, srcDir: String, mvDir: String,
      keys: Seq[String], sumCols: Seq[String]): (Int, Int) = {
    val f = new Path(mvDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(mvDir), true)
    refresh(spark, srcDir, mvDir, keys, sumCols)
      .getOrElse(sys.error(s"rebuild of $mvDir found no source version"))
  }

  /** Drop all but the newest `keepLast` committed states (the MV's own
    * vacuum — old states exist only to make replays idempotent and as
    * refresh provenance). `keepLast >= 2` is enforced: the NEWEST
    * commit's crash-replay path re-reads the state UNDER it — pruning
    * to one state would break exactly-once for the marker-loss window.
    */
  def prune(spark: SparkSession, mvDir: String, keepLast: Int = 2): Int = {
    require(keepLast >= 2,
      "keepLast >= 2: the newest commit's replay re-folds from the state " +
        "under it — pruning that state breaks the exactly-once window")
    val vs = committedVersions(spark, mvDir)
    val drop = vs.dropRight(keepLast)
    val f = new Path(mvDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach { v =>
      f.delete(new Path(VersionLog.stateDir(mvDir, v)), true)
      f.delete(VersionLog.commitMarker(mvDir, v), false)
    }
    drop.size
  }
}
