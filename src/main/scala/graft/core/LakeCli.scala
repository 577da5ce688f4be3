package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin operator CLI over the table-lifecycle plane — the counterpart
  * of [[graft.curation.TrainCli]] for the versioned-table machinery,
  * so the full lakehouse flow is runnable end-to-end without writing
  * Scala:
  *
  *   snapshot     record the live file set as the next version
  *   versions     list recorded versions
  *   readAsOf     materialize a version to a parquet output
  *   changes      materialize the insert delta between two versions
  *   changeFeed   materialize the row-level change feed (CDC)
  *   restore      re-point the head at an old version (un-DML)
  *   compact      OPTIMIZE the latest version into few files
  *   optimizeZOrder  OPTIMIZE ZORDER BY 2-3 dims (prunable layout)
  *   vacuum       drop old versions + reclaim their files
  *   delete       copy-on-write DELETE by a SQL predicate string
  *   deleteKeys   copy-on-write DELETE by a key-list parquet dir
  *   merge        copy-on-write upsert from an updates parquet dir
  *   mirror       one CDC-apply sync step into a keyed replica
  *   mvRefresh    fold the source's new versions into a standing MV
  *   mvRead       materialize the MV's current state
  *   forget       delete + vacuum in one step (right-to-be-forgotten:
  *                no surviving READABLE version carries the rows)
  *
  * Predicates arrive as SQL expression strings (`"user_id % 7 = 3"`)
  * — the operator's language — parsed by Spark's own parser via
  * `expr`. Every command is deterministic and rerun-safe with the
  * semantics of the API it fronts.
  */
class LakeCli(spark: SparkSession) {

  def snapshot(dir: String): Int = VersionLog.snapshot(spark, dir)

  def versions(dir: String): Seq[Int] = VersionLog.versions(spark, dir)

  def history(dir: String): DataFrame = VersionLog.history(spark, dir)

  def readAsOf(dir: String, version: Int, out: String): Long = {
    val df = VersionLog.readVersion(spark, dir, version)
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  def changes(dir: String, fromV: Int, toV: Int, out: String): Long = {
    val df = VersionLog.readChanges(spark, dir, fromV, toV)
    df.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** Row-level change feed (inserts + deletes across DML/restores). */
  def changeFeed(dir: String, fromV: Int, toV: Int, out: String): Long = {
    VersionLog.readChangeFeed(spark, dir, fromV, toV)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** Re-point the head at an old version (metadata-only un-DML). */
  def restore(dir: String, version: Int): Int =
    VersionLog.restore(spark, dir, version)

  def compact(dir: String, files: Int): Int = {
    val v = VersionLog.compact(spark, dir, files)
    healManifests(dir)
    v
  }

  /** OPTIMIZE ZORDER BY (2 or 3 dimension columns): compaction that
    * re-clusters rows on the Z-curve so zone maps prune the result.
    */
  def optimizeZOrder(dir: String, files: Int, dims: Seq[String]): Int = {
    val v = VersionLog.compactZOrdered(spark, dir, files, dims)
    healManifests(dir)
    v
  }

  /** Copy-on-write DELETE by a key list (a CDC delete batch / takedown
    * id list read from parquet) instead of a predicate.
    */
  def deleteKeys(dir: String, keysIn: String, keys: Seq[String]): (Int, Long) = {
    val r = Dml.deleteMatching(spark, dir, spark.read.parquet(keysIn), keys)
    healManifests(dir)
    r
  }

  /** One keyed-replica sync step (CDC APPLY — see [[Cdc.mirrorOnce]]). */
  def mirror(srcDir: String, targetDir: String, keys: Seq[String]): Option[(Int, Int)] =
    Cdc.mirrorOnce(spark, srcDir, targetDir, keys)

  def vacuum(dir: String, keepLast: Int): (Int, Int) =
    VersionLog.vacuum(spark, dir, keepLast)

  def delete(dir: String, predicateSql: String): (Int, Long) = {
    val r = Dml.deleteWhere(spark, dir, expr(predicateSql))
    healManifests(dir)
    r
  }

  def merge(dir: String, updatesIn: String, keys: Seq[String]): (Int, Long, Long) = {
    val r = Dml.mergeInto(spark, dir, spark.read.parquet(updatesIn), keys)
    healManifests(dir)
    r
  }

  /** Operator ergonomics: any zone-map/bloom manifest on a table this
    * CLI just rewrote is healed incrementally in the same command —
    * ghost rows drop, only the rewritten d/m/c files are scanned — so
    * delete → pruned-read works without a manual rebuild. The core DML
    * APIs stay side-effect-free; the CLI is where the workflow lives.
    */
  private def healManifests(dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.Manifests
      .filter(k => fs.exists(new org.apache.hadoop.fs.Path(s"$dir/${k.dir}")))
      .foreach(Layout.append(spark, _, dir))
  }

  def mvRefresh(srcDir: String, mvDir: String,
      keys: Seq[String], sumCols: Seq[String]): Option[(Int, Int)] =
    Mv.refresh(spark, srcDir, mvDir, keys, sumCols)

  def mvRead(mvDir: String, out: String): Long = {
    Mv.read(spark, mvDir).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).count()
  }

  /** DELETE + VACUUM to the horizon in one step: after it, NO readable
    * version carries the matching rows and their bytes are reclaimed —
    * the takedown shape [[graft.curation.TrainCli.forget]] provides
    * for corpora, applied to a versioned table. Returns rows deleted.
    *
    * A snapshot is taken FIRST: marker-committed ingest batches that no
    * version lists yet (the documented snapshot lag) are folded into
    * the head before the DELETE sees it — without this, matching rows
    * sitting in a lagging `b<N>/` dir would survive the DELETE
    * untouched and silently resurface at the next snapshot. Residual
    * window that remains, stated plainly: a batch whose marker commits
    * AFTER this snapshot (a concurrent live ingest) is not covered —
    * quiesce the ingest stream, or run forget again after it drains.
    */
  def forget(dir: String, predicateSql: String): Long = {
    VersionLog.snapshot(spark, dir)
    val (_, deleted) = Dml.deleteWhere(spark, dir, expr(predicateSql))
    VersionLog.vacuum(spark, dir, keepLast = 1)
    // forget calls Dml directly (not this.delete), so it must heal any
    // manifests itself — AFTER the vacuum, which reclaims the replaced
    // files the heal would otherwise still ghost-list
    healManifests(dir)
    deleted
  }
}
