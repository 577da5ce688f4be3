package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cursor-driven incremental processing over a [[VersionLog]] table —
  * the "process only what's new since the last run" orchestration
  * primitive a standing 100 TB corpus is consumed by: each run reads
  * EXACTLY the rows added since the cursor's recorded version (via
  * [[VersionLog.readChanges]] — file-list-diff scan, delta-sized
  * work), hands them to the caller's transform, and advances the
  * cursor only after the transform returns.
  *
  * Delivery contract, stated plainly: AT-LEAST-ONCE. A crash after the
  * transform's effects but before the cursor write reprocesses the
  * same delta on the next run — pair with an idempotent sink (the
  * [[Upsert]] key discipline, [[VersionLog.markCommitted]] markers
  * keyed by the version range, or an overwrite-by-range
  * write) for exactly-once effects. The cursor write itself is
  * [[VersionLog.writeText]], so a reader never sees a torn cursor.
  */
object Incremental {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The cursor's last processed version, if any. */
  def readCursor(spark: SparkSession, cursorPath: String): Option[Int] = {
    val p = new Path(cursorPath)
    val f = fs(spark, cursorPath)
    if (!f.exists(p)) None
    else Some(VersionLog.readText(f, p).trim.toInt)
  }

  // atomic overwrite, never delete-then-rename: a crash between the
  // two would lose the cursor and silently reprocess from scratch
  private def writeCursor(spark: SparkSession, cursorPath: String, v: Int): Unit =
    VersionLog.writeText(spark, new Path(cursorPath), s"$v\n")

  /** Run one incremental step: apply `process` to the rows added since
    * the cursor (the FULL latest version on the first run), then
    * advance the cursor to the latest version. Returns the
    * `(fromVersion, toVersion)` range processed (`fromVersion` 0 on
    * first run), or None when the cursor is already at the latest
    * version — a no-op, `process` is not called.
    */
  def runOnce(spark: SparkSession, dir: String, cursorPath: String)(
      process: DataFrame => Unit): Option[(Int, Int)] =
    cursorStep(spark, dir, cursorPath)(
      VersionLog.readVersion(spark, dir, _),
      (v, latest) =>
        try VersionLog.readChanges(spark, dir, v, latest)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              s"cursor $cursorPath is stuck at source version $v: " +
                s"${e.getMessage}. A DML version needs a row-level " +
                "consumer (Incremental.runOnceFeed); a vacuumed " +
                "source needs an operator decision — reprocess " +
                "(Incremental.reset + a full run) or skip ahead " +
                "(Incremental.reset to the latest version).", e)
        })(process)

  /** [[runOnce]] over the row-level CHANGE FEED: `process` receives
    * inserts AND deletes (tagged `_change_type`/`_commit_version` —
    * see [[VersionLog.readChangeFeed]]), so the consumer survives
    * copy-on-write DELETE/MERGE and restores on its source, not just
    * appends and compactions. Same AT-LEAST-ONCE cursor contract:
    * pair with a sink that applies the signed events idempotently.
    * The first run delivers the full latest version as inserts.
    */
  def runOnceFeed(spark: SparkSession, dir: String, cursorPath: String)(
      process: DataFrame => Unit): Option[(Int, Int)] = {
    import org.apache.spark.sql.functions.lit
    cursorStep(spark, dir, cursorPath)(
      latest => VersionLog.readVersion(spark, dir, latest)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(latest)),
      VersionLog.readChangeFeed(spark, dir, _, _))(process)
  }

  /** The cursor step both runs share: hand `process` the full latest
    * version (`full`, first run) or the delta since the cursor
    * (`delta(cursor, latest)`), then advance the cursor to the latest
    * version. None, with `process` not called, when already caught up.
    */
  private def cursorStep(spark: SparkSession, dir: String, cursorPath: String)(
      full: Int => DataFrame, delta: (Int, Int) => DataFrame)(
      process: DataFrame => Unit): Option[(Int, Int)] = {
    val latest = VersionLog.latest(spark, dir)
    val cursor = readCursor(spark, cursorPath)
    if (cursor.exists(_ >= latest)) None
    else {
      process(cursor.fold(full(latest))(delta(_, latest)))
      writeCursor(spark, cursorPath, latest)
      Some((cursor.getOrElse(0), latest))
    }
  }

  /** Explicit cursor override — the OPERATOR-decided recovery when the
    * source history was rewritten past the cursor (see [[runOnce]]'s
    * error): reset to 0 (delete) to reprocess from the latest full
    * version, or pin to a known-processed version to skip ahead. Never
    * called automatically: both directions change delivery semantics.
    */
  def reset(spark: SparkSession, cursorPath: String,
      toVersion: Option[Int]): Unit = toVersion match {
    case Some(v) => writeCursor(spark, cursorPath, v)
    case None =>
      val p = new Path(cursorPath)
      fs(spark, cursorPath).delete(p, false)
      ()
  }
}
