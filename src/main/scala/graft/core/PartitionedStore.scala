package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Surgical maintenance of `PARTITIONED BY` parquet stores (the
  * on-disk index layout [[graft.dedup.LshIndex]] uses): rewrite ONLY
  * the named partitions, leave every other directory untouched.
  */
object PartitionedStore {

  /** Rewrite the `partCol=v` directories in `parts`, dropping rows
    * whose `keyCol` appears in `ids`: partition-pruned read, broadcast
    * anti-join, survivors to a scratch dir, in-place directory swap.
    * A partition whose rows are all deleted ends up absent — the same
    * on-disk state a fresh build would produce. Partitions not in
    * `parts` are never opened.
    */
  def deleteKeysFromPartitions(
      spark: SparkSession, dir: String, partCol: String,
      parts: Seq[Int], keyCol: String, ids: DataFrame): Unit = {
    if (parts.isEmpty) return
    require(ids.columns.toSeq == Seq(keyCol),
      s"ids frame must be exactly ($keyCol), got ${ids.columns.mkString(",")}")
    val kept = spark.read.parquet(dir)
      .filter(col(partCol).isin(parts.map(Integer.valueOf): _*))
      .join(broadcast(ids), Seq(keyCol), "left_anti")
    rewriteAndSwap(spark, dir, partCol, parts, kept)
  }

  /** Write `rows` (covering exactly the listed partitions) to a
    * scratch dir, then swap the affected `partCol=v` directories in
    * place. A partition with no surviving rows ends up absent.
    *
    * Swap discipline: the live directory is RENAMED ASIDE first (a
    * rename is atomic on HDFS and POSIX), the fresh one renamed in,
    * and only then is the backup deleted — a crash mid-swap leaves
    * either the old or the new directory recoverable, never a silently
    * missing partition, and every rename's return value is checked
    * (Hadoop signals failure by returning false, not throwing).
    * `<dir>__rewrite_bak=v` directories present after a crash are the
    * recovery breadcrumbs; reruns fail loudly on them rather than
    * guessing which side is authoritative.
    */
  private def rewriteAndSwap(
      spark: SparkSession, dir: String, partCol: String,
      parts: Seq[Int], rows: DataFrame): Unit = {
    // Resolve the scratch dirs as true siblings via Path.getParent:
    // splicing "$dir/.." would hand HDFS a path with a ".." component,
    // which DFSUtil.isValidName rejects outright — the swap would fail
    // loudly before any mutation, but on a filesystem the scaladoc
    // promises to support.
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val name = dirPath.getName
    val parent = Option(dirPath.getParent).getOrElse(
      sys.error(s"$dir has no parent directory to stage the swap in"))
    val tmp = new org.apache.hadoop.fs.Path(parent, s"${name}__rewrite_tmp").toString
    val bak = new org.apache.hadoop.fs.Path(parent, s"${name}__rewrite_bak").toString
    rows.write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val bakRoot = new org.apache.hadoop.fs.Path(bak)
    require(!fs.exists(bakRoot),
      s"$bak exists — a previous swap crashed mid-flight; reconcile it " +
        "against the live store before rerunning")
    fs.mkdirs(bakRoot)
    def renameOrFail(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(from, to), s"rename $from -> $to failed")
    parts.foreach { v =>
      val live = new org.apache.hadoop.fs.Path(s"$dir/$partCol=$v")
      val fresh = new org.apache.hadoop.fs.Path(s"$tmp/$partCol=$v")
      val aside = new org.apache.hadoop.fs.Path(s"$bak/$partCol=$v")
      if (fs.exists(live)) renameOrFail(live, aside)
      if (fs.exists(fresh)) renameOrFail(fresh, live)
    }
    fs.delete(bakRoot, true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }
}
