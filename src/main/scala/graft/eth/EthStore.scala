package graft.eth

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Upsert

/** Parquet-backed table store modelling the reference's ClickHouse
  * layout: every table is an append log with an `_seq` ingest-version
  * column; reads go through the FINAL dedup view (`tableFinal`) exactly
  * like the reference injects FINAL into every SELECT
  * (/root/reference/clients/custom_clickhouse.py:34-35).
  *
  * Scale notes: tables are written partitioned by a blockNumber bucket
  * (`_block_bucket = blockNumber div 100000`) when the column exists, so
  * range predicates prune parquet partitions; the dedup window shuffles
  * on the primary key only. A periodic `compact` rewrite keeps the
  * per-read dedup cheap.
  */
class EthStore(val spark: SparkSession, val root: String) {

  private val schemas: Map[String, StructType] = Map(
    "block" -> Schemas.block,
    "internal_transaction" -> Schemas.internalTransaction,
    "block_flag" -> Schemas.blockFlag,
    "contract_abi" -> Schemas.contractAbi,
    "contract_block" -> Schemas.contractBlock,
    "event" -> Schemas.event,
    "transaction_input" -> Schemas.decodedInput,
    "event_input" -> Schemas.decodedInput,
    "price" -> Schemas.price,
    "contract_description" -> Schemas.contractDescription,
    "contract" -> Schemas.contract,
    "token_transaction" -> Schemas.tokenTransaction)

  /** Composite primary keys (operations/indices.py:7-10); everything
    * else dedups on `id`.
    */
  private val primaryKeys: Map[String, Seq[String]] = Map(
    "block_flag" -> Seq("id", "name"),
    "contract_block" -> Seq("id", "name"))

  def keysOf(table: String): Seq[String] =
    primaryKeys.getOrElse(table, Seq("id"))

  def path(table: String): String = s"$root/$table"

  /** All store metadata IO goes through the Hadoop FileSystem resolved
    * from `root`'s scheme, so the exists/compact plumbing works
    * identically on file:, hdfs: and s3a: roots — java.io.File would
    * silently no-op everywhere but a local disk.
    */
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tablePath(table: String): Path = new Path(path(table))

  private def emptyWithSeq(table: String): DataFrame = {
    val schema = schemas(table).add("_seq", org.apache.spark.sql.types.LongType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def existsOnDisk(table: String): Boolean = {
    recoverCompact(table)
    val dir = tablePath(table)
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val name = st.getPath.getName
      name.endsWith(".parquet") || name.startsWith("_block_bucket=")
    }
  }

  /** Raw append log (with `_seq`). Missing table reads as empty. */
  def read(table: String): DataFrame =
    if (existsOnDisk(table)) spark.read.parquet(path(table))
    else emptyWithSeq(table)

  /** FINAL view: one (latest-_seq) row per primary key. */
  def tableFinal(table: String): DataFrame =
    Upsert.latestById(read(table), keysOf(table), Seq(col("_seq")))

  /** Schema-policed append (ingestion drops extra columns, fills
    * missing with NULL — custom_clickhouse._filter_schema analog).
    * A32 bulk upsert sink; `maxRecordsPerFile` is the insert chunk
    * sizing (MAX_CHUNK_SIZE, config.py:42) analog.
    */
  def append(table: String, df: DataFrame, seq: Long,
      maxRecordsPerFile: Long = 0L): Unit = {
    val conformed = Schemas.conform(df, schemas(table))
      .withColumn("_seq", lit(seq))
    val writer0 =
      if (conformed.columns.contains("blockNumber"))
        conformed
          .withColumn("_block_bucket", (col("blockNumber") / 100000).cast("long"))
          .write.partitionBy("_block_bucket")
      else conformed.write
    val writer =
      if (maxRecordsPerFile > 0)
        writer0.option("maxRecordsPerFile", maxRecordsPerFile)
      else writer0
    writer.mode("append").parquet(path(table))
  }

  /** Derived-table overwrite (MV recompute). */
  def overwrite(table: String, df: DataFrame, seq: Long): Unit = {
    val conformed = Schemas.conform(df, schemas(table)).withColumn("_seq", lit(seq))
    conformed.write.mode("overwrite").parquet(path(table))
  }

  private def compactTmpPath(table: String) = new Path(path(table) + "__compact")
  private def compactOldPath(table: String) = new Path(path(table) + "__old")

  /** Finish an interrupted [[compact]]. The swap sequence leaves at most
    * one of these states behind:
    *   - `table__compact` has a `_SUCCESS` and `table` is gone → the
    *     swap died between the two renames; promote the compacted copy.
    *   - `table__old` exists and `table` exists → died before cleanup;
    *     the live table is already the compacted one, drop `__old`.
    *   - `table__compact` without `_SUCCESS` → a dead write; drop it.
    * At no point is the only full copy of the table deleted before the
    * replacement is committed (`_SUCCESS` present).
    */
  private def recoverCompact(table: String): Unit = {
    val tmp = compactTmpPath(table)
    val old = compactOldPath(table)
    if (fs.exists(tmp)) {
      val committed = fs.exists(new Path(tmp, "_SUCCESS"))
      if (committed && !fs.exists(tablePath(table))) fs.rename(tmp, tablePath(table))
      else if (!committed) fs.delete(tmp, true)
      // committed but table exists: compact re-ran and will finish the swap
    }
    if (fs.exists(old) && fs.exists(tablePath(table))) fs.delete(old, true)
    else if (fs.exists(old) && !fs.exists(tablePath(table))) fs.rename(old, tablePath(table))
  }

  /** Compaction: rewrite a table to one row per key (keeps FINAL reads
    * cheap; run periodically at scale).
    *
    * Crash-safe ordering: write the compacted copy aside (its
    * `_SUCCESS` is the commit point), rename live → `__old`, rename
    * compacted → live, drop `__old`. A crash at any step leaves a full
    * copy recoverable by [[recoverCompact]], which runs before every
    * read. Renames are atomic on HDFS-like stores; on object stores
    * they're copies, so the commit marker still bounds the damage to
    * "retry the swap", never data loss.
    */
  def compact(table: String): Unit = {
    val compacted = tableFinal(table)
    val tmp = compactTmpPath(table)
    compacted.write.mode("overwrite").parquet(tmp.toString)
    val old = compactOldPath(table)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(tablePath(table))) fs.rename(tablePath(table), old)
    fs.rename(tmp, tablePath(table))
    fs.delete(old, true)
  }
}
