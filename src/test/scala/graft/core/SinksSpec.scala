package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A30 CSV sink, A31 point-read, A32 chunk-sized append. */
class SinksSpec extends SparkSpec {

  test("A30: headered CSV roundtrip") {
    val s = spark
    import s.implicits._
    val df = Seq(("0xa", 1.5), ("0xb", 0.0)).toDF("address", "balance")
    val path = scratch("csvout") + "/balances"
    Sinks.writeCsv(df, path, singleFile = true)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    assert(back.columns.toSeq === Seq("address", "balance"))
    assert(back.orderBy(col("address")).collect().map(_.getDouble(1)).toSeq === Seq(1.5, 0.0))
  }

  test("A32: maxRecordsPerFile chunks the append into multiple files") {
    val s = spark
    import s.implicits._
    val root = scratch("chunkstore")
    val store = new graft.eth.EthStore(spark, root)
    val rows = (1 to 100).map(i => (s"0x$i", "f", 1.toShort))
      .toDF("id", "name", "value")
    store.append("block_flag", rows.coalesce(1), 1L, maxRecordsPerFile = 10L)
    val files = new java.io.File(root + "/block_flag").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 10, s"expected >=10 chunked files, got $files")
    assert(store.tableFinal("block_flag").count() === 100)
  }

  test("compact collapses versions; interrupted swap states recover on read") {
    val s = spark
    import s.implicits._
    val root = scratch("compactstore")
    val store = new graft.eth.EthStore(spark, root)
    def flags(v: Short) = Seq(("0xa", "f", v), ("0xb", "f", v))
      .toDF("id", "name", "value")
    store.append("block_flag", flags(1), 1L)
    store.append("block_flag", flags(2), 2L)
    store.compact("block_flag")
    val rows = store.read("block_flag").collect()
    assert(rows.length === 2) // one row per key after compaction
    assert(rows.forall(_.getAs[Short]("value") === 2.toShort))

    // crash after live -> __old rename but before tmp promotion:
    // the committed compacted copy must be promoted on next read
    val dir = new java.io.File(root + "/block_flag")
    val tmp = new java.io.File(root + "/block_flag__compact")
    val old = new java.io.File(root + "/block_flag__old")
    assert(dir.renameTo(tmp)) // committed copy (has _SUCCESS), table gone
    assert(store.read("block_flag").count() === 2)
    assert(dir.isDirectory && !tmp.exists())

    // crash before cleanup: live table present, stale __old left behind
    java.nio.file.Files.createDirectory(old.toPath)
    assert(store.read("block_flag").count() === 2)
    assert(!old.exists())

    // a dead (uncommitted) compact write is dropped, table untouched
    java.nio.file.Files.createDirectory(tmp.toPath)
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "part-junk.parquet").toPath, "junk")
    assert(store.read("block_flag").count() === 2)
    assert(!tmp.exists())
  }
}
