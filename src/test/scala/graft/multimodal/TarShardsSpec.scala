package graft.multimodal

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** WebDataset tar shards: lossless round-trip, byte determinism,
  * ustar header validity, shard assignment, and parse errors.
  */
class TarShardsSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    ("a1", "hello world", """{"lang":"en"}"""),
    ("b2", "héllo wörld ünïcode ✓", """{"lang":"de"}"""),
    ("c3", "", """{"lang":"xx"}"""), // empty payload
    ("d4", "x" * 10000, """{"lang":"en"}"""),
    ("e5", "tab\tand\nnewline", "{}"))
    .toDF("id", "text", "meta")
    .withColumn("payload", col("text").cast("binary"))

  test("round trip is lossless, including empty and unicode payloads") {
    val dir = scratch("tar") + "/w"
    val summary = TarShards.write(corpus, "id", "payload", "meta", dir, 3)
    assert(summary.agg(sum("n_docs")).collect()(0).getLong(0) === 5L)
    val back = TarShards.read(spark, dir)
      .select(col("id"), col("payload").cast("string").as("text"), col("meta"))
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(back.toSeq === corpus.select("id", "text", "meta")
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
  }

  test("writes are byte-deterministic across runs") {
    val d1 = scratch("tar1") + "/w"
    val d2 = scratch("tar2") + "/w"
    TarShards.write(corpus, "id", "payload", "meta", d1, 2)
    TarShards.write(corpus.orderBy(rand(7)), "id", "payload", "meta", d2, 2)
    def bytes(d: String) = new java.io.File(d).listFiles().filter(_.getName.endsWith(".tar"))
      .sortBy(_.getName)
      .map(f => (f.getName, java.nio.file.Files.readAllBytes(f.toPath).toSeq)).toSeq
    assert(bytes(d1) === bytes(d2))
    assert(bytes(d1).nonEmpty)
  }

  test("ustar headers carry valid magic, checksum, and sizes") {
    val h = TarShards.header("doc-1.bin", 1234L)
    assert(h.length === 512)
    assert(new String(h, 257, 5, StandardCharsets.US_ASCII) === "ustar")
    assert(h(156) === '0'.toByte)
    // recompute the checksum with the field blanked to spaces
    val probe = h.clone()
    java.util.Arrays.fill(probe, 148, 156, ' '.toByte)
    val sum = probe.iterator.map(_ & 0xff).sum
    val stored = Integer.parseInt(
      new String(h, 148, 6, StandardCharsets.US_ASCII), 8)
    assert(stored === sum)
    assert(java.lang.Long.parseLong(
      new String(h, 124, 11, StandardCharsets.US_ASCII), 8) === 1234L)
    // parseTar inverts header+data
    val data = "payload!".getBytes(StandardCharsets.UTF_8)
    val arch = TarShards.header("x.bin", data.length.toLong) ++ data ++
      new Array[Byte](512 - data.length) ++ new Array[Byte](1024)
    val parsed = TarShards.parseTar(arch).map { case (n, d) => (n, d.toSeq) }
    assert(parsed === Seq(("x.bin", data.toSeq)))
  }

  test("bad names and oversize entries are rejected at write time") {
    intercept[IllegalArgumentException] { TarShards.header("", 0L) }
    intercept[IllegalArgumentException] { TarShards.header("a" * 101, 0L) }
    intercept[IllegalArgumentException] { TarShards.header("naïve.bin", 0L) }
    intercept[IllegalArgumentException] { TarShards.header("x", -1L) }
  }

  test("a sample missing its bin entry fails the read loudly") {
    val dir = scratch("tarbad") + "/w"
    new java.io.File(dir).mkdirs()
    val meta = """{"lang":"en"}""".getBytes(StandardCharsets.UTF_8)
    val arch = TarShards.header("orphan.json", meta.length.toLong) ++ meta ++
      new Array[Byte](512 - meta.length) ++ new Array[Byte](1024)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/shard-00000.tar"), arch)
    val e = intercept[Exception] { TarShards.read(spark, dir).collect() }
    assert(e.getMessage != null)
  }

  test("duplicate ids are rejected at write time, not collapsed on read") {
    import spark.implicits._
    val dir = scratch("tardup") + "/w"
    val df = Seq(
      ("a", Array[Byte](1), "{}"),
      ("a", Array[Byte](2), "{}"),
      ("b", Array[Byte](3), "{}")).toDF("id", "payload", "meta")
    val e = intercept[org.apache.spark.SparkException] {
      TarShards.write(df, "id", "payload", "meta", dir, shards = 1)
    }
    assert(e.getMessage.contains("duplicate id") ||
      Option(e.getCause).exists(_.getMessage.contains("duplicate id")))
  }

  test("a foreign tar with repeated entry names fails the read loudly") {
    val dir = scratch("tardup2") + "/w"
    new java.io.File(dir).mkdirs()
    val meta = "{}".getBytes(StandardCharsets.UTF_8)
    val bin = Array[Byte](1, 2, 3)
    def ent(name: String, data: Array[Byte]): Array[Byte] =
      TarShards.header(name, data.length.toLong) ++ data ++
        new Array[Byte]((512 - data.length % 512) % 512)
    val arch = ent("x.json", meta) ++ ent("x.bin", bin) ++
      ent("x.bin", Array[Byte](9)) ++ new Array[Byte](1024)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/shard-00000.tar"), arch)
    val e = intercept[Exception] { TarShards.read(spark, dir).collect() }
    assert(e.getMessage.contains("expected exactly one") ||
      Option(e.getCause).exists(_.getMessage.contains("expected exactly one")))
  }
}
