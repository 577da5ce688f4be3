package graft.curation

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** JSONL boundary adapters: lossless round-trip, corrupt-line
  * quarantine (one bad shard must not kill a 100 TB ingestion), and
  * deterministic output field order.
  */
class CorpusIoSpec extends SparkSpec {

  private val schema = StructType.fromDDL(
    "doc_id LONG, text STRING, source STRING")

  test("writeJsonl -> readJsonl round-trips rows losslessly (gzip)") {
    val s = spark
    import s.implicits._
    val root = scratch("jsonl")
    val docs = Seq(
      (1L, "plain text", "web"),
      (2L, "quotes \" and \\ backslashes and\nnewlines", "web"),
      (3L, null.asInstanceOf[String], "wiki"),
      (4L, "unicode éß中", "wiki"))
      .toDF("doc_id", "text", "source")
    CorpusIo.writeJsonl(docs, s"$root/out")
    // gz extension proves the codec applied
    val files = new java.io.File(s"$root/out").listFiles
      .filter(_.getName.endsWith(".gz"))
    assert(files.nonEmpty, "gzip codec must produce .gz parts")
    val back = CorpusIo.readJsonl(spark, s"$root/out", schema, dropCorrupt = true)
    assert(back.orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq)
  }

  test("corrupt lines land in _corrupt, never kill the read, and drop on request") {
    val root = scratch("jsonlbad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/mixed.jsonl"),
      """{"doc_id": 1, "text": "good", "source": "web"}
        |this line is not json at all
        |{"doc_id": 2, "text": "also good", "source": "web"}
        |{"doc_id": "not a long", "text": 7}
        |""".stripMargin)
    val all = CorpusIo.readJsonl(spark, s"$root/mixed.jsonl", schema)
    assert(all.count() === 4)
    // a quarantine flow reads the payload columns alongside _corrupt
    // (Spark disallows projecting ONLY the corrupt column on raw JSON)
    val bad = all.filter(col("_corrupt").isNotNull)
      .select("doc_id", "_corrupt").collect()
    assert(bad.length === 2, "both malformed lines must be quarantined whole")
    assert(bad.forall(r => r.isNullAt(0)), "quarantined rows parse no fields")
    val clean = CorpusIo.readJsonl(spark, s"$root/mixed.jsonl", schema,
      dropCorrupt = true)
    assert(clean.count() === 2)
    assert(clean.columns.toSeq === Seq("doc_id", "text", "source"),
      "quarantine column must not leak into the clean frame")
  }

  test("output field order follows the frame's column order (deterministic interchange)") {
    val s = spark
    import s.implicits._
    val root = scratch("jsonlord")
    CorpusIo.writeJsonl(
      Seq((9L, "t", "src")).toDF("doc_id", "text", "source"),
      s"$root/o", codec = "none")
    val line = spark.read.text(s"$root/o").head().getString(0)
    assert(line === """{"doc_id":9,"text":"t","source":"src"}""")
  }
}
