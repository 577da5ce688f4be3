package graft.curation

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ORC boundary adapters: lossless round-trip (incl. nulls, unicode,
  * nested arrays) and pushdown reaching the ORC scan.
  */
class OrcIoSpec extends SparkSpec {
  import spark.implicits._

  test("round trip is lossless for mixed types") {
    val df = Seq(
      (1L, Some("héllo ✓"), Seq(1.5f, -2.25f), Some(3.14)),
      (2L, None, Seq.empty[Float], None),
      (3L, Some("tab\tline\nfeed"), Seq(0f), Some(-0.0)))
      .toDF("id", "txt", "vec", "score")
    val dir = scratch("orc") + "/t"
    CorpusIo.writeOrc(df, dir)
    val back = CorpusIo.readOrc(spark, dir)
    // ORC reads back nullable (like parquet); names and types must match
    assert(back.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
      === df.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq)
    assert(back.orderBy("id").collect().toSeq ===
      df.orderBy("id").collect().toSeq)
  }

  test("filters push down to the ORC scan") {
    val dir = scratch("orcp") + "/t"
    CorpusIo.writeOrc(spark.range(0, 1000).select(
      col("id"), (col("id") % 10).as("k")), dir)
    val q = CorpusIo.readOrc(spark, dir).filter(col("k") === 3L)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [") && scan.contains("EqualTo(k,3"),
      s"expected the k=3 filter pushed to the ORC scan:\n$scan")
    assert(q.count() === 100L)
  }
}
