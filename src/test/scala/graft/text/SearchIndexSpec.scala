package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** On-disk inverted index: bit-equality with the corpus-scan BM25,
  * term-partition pruning reaching the postings scan, and incremental
  * append (two-batch index == one-shot index).
  */
class SearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark shuffles data between join stages"),
    (2L, "a window over a join keeps spark busy with spark internals"),
    (3L, "parquet scans prune columns before the join"),
    (4L, "unrelated prose about rivers and forests"),
    (5L, "spark spark spark window window join"),
    (6L, "short join"),
    (7L, "window dressing and other idioms"),
    (8L, "the join window spark trifecta in one doc")
  ).toDF("doc_id", "text")

  private val terms = Seq("spark", "join", "window")

  test("index-backed query equals bm25TopK bit-for-bit; pruning reaches the scan") {
    val dir = scratch("searchidx")
    SearchIndex.write(docs, "doc_id", "text", dir, numPartitions = 8)
    val viaIndex = SearchIndex.query(spark, dir, terms, k = 10)
    val got = viaIndex.as[(Long, Double, Long)].collect().toSeq
    val want = Search.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty && got.head._1 == 5L, "highest-tf doc must lead")
    val plan = viaIndex.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      "query terms' tb set did not reach the postings scan as a partition filter")
  }

  test("append: two-batch index answers identically to a one-shot index over the union") {
    val a = docs.filter(col("doc_id") <= 4)
    val b = docs.filter(col("doc_id") > 4)
    val dirInc = scratch("searchidx")
    SearchIndex.write(a, "doc_id", "text", dirInc, numPartitions = 8)
    SearchIndex.append(spark, dirInc, b, "doc_id", "text")
    val dirFull = scratch("searchidx")
    SearchIndex.write(docs, "doc_id", "text", dirFull, numPartitions = 8)
    val inc = SearchIndex.query(spark, dirInc, terms, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    val full = SearchIndex.query(spark, dirFull, terms, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(inc == full)
  }

  test("null-text docs are excluded from postings AND stats (bm25TopK parity)") {
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val dir = scratch("searchidx")
    SearchIndex.write(withNull, "doc_id", "text", dir, numPartitions = 4)
    val got = SearchIndex.query(spark, dir, terms, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    val want = Search.bm25TopK(withNull, "doc_id", "text", terms, k = 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == want)
  }
}
