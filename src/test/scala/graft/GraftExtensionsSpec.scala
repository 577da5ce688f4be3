package graft

import org.apache.spark.sql.functions._

import graft.text.TextFunctions

class GraftExtensionsSpec extends SparkSpec {

  private lazy val sql = { GraftExtensions.registerAll(spark); spark }

  test("custom Catalyst expressions are callable from SQL") {
    val r = sql.sql(
      """SELECT
           uint256_lo128('0000000000000000000000000000000000000000000000000de0b6b3a7640000', 18) AS one_ether,
           hex_be_to_long('ff00') AS be,
           array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
           z_interleave(3L, 1L) AS zv,
           array_dot(array(1.0d, 2.0d), array(3.0d)) AS dot_short,
           array_dot(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d)) AS dot_null""").head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getLong(1) === 0xff00L)
    assert(r.getDouble(2) === 11.0)
    // x=0b11 on even bits (1|4), y=0b1 on odd bit 1 (2) -> 7
    assert(r.getLong(3) === 7L)
    // unequal lengths or a null slot: NULL, like the zip_with fold
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("sketch kernels take literal width arguments and reject non-literals") {
    val r = sql.sql(
      "SELECT shingles('a b c d', 3) AS sh, simhash60(shingles('a b c d', 3)) AS sim").head()
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    // same value as the Scala API path
    val viaApi = sql.range(1).select(
      graft.functions.SketchFunctions.simhash60(TextFunctions.shingles(lit("a b c d"), 3)))
      .head().getLong(0)
    assert(r.getLong(1) === viaApi)
    val err = intercept[Exception](sql.sql("SELECT shingles('a b', id + 1) FROM range(1)").collect())
    assert(err.getMessage.toLowerCase.contains("literal"))
    // scrub_lines takes a literal separator and drops listed positions
    val sl = sql.sql(
      "SELECT scrub_lines('keep\none\nkeep', array(2L), '\n') AS r").head().getStruct(0)
    assert(sl.getString(0) === "keep\nkeep" && sl.getLong(1) === 3L && sl.getLong(2) === 1L)
  }

  test("column compositions (text analysis, sample key) match the Scala API") {
    val got = sql.sql(
      """SELECT lang_id('the cat of the house') AS lang,
                quality_score('the cat of the house') AS q,
                token_count_ws('the cat of the house') AS wc,
                hash_sample_key('doc-1') AS k""").head()
    assert(sql.sql("SELECT pii_redact('mail a@b.co now') AS r").head().getString(0)
      === "mail <EMAIL> now")
    val api = sql.range(1).select(
      TextFunctions.langId(lit("the cat of the house")),
      TextFunctions.qualityScore(lit("the cat of the house")),
      TextFunctions.tokenCountWs(lit("the cat of the house")),
      graft.curation.Curation.hashSampleKey(lit("doc-1"))).head()
    assert(got.getString(0) === api.getString(0))
    assert(got.getDouble(1) === api.getDouble(1))
    assert(got.getInt(2) === api.getInt(2))
    assert(got.getLong(3) === api.getLong(3))
  }

  test("config-based injection path covers the same registrations") {
    // the extensions class delegates to the identical builder list the
    // imperative path uses; assert it wires them all
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val names = GraftExtensions.registrations.map(_._1.funcName)
    assert(names.distinct.size === names.size)
    assert(names.contains("uint256_lo128") && names.contains("hash_sample_key"))
  }

  test("misra_gries / canonicalize_url / url_host are SQL-callable and match the Scala API") {
    GraftExtensions.registerAll(spark)
    val s = spark
    import s.implicits._
    Seq("a", "a", "b", "a").toDF("tok").createOrReplaceTempView("hhtoks")
    val hh = spark.sql(
      "SELECT misra_gries(tok, 8) AS hh FROM hhtoks").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r => (r.getString(0), r.getLong(1))) === Seq(("a", 3L), ("b", 1L)))
    val u = spark.sql(
      """SELECT canonicalize_url('https://WWW.Example.COM/P?utm_source=x&id=1#f') AS c,
                url_host('https://WWW.Example.COM/P') AS h""").head()
    assert(u.getString(0) === "https://example.com/P?id=1")
    assert(u.getString(1) === "example.com")
  }

  test("bloom_agg is SQL-callable and matches the Scala API bits") {
    GraftExtensions.registerAll(spark)
    val s = spark
    import s.implicits._
    (0L until 100L).map(Tuple1(_)).toDF("id").createOrReplaceTempView("bloomids")
    val viaSql = spark.sql(
      "SELECT bloom_agg(id, 200, 0.01) AS b FROM bloomids").head()
      .getAs[Array[Byte]](0)
    val viaApi = spark.table("bloomids")
      .agg(graft.functions.AggregateFunctions.bloomAgg(
        org.apache.spark.sql.functions.col("id"), 200L, 0.01))
      .head().getAs[Array[Byte]](0)
    assert(viaSql.toSeq === viaApi.toSeq)
    val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(viaSql))
    assert((0L until 100L).forall(i => bloom.mightContainString(i.toString)),
      "no false negatives")
  }

  test("nfc_normalize composes combining marks; strip_accents folds them away") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      "SELECT nfc_normalize('é') AS n, strip_accents('éüño') AS s")
      .head()
    assert(r.getString(0) === "é", "e + U+0301 must compose to U+00E9")
    assert(r.getString(1) === "euno")
    // idempotent on plain ASCII
    val plain = spark.sql("SELECT nfc_normalize('plain'), strip_accents('plain')").head()
    assert(plain.getString(0) === "plain" && plain.getString(1) === "plain")
  }

  test("gopher_stats from SQL matches the Scala API struct") {
    GraftExtensions.registerAll(spark)
    val s = spark
    import s.implicits._
    Seq(("the quick brown fox of the land and more words here", 1))
      .toDF("text", "one").createOrReplaceTempView("gdocs")
    val sql = spark.sql(
      "SELECT gopher_stats(text).word_count AS wc, gopher_stats(text).pass AS p FROM gdocs")
      .head()
    val api = Seq(("the quick brown fox of the land and more words here", 1))
      .toDF("text", "one")
      .select(TextFunctions.gopherStats(col("text")).as("g"))
      .select(col("g.word_count"), col("g.pass")).head()
    assert(sql.getLong(0) === api.getLong(0))
    assert(sql.getBoolean(1) === api.getBoolean(1))
  }

  test("cms_sketch / multi_contains are SQL-callable and match the Scala API") {
    val s = spark
    import s.implicits._
    Seq((1L, "spark joins data"), (2L, "spark again"), (3L, "plain prose"))
      .toDF("id", "text").createOrReplaceTempView("cdocs")
    val sqlCms = spark.sql(
      "SELECT cms_sketch(text, 2, 8) AS c FROM cdocs").head().getSeq[Long](0)
    val apiCms = spark.table("cdocs")
      .agg(graft.functions.CmsFunctions.cmsSketch(col("text"), 2, 8).as("c"))
      .head().getSeq[Long](0)
    assert(sqlCms === apiCms && sqlCms.sum === 6L) // 3 rows × 2 depth rows
    val sqlMc = spark.sql(
      "SELECT id, multi_contains(text, 'spark', 'prose') AS m FROM cdocs ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(sqlMc === Map(1L -> Seq(0), 2L -> Seq(0), 3L -> Seq(1)))
    // non-literal pattern rejected at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT multi_contains(text, text) FROM cdocs").collect()
    }
    assert(e.getMessage.contains("literal"))
  }
}
