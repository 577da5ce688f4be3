package graft.eth

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The live HTTP endpoint reproduces the reference balances API maps
  * (examples/balances_api/server.py:8-18, fixture of
  * tests/test_balances.py:34-90) over real network round-trips.
  */
class BalancesServerSpec extends SparkSpec {

  private lazy val s_ : org.apache.spark.sql.SparkSession = spark
  import s_.implicits._

  private def emptySource = new ChainSource {
    override def headBlock: Long = 0L
    override def blocks(numbers: Seq[Long]): DataFrame = fail("not used")
    override def traces(numbers: Seq[Long]): DataFrame = fail("not used")
    override def transactions(numbers: Seq[Long]): DataFrame = fail("not used")
    override def events(ranges: Seq[(Long, Long)]): DataFrame = fail("not used")
  }

  private def post(url: String, body: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, out)
  }

  test("POST /balances/ and /token_balances/<token> serve the reference fixture maps") {
    val root = scratch("balsrv")
    val store = new EthStore(spark, root)
    // the test_balances.py transaction fixture (dup-id uncle row -> id 5)
    val itx = Seq(
      ("1", Some("0x1"), Some("0x2"), None: Option[String], 10000L, 0.01, "call", None: Option[String], 1L, 100.0),
      ("2", Some("0x2"), Some("0x1"), None: Option[String], 20000L, 0.02, "call", None: Option[String], 1L, 50.0),
      ("3", Some("0x4"), Some("0x3"), None: Option[String], 30000L, 0.03, "call", None: Option[String], 1L, 10.0),
      ("4", None: Option[String], None: Option[String], Some("0x1"), 0L, 0.0, "reward", Some("block"), 1L, 1.0),
      ("5", None: Option[String], None: Option[String], Some("0x2"), 0L, 0.0, "reward", Some("uncle"), 1L, 0.1))
      .toDF("id", "from", "to", "author", "gasUsed", "gasPrice", "type",
        "rewardType", "blockNumber", "value")
    store.append("internal_transaction", itx, 1L)
    val tt = Seq(
      ("1", "0x1", "0x2", "0x01", 100.0),
      ("2", "0x2", "0x1", "0x01", 500.0),
      ("3", "0x1", "0x2", "0x02", 100.0),
      ("4", "0x4", "0x3", "0x01", 100.0))
      .toDF("id", "from", "to", "token", "value")
    store.append("token_transaction", tt, 1L)

    val server = new BalancesServer(new Cli(store, emptySource), port = 0)
    val port = server.start()
    try {
      val base = s"http://127.0.0.1:$port"

      val (c1, balances) = post(s"$base/balances/", """["0x1", "0x2", "0x3"]""")
      assert(c1 === 200)
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(balances)
      // 50 - 100 + 1 - 100 + (100 + 400 + 900) = 1251
      assert(math.abs(m.get("0x1").asDouble() - 1251.0) < 1e-9)
      assert(m.get("0x2").asDouble() === 0.0) // clamped negative
      assert(math.abs(m.get("0x3").asDouble() - 10.0) < 1e-9)

      val (c2, tokenBal) = post(s"$base/token_balances/0x01", """["0x1", "0x2", "0x3"]""")
      assert(c2 === 200)
      val t = new com.fasterxml.jackson.databind.ObjectMapper().readTree(tokenBal)
      assert(math.abs(t.get("0x1").asDouble() - 400.0) < 1e-9)
      assert(t.get("0x2").asDouble() === 0.0) // clamped: 100 - 500
      assert(math.abs(t.get("0x3").asDouble() - 100.0) < 1e-9)

      // contract errors: non-POST is 405, a non-array body is 400, a
      // missing token segment is 400
      val getConn = URI.create(s"$base/balances/").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(getConn.getResponseCode === 405)
      getConn.disconnect()
      assert(post(s"$base/balances/", """{"not": "an array"}""")._1 === 400)
      assert(post(s"$base/balances/", """not json at all""")._1 === 400)
      assert(post(s"$base/token_balances/", """["0x1"]""")._1 === 400)
    } finally server.stop()
  }

  test("compact CLI command collapses the upsert history, FINAL view unchanged") {
    val root = scratch("clicompact")
    val store = new EthStore(spark, root)
    val cli = new Cli(store, emptySource)
    // two upsert generations of the same key -> two raw rows
    store.append("contract_abi",
      Seq(("0xc1", "[]", false)).toDF("id", "abi", "abi_extracted"), 1L)
    store.append("contract_abi",
      Seq(("0xc1", """[{"type":"function"}]""", true)).toDF("id", "abi", "abi_extracted"), 2L)
    assert(store.read("contract_abi").count() === 2)
    cli.run("compact contract_abi")
    assert(store.read("contract_abi").count() === 1, "history not collapsed")
    val row = store.tableFinal("contract_abi").collect().head
    assert(row.getAs[String]("id") === "0xc1" && row.getAs[Boolean]("abi_extracted"))
  }
}
