package graft.eth

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Grafana panel SQL + the notebook gas-stats frame over a
  * hand-computed mini-chain.
  */
class DashboardsSpec extends SparkSpec {

  private lazy val s_ : org.apache.spark.sql.SparkSession = spark
  import s_.implicits._

  // blocks 1..4: 1-3 on Jan 1, 4 on Jan 2
  private lazy val blocks = Seq(
    (1L, "2020-01-01 10:00:00"), (2L, "2020-01-01 11:00:00"),
    (3L, "2020-01-01 12:00:00"), (4L, "2020-01-02 10:00:00"))
    .toDF("number", "t").select(col("number"), col("t").cast("timestamp").as("timestamp"))

  // itx: transfers + reward + contract call; block 4 outside window
  private lazy val itx = Seq(
    // (id, blockNumber, from, to, value, type, author, gasUsed, gasPrice)
    ("0xt1.0", 1L, "0xa", "0xb", 5.0, "call", null, 21000L, 2e-9),
    ("0xt2.0", 2L, "0xa", "0xc0ffee", 1.0, "call", null, 50000L, 4e-9),
    ("0xt3.0", 3L, "0xb", "0xa", 2.0, "call", null, 21000L, 6e-9),
    ("0xt3.1", 3L, "0xb", "0xa", 0.5, "call", null, 21000L, 6e-9), // non-first trace
    ("0xb3.0", 3L, null, null, 3.0, "reward", "0xminer", null, null),
    ("0xt4.0", 4L, "0xa", "0xb", 9.0, "call", null, 21000L, 8e-9))
    .map { case (id, bn, f, t, v, tp, au, gu, gp) =>
      (id, bn, f, t, v, tp, au,
        Option(gu).map(_.asInstanceOf[Long]), Option(gp).map(_.asInstanceOf[Double]))
    }
    .toDF("id", "blockNumber", "from", "to", "value", "type", "author", "gasUsed", "gasPrice")

  private lazy val contracts = Seq(("0xc0ffee", 2L)).toDF("address", "blockNumber")

  private lazy val tokenTx = Seq(
    ("0xh1", 1L, "0xa", "0xb", "0xtok1"),
    ("0xh2", 2L, "0xa", "0xc", "0xtok1"),
    ("0xh3", 3L, "0xb", "0xc", "0xtok2"),
    ("0xh4", 4L, "0xc", "0xa", "0xtok2")) // outside window
    .toDF("id", "blockNumber", "from", "to", "token")

  private lazy val descriptions = Seq(
    ("0xtok1", "Token One"), ("0xtok2", "Token Two"))
    .toDF("id", "token_name")

  /** Every emitted panel query, run on fixture views with the Grafana
    * macros substituted (window = Jan 1, blocks 1-3), keyed by title.
    */
  private lazy val results: Map[String, Array[Row]] = {
    blocks.createOrReplaceTempView("block")
    itx.createOrReplaceTempView("internal_transaction")
    contracts.withColumn("standard_erc20", lit(1))
      .createOrReplaceTempView("contract")
    tokenTx.createOrReplaceTempView("token_transaction")
    descriptions.createOrReplaceTempView("contract_description")
    Seq(("0xc0ffee", "[]")).toDF("id", "abi").createOrReplaceTempView("contract_abi")
    Seq(("0xe1", 1L)).toDF("id", "blockNumber").createOrReplaceTempView("event")
    Seq(("0xt1.0", "transfer")).toDF("id", "name")
      .createOrReplaceTempView("transaction_input")
    Seq(("0xe1", "Transfer")).toDF("id", "name")
      .createOrReplaceTempView("event_input")
    val timeFilter = "timestamp >= timestamp'2020-01-01 00:00:00' AND " +
      "timestamp < timestamp'2020-01-02 00:00:00'"
    DashboardArtifacts.all.flatMap(_.panels).map { p =>
      val sql = p.query
        .replace("$timeSeries", "date_trunc('HOUR', timestamp)")
        .replace("$timeFilter", timeFilter)
      p.title -> spark.sql(sql).collect()
    }.toMap
  }

  test("window semi-join restricts panels to the picked range") {
    assert(results("Actual block").head.getLong(0) === 3L)
    assert(results("Ethereum transfers").head.getLong(0) === 5L)
    assert(results("Ethereum transferred").head.getDouble(0) === 11.5)
    assert(results("Smart Contracts Created").head.getLong(0) === 1L)
    assert(results("Smart Contracts Called").head.getLong(0) === 1L)
  }

  test("top-10 panels aggregate and rank correctly") {
    val recv = results("TOP Ethereum Receivers")
    assert(recv.head.getString(0) === "0xb" && recv.head.getDouble(1) === 5.0)
    // senders in window: 0xa 5 + 1, the reward row's null sender 3,
    // 0xb 2 + 0.5
    assert(results("TOP Ethereum Senders").toSeq.map(r => (r.getString(0), r.getDouble(1)))
      === Seq(("0xa", 6.0), (null, 3.0), ("0xb", 2.5)))
    val miners = results("TOP Miners").head
    assert(miners.getString(0) === "0xminer" && miners.getDouble(1) === 1.0)
    val gas = results("Top Gas Burners (Contracts)").head
    assert(gas.getString(0) === "0xc0ffee") // 50000*4e-9 highest avg
    val called = results("TOP Contracts").head
    assert(called.getString(0) === "0xc0ffee" && called.getDouble(1) === 1.0)
    // the one in-window contract call: t2, 0xa -> 0xc0ffee
    assert(results("TOP Contract Callers").toSeq.map(r => (r.getString(0), r.getDouble(1)))
      === Seq(("0xa", 1.0)))
    assert(results("Gas Usage").map(r => r.getDouble(1)).toSeq === Seq(3.0, 1.0))
  }

  test("token panels: holders with name join, unique tokens") {
    assert(results("ERC20 Transactions").head.getDouble(0) === 3.0)
    val top = results("TOP Tokens").map(r => r.getString(0) -> r).toMap
    assert(top("0xtok1").getString(1) === "Token One")
    assert(top("0xtok1").getDouble(2) === 2.0) // b, c
    assert(top("0xtok2").getDouble(2) === 1.0) // c; h4 is outside the window
    val uniq = results("TOP Token Holders")
    assert(uniq.head.getString(0) === "0xa" || uniq.head.getString(0) === "0xb")
    assert(results("ERC20 transactions").head.getLong(0) === 3L)
  }

  test("dashboard artifacts cover the reference panel sets and their SQL runs") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods._

    val dir = scratch("grafana")
    val written = DashboardArtifacts.writeAll(dir)
    assert(written.size === 4) // 3 dashboards + datasource stub

    // the reference's exact panel sets (grafana/dashboards/*.json)
    val expected = Map(
      "ethereum" -> Seq(
        "Ethereum transfers" -> "singlestat",
        "Ethereum transferred" -> "singlestat",
        "Smart Contracts Created" -> "singlestat",
        "Smart Contracts Called" -> "singlestat",
        "TOP Ethereum Senders" -> "table",
        "TOP Ethereum Receivers" -> "table",
        "Ethereum Transfers" -> "graph",
        "TOP Contracts" -> "table",
        "TOP Contract Callers" -> "table",
        "Top Gas Burners (Contracts)" -> "table",
        "Gas Usage" -> "graph",
        "TOP Miners" -> "table"),
      "erc20_tokens" -> Seq(
        "ERC20 Tokens" -> "singlestat",
        "ERC20 Transactions" -> "singlestat",
        "TOP Token Holders" -> "table",
        "TOP Tokens" -> "table"),
      "insights" -> Seq(
        "Actual block" -> "singlestat",
        "Contracts" -> "singlestat",
        "ERC20 Tokens" -> "singlestat",
        "ERC20 token descriptions" -> "singlestat",
        "Contract ABIs" -> "singlestat",
        "Total transactions" -> "singlestat",
        "Total events" -> "singlestat",
        "ERC20 transactions" -> "singlestat",
        "Inputs for transactions" -> "singlestat",
        "Inputs for events" -> "singlestat"))

    val parsed = expected.keys.map { slug =>
      val json = parse(new java.io.File(s"$dir/dashboards/$slug.json"))
      val panels = for {
        JObject(row) <- json \ "dashboard" \ "rows"
        ("panels", JArray(ps)) <- row
        p <- ps
      } yield p
      slug -> panels
    }.toMap
    expected.foreach { case (slug, want) =>
      val got = parsed(slug).map(p =>
        (p \ "title", p \ "type") match {
          case (JString(t), JString(ty)) => t -> ty
          case other => fail(s"bad panel in $slug: $other")
        })
      assert(got === want, s"$slug panel set diverges from the reference")
    }

    // every emitted query is valid Spark SQL over the FINAL views
    assert(results.keySet === expected.values.flatten.map(_._1).toSet)
    assert(results("TOP Miners").head.getString(0) === "0xminer")
    assert(results("Inputs for events").head.getLong(0) === 1L)
  }

  test("gasStats: first-trace wallet calls only, gwei quantiles, timestamp join") {
    // bucket=1 so bucket keys align with existing block numbers (the
    // notebook's 1000-block buckets rely on chain length >> bucket)
    val stats = Dashboards.gasStats(itx, contracts, blocks, bucket = 1)
      .collect()
    // qualifying rows: t1 (2 gwei), t3.0 (6 gwei), t4.0 (8 gwei);
    // t2 is to-contract, t3.1 is not a first trace, reward has no price
    assert(stats.length === 3)
    assert(stats.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
    assert(stats.map(_.getDouble(1)).toSeq === Seq(2.0, 6.0, 8.0))
    assert(stats.map(_.getDouble(2)).toSeq === Seq(2.0, 6.0, 8.0))
    assert(stats.forall(!_.isNullAt(3))) // timestamps attached
  }
}
