package graft.eth


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** extractor.py-equivalent command surface end-to-end: start-full over
  * a fixture chain with fixture ABI/eth_call adapters populates every
  * table the reference's start-full populates.
  */
class CliSpec extends SparkSpec {

  private lazy val s_ : org.apache.spark.sql.SparkSession = spark
  import s_.implicits._

  private val erc20Code = "0x6060" + Selectors.erc20.values.mkString

  private val traceSchema = StructType(Seq(
    StructField("blockNumber", LongType),
    StructField("transactionHash", StringType),
    StructField("blockHash", StringType),
    StructField("type", StringType),
    StructField("error", StringType),
    StructField("traceAddress", ArrayType(IntegerType, containsNull = false)),
    StructField("action", StructType(Seq(
      StructField("from", StringType),
      StructField("to", StringType),
      StructField("value", StringType)))),
    StructField("result", StructType(Seq(
      StructField("gasUsed", StringType),
      StructField("code", StringType),
      StructField("address", StringType))))))

  private def fixtureSource = new ChainSource {
    override def headBlock: Long = 1L
    override def blocks(numbers: Seq[Long]): DataFrame =
      numbers.toDF("number").select(col("number"),
        to_timestamp(lit("2020-01-01 00:00:00")).as("timestamp"))
    override def traces(numbers: Seq[Long]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(1L, "0xt1", "0xb1", "create", null, Seq.empty[Int],
          Row("0xa", null, "0x0"), Row("0x5208", erc20Code, "0xc0ffee")))),
        traceSchema).filter(col("blockNumber").isin(numbers: _*))
    override def transactions(numbers: Seq[Long]): DataFrame =
      Seq(("0xt1", "0xb1", "0x3b9aca00")).toDF("transactionHash", "blockHash", "gasPrice")
    override def events(ranges: Seq[(Long, Long)]): DataFrame =
      Seq((1L, "0xt1", "0xb1", "0xC0FFEE", "0x0",
        Seq(DerivedViews.TransferTopic, "0x" + "%064x".format(0xa), "0x" + "%064x".format(0xb)),
        "0x" + "%064x".format(BigInt(10).pow(17))))
        .toDF("blockNumber", "transactionHash", "blockHash", "address",
          "transactionLogIndex", "topics", "data")
  }

  test("start-full populates blocks, traces, events, MVs, descriptions, ABIs, inputs") {
    val root = scratch("clistore")
    val store = new EthStore(spark, root)

    AdapterCallCounters.reset()
    val abiSource = new AbiSource {
      override def fetchAbi(a: String): Option[String] = {
        AdapterCallCounters.abiFetches.incrementAndGet()
        Some("""[{"type":"event","name":"Transfer","inputs":[
                {"name":"from","type":"address"},{"name":"to","type":"address"},
                {"name":"value","type":"uint256"}]}]""")
      }
    }
    val sel = "0x" + Abi.methodId("decimals", Seq.empty)
    val callSource = new EthCallSource {
      override def ethCall(to: String, data: String): Option[String] = {
        AdapterCallCounters.ethCalls.incrementAndGet()
        if (data == sel) Some("0x" + "%064x".format(17)) else None
      }
    }
    val tokens = Seq(("0xc0ffee", "cool-token", "42"))
      .toDF("address", "website_slug", "cmc_id")

    // 6 daily closes for the one ERC-20; average = close until the
    // 5-point window fills, trailing mean after (token_prices.py:79-102)
    val priceSource = new PriceSource {
      override def histoDay(address: String, days: Int): Option[Seq[(Long, Double)]] = {
        AdapterCallCounters.priceFetches.incrementAndGet()
        if (address == "0xc0ffee")
          Some((0 to 5).map(d => (d * 86400L, (d + 1) * 10.0)))
        else None
      }
    }

    val cli = new Cli(store, fixtureSource,
      abiSource = Some(abiSource), ethCallSource = Some(callSource),
      tokensMetadata = Some(tokens), priceSource = Some(priceSource))
    cli.run("start-full")

    assert(store.tableFinal("block").count() === 2) // 0 and 1
    assert(store.tableFinal("contract").count() === 1)
    val desc = store.tableFinal("contract_description").head()
    assert(desc.getAs[String]("id") === "0xc0ffee")
    assert(desc.getAs[Short]("decimals") === 17.toShort)
    assert(desc.getAs[String]("website_slug") === "cool-token")
    assert(store.tableFinal("contract_abi")
      .filter(col("abi").isNotNull).count() === 1)
    // each adapter ran its network fan-out exactly once: 1 contract =
    // 1 ABI fetch, 5 eth_call probes (name/symbol/decimals/supply/owner);
    // before the persist fix the append + returned count ran them twice
    assert(AdapterCallCounters.abiFetches.get() === 1)
    assert(AdapterCallCounters.ethCalls.get() === 5)
    // download-prices populated the price table: one row per day with
    // the reference's id convention and moving-average warm-up
    assert(AdapterCallCounters.priceFetches.get() === 1)
    val prices = store.tableFinal("price").orderBy(col("timestamp"))
      .collect()
    assert(prices.length === 6)
    assert(prices.head.getAs[String]("id") === "0xc0ffee_1970-01-01")
    assert(prices.map(_.getAs[Double]("BTC")).toSeq ===
      Seq(10.0, 20.0, 30.0, 40.0, 30.0, 40.0)) // warm-up then 5-pt mean
    // second run is idempotent and re-probes nothing
    cli.run("start-full")
    assert(store.tableFinal("contract_description").count() === 1)
    assert(AdapterCallCounters.abiFetches.get() === 1) // still once
    assert(AdapterCallCounters.ethCalls.get() === 5)
    // prices refetch the gap (the reference refetches since the last
    // timestamp) but the upsert keeps one row per (address, day)
    assert(store.tableFinal("price").count() === 6)
    // the event input decodes through the downloaded ABI on re-run
    assert(store.tableFinal("event_input")
      .filter(col("name") === "Transfer").count() === 1)
    // unknown command fails loudly
    intercept[IllegalArgumentException](cli.run("bogus"))
  }

  test("balances serving commands reproduce the reference API maps") {
    // the exact fixture of examples/balances_api/tests/test_balances.py
    // :34-90 (the duplicate-id uncle row gets id 5 — the reference's
    // plain MergeTree test table keeps dup ids; our FINAL view dedups)
    val root = scratch("clibal")
    val store = new EthStore(spark, root)
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
    val cli = new Cli(store, fixtureSource)

    // component maps: test_get_income/outcome/reward/fee/fee_reward
    val comps = Balances.balanceComponents(spark,
        store.tableFinal("internal_transaction"), Seq("0x1", "0x2"))
      .collect().map(r => r.getString(0) -> r).toMap
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(near(comps("0x1").getAs[Double]("income"), 50.0))
    assert(near(comps("0x2").getAs[Double]("income"), 100.0))
    assert(near(comps("0x1").getAs[Double]("outcome"), 100.0))
    assert(near(comps("0x2").getAs[Double]("outcome"), 50.0))
    assert(near(comps("0x1").getAs[Double]("reward"), 1.0))
    assert(near(comps("0x2").getAs[Double]("reward"), 0.1))
    assert(near(comps("0x1").getAs[Double]("fee"), 10000 * 0.01))
    assert(near(comps("0x2").getAs[Double]("fee"), 20000 * 0.02))
    assert(near(comps("0x1").getAs[Double]("fee_reward"),
      10000 * 0.01 + 20000 * 0.02 + 30000 * 0.03))
    assert(near(comps("0x2").getAs[Double]("fee_reward"), 0.0))

    // get_balances: clamp(income - outcome + reward - fee + fee_reward)
    val bal = cli.balances(Seq("0x1", "0x2", "0x3"))
    assert(bal.keySet === Set("0x1", "0x2", "0x3"))
    assert(near(bal("0x1"),
      50.0 - 100.0 + 1.0 - 10000 * 0.01 +
        (10000 * 0.01 + 20000 * 0.02 + 30000 * 0.03)))
    assert(bal("0x2") === 0.0) // clamped: 100 - 50 + 0.1 - 400 < 0
    assert(near(bal("0x3"), 10.0)) // income only

    // token_balances: clamp(income - outcome) within one token
    val tbal = cli.tokenBalances("0x01", Seq("0x1", "0x2", "0x3"))
    assert(near(tbal("0x1"), 400.0)) // 500 in - 100 out
    assert(tbal("0x2") === 0.0) // clamped: 100 - 500
    assert(near(tbal("0x3"), 100.0))

    // the CLI command prints the API's JSON map
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      cli.run("balances 0x2,0x3")
      cli.run("token-balances 0x01 0x1")
    }
    assert(out.toString.contains(""""0x2": 0.0"""))
    assert(out.toString.contains(""""0x1": 400.0"""))
  }

  test("artifact commands write the dashboards, the balances CSV and the gas-stats frame") {
    val root = scratch("cliart")
    val store = new EthStore(spark, root)
    store.append("block", Seq((0L, "2020-01-01 09:00:00", "b0"),
        (1L, "2020-01-01 10:00:00", "b1"), (2L, "2020-01-01 11:00:00", "b2"))
      .toDF("number", "t", "id").withColumn("timestamp", col("t").cast("timestamp")), 1L)
    store.append("contract", Seq(("0xc0ffee", 1L, "0xc0ffee")).toDF("id", "blockNumber", "address"), 1L)
    // (id, blockNumber, from, to, value, type, author, gasUsed, gasPrice)
    store.append("internal_transaction", Seq(
        ("0xt1.0", 1L, "0xa", "0xb", 5.0, "call", null, 21000L, 2e-9),
        ("0xt2.0", 2L, "0xa", "0xc0ffee", 1.0, "call", null, 50000L, 4e-9),
        ("0xt3.0", 2L, "0xb", "0xa", 2.0, "call", null, 21000L, 6e-9))
      .toDF("id", "blockNumber", "from", "to", "value", "type", "author", "gasUsed", "gasPrice"), 1L)
    val cli = new Cli(store, fixtureSource)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { cli.run(s"grafana $root/grafana") }
    assert(out.toString.linesIterator.toSeq.map(l => new java.io.File(l).getName).sorted ===
      Seq("erc20_tokens.json", "ethereum.json", "insights.json", "spark.json"))

    cli.run(s"balances-csv $root/balances")
    def csv(path: String) =
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    val balances = csv(s"$root/balances")
    assert(balances.columns.toSeq === Seq("address", "balance"))
    // balances.sql: no rewards, so balance = income - fee - outcome
    val bal = balances.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(bal("0xb") - (5.0 - 21000 * 6e-9 - 2.0)) < 1e-12)

    cli.run(s"gas-stats $root/gas")
    // first-trace wallet calls per 1000-block bucket: t1 (2 gwei) and
    // t3 (6 gwei) in bucket 0, joined to block 0's timestamp; t2 goes
    // to a contract
    val gas = csv(s"$root/gas").collect()
    assert(gas.length === 1 && gas.head.getAs[Int]("block") === 0)
    assert(gas.head.getAs[Double]("gas") === 2.0 && gas.head.getAs[Double]("minGas") === 2.0)
  }

  test("read-only commands run without --rpc; a fetching command still needs one") {
    val root = scratch("clinorpc")
    new EthStore(spark, root).append("internal_transaction", Seq(
        ("1", Some("0x1"), Some("0x2"), None: Option[String], 0L, 0.0, "call", None: Option[String], 1L, 5.0))
      .toDF("id", "from", "to", "author", "gasUsed", "gasPrice", "type",
        "rewardType", "blockNumber", "value"), 1L)
    // the parsed command runs on the suite's session, which main would stop
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Cli.command(Array("balances", "0x2", "--store", root))(spark)
      Cli.command(Array("grafana", s"$root/grafana", "--store", root))(spark)
    }
    assert(out.toString.contains(""""0x2": 5.0"""))
    assert(out.toString.contains("ethereum.json"))
    val e = intercept[IllegalArgumentException](Cli.command(Array("start", "--store", root)))
    assert(e.getMessage.contains("at least one --rpc url[@from[-to]] required"))
  }
}

/** JVM-global adapter-call counters: local mode shares the JVM, but
  * serialized task closures get copies of captured objects, so a
  * captured counter would only see driver-side calls.
  */
object AdapterCallCounters {
  val abiFetches = new java.util.concurrent.atomic.AtomicInteger(0)
  val ethCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val priceFetches = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { abiFetches.set(0); ethCalls.set(0); priceFetches.set(0) }
}
