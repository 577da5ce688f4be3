package graft.eth


import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** End-to-end mini-chain sync: blocks → traces → events → derived
  * views → input decode, twice (idempotence). Fixture source follows
  * FIXTURES.md §A.
  */
class PipelineSpec extends SparkSpec {

  private val transferTopic = DerivedViews.TransferTopic
  private def topicAddr(n: Int) = "0x" + "%064x".format(n)

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
      StructField("value", StringType),
      StructField("input", StringType),
      StructField("author", StringType),
      StructField("rewardType", StringType)))),
    StructField("result", StructType(Seq(
      StructField("gasUsed", StringType),
      StructField("code", StringType),
      StructField("address", StringType))))))

  private val wei1 = "0xde0b6b3a7640000" // 1 ETH
  private val erc20Code = "0x6060" + Selectors.erc20.values.mkString

  private def fixtureSource = new ChainSource {
    val s = spark
    import s.implicits._

    override def headBlock: Long = 4L

    override def blocks(numbers: Seq[Long]): DataFrame =
      numbers.toDF("number").select(col("number"),
        to_timestamp(lit("2020-01-01 00:00:00")).as("timestamp"))

    override def traces(numbers: Seq[Long]): DataFrame = {
      val all = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        // block 1: plain transfer 0xa -> 0xb, 1 ETH
        Row(1L, "0xt1", "0xb1", "call", null, Seq.empty[Int],
          Row("0xa", "0xb", wei1, "0x", null, null), Row("0x5208", null, null)),
        // block 2: contract creation of an ERC-20 at 0xc0ffee
        Row(2L, "0xt2", "0xb2", "create", null, Seq.empty[Int],
          Row("0xa", null, "0x0", null, null, null),
          Row("0x520800", erc20Code, "0xc0ffee")),
        // block 2: a call with decodable transfer() input
        Row(2L, "0xt3", "0xb2", "call", null, Seq.empty[Int],
          Row("0xb", "0xc0ffee", "0x0",
            "0xa9059cbb000000000000000000000000d11b80088ce2623a9c017b93008405511cd951d2" +
              "00000000000000000000000000000000000000000000000d343b16da9c1a4000",
            null, null),
          Row("0x5208", null, null)),
        // block 3: failed call + child (parent_error case)
        Row(3L, "0xt4", "0xb3", "call", "Out of gas", Seq.empty[Int],
          Row("0xb", "0xa", wei1, "0x", null, null), Row(null, null, null)),
        Row(3L, "0xt4", "0xb3", "call", null, Seq(0),
          Row("0xb", "0xa", wei1, "0x", null, null), Row("0x5208", null, null)),
        // block 4: mining reward for 0xminer
        Row(4L, null, "0xb4", "reward", null, Seq.empty[Int],
          Row(null, null, wei1, null, "0xminer", "block"), Row(null, null, null)))),
        traceSchema)
      all.filter(col("blockNumber").isin(numbers: _*))
    }

    override def transactions(numbers: Seq[Long]): DataFrame =
      Seq(
        ("0xt1", "0xb1", "0x3b9aca00"), // 1 gwei
        ("0xt2", "0xb2", "0x3b9aca00"),
        ("0xt3", "0xb2", "0x3b9aca00"),
        ("0xt4", "0xb3", "0x3b9aca00"))
        .toDF("transactionHash", "blockHash", "gasPrice")

    override def events(ranges: Seq[(Long, Long)]): DataFrame = {
      val all = Seq(
        // Transfer event from token 0xc0ffee in block 2
        (2L, "0xt3", "0xb2", "0xC0FFEE", "0x0",
          Seq(transferTopic, topicAddr(0xa), topicAddr(0xb)),
          "0x" + "%064x".format(BigInt(5) * BigInt(10).pow(17))))
        .toDF("blockNumber", "transactionHash", "blockHash", "address",
          "transactionLogIndex", "topics", "data")
      val preds = ranges.map { case (a, b) => col("blockNumber").between(a, b) }
      all.filter(preds.reduce(_ || _))
    }
  }

  test("full pipeline run: sync, derive, decode, idempotent re-run") {
    val s = spark
    import s.implicits._
    val root = scratch("ethstore")
    val store = new EthStore(spark, root)
    val genesisAllocs = Seq(("0xgenesis", 100.0)).toDF("address", "value")
    val pipeline = new Pipeline(store, fixtureSource, genesis = Some(genesisAllocs))

    // seed contract metadata + ABI (normally from the prober/etherscan
    // adapters — fixture-fed here, like the reference tests do)
    store.append("contract_description",
      Seq(("0xc0ffee", 17.toShort)).toDF("id", "decimals"), 1L)
    store.append("contract_abi",
      Seq(("0xc0ffee",
        """[{"type":"function","name":"transfer","inputs":[
             {"name":"dst","type":"address"},{"name":"wad","type":"uint256"}]},
           {"type":"event","name":"Transfer","inputs":[
             {"name":"from","type":"address"},{"name":"to","type":"address"},
             {"name":"value","type":"uint256"}]}]""",
        true)).toDF("id", "abi", "abi_extracted"), 1L)

    pipeline.runOnce(full = true)

    // blocks 0..4 synced, flags written
    assert(store.tableFinal("block").count() === 5)
    assert(pipeline.unprocessedBlocks("traces_extracted").count() === 0)
    assert(pipeline.unprocessedBlocks("events_extracted").count() === 0)

    val itx = store.tableFinal("internal_transaction")
    // 6 traces + 1 genesis pseudo-transaction; ids assigned per tx;
    // child of the failed call flagged
    assert(itx.count() === 7)
    val gen = itx.filter(col("id") === "GENESIS_0xgenesis").head()
    assert(gen.getAs[Double]("value") === 100.0)
    assert(gen.getAs[Long]("blockNumber") === 0L)
    assert(itx.filter(col("id") === "0xt4.1").head().getAs[Boolean]("parent_error") === true)
    assert(itx.filter(col("id") === "0xb4.0").head().getAs[String]("author") === "0xminer")
    // value/gasPrice converted to ETH doubles
    val t1 = itx.filter(col("id") === "0xt1.0").head()
    assert(t1.getAs[Double]("value") === 1.0)
    assert(t1.getAs[Double]("gasPrice") === 1e-9)

    // contracts MV: the creation became an ERC-20 contract
    val contract = store.tableFinal("contract").head()
    assert(contract.getAs[String]("id") === "0xc0ffee")
    assert(contract.getAs[Short]("standard_erc20") === 1.toShort)
    assert(contract.getAs[String]("owner") === "0xa")

    // token transfers MV: event address lowercased, decimals=17 applied
    val tt = store.tableFinal("token_transaction").head()
    assert(tt.getAs[String]("token") === "0xc0ffee")
    assert(tt.getAs[Double]("value") === 5.0) // 5e17 / 1e17
    assert(tt.getAs[String]("id") === "0xt3.0")

    // decoded transaction input (golden fixture decode)
    val txInput = store.tableFinal("transaction_input")
      .filter(col("name").isNotNull).head()
    assert(txInput.getAs[String]("name") === "transfer")
    val params = txInput.getAs[scala.collection.Seq[Row]]("params")
    assert(params.map(_.getString(1)).toSeq ===
      Seq("0xd11b80088ce2623a9c017b93008405511cd951d2", "243571300000000000000"))

    // decoded event input via the reconstructed pseudo-input
    val evInput = store.tableFinal("event_input")
      .filter(col("name").isNotNull).head()
    assert(evInput.getAs[String]("name") === "Transfer")

    // high-water marks were written (distributed, not via the driver):
    // both decode stages advanced 0xc0ffee to the consistency frontier
    val marks = store.tableFinal("contract_block")
      .filter(col("id") === "0xc0ffee")
      .collect().map(r => r.getAs[String]("name") -> r.getAs[Long]("value")).toMap
    assert(marks("tx_inputs_decoded_block") === 4L)
    assert(marks("event_inputs_decoded_block") === 4L)

    // the returned decode count must read the persisted result, not
    // re-run the decode: a fresh decode pass over the advanced marks
    // decodes nothing and reports 0
    assert(pipeline.decodeTransactionInputs() === 0L)

    // idempotence: a second full run adds no new rows to the FINAL views
    val before = Seq("block", "internal_transaction", "event",
      "token_transaction", "transaction_input")
      .map(t => t -> store.tableFinal(t).count()).toMap
    pipeline.runOnce(full = true)
    before.foreach { case (t, n) =>
      assert(store.tableFinal(t).count() === n, s"table $t grew on re-run")
    }

    // balances over the mini-chain: 0xb received 1 ETH (t1), spent gas
    val bal = Balances.ethBalances(spark, itx, Seq("0xb", "0xminer"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 0xb: income 1 (t1) - outcome (2 ETH attempted, t4 both rows) - fees; clamped
    assert(bal("0xb") === 0.0)
    // miner: reward 1 ETH + block fee_reward of block 4 (no gas there) = 1
    assert(bal("0xminer") === 1.0)
  }

  test("decode work plan: ABI blobs never transit a broadcast, join key-partitioned") {
    val s = spark
    import s.implicits._
    val root = scratch("ethstore-plan")
    val store = new EthStore(spark, root)
    val pipeline = new Pipeline(store, fixtureSource)
    store.append("contract_abi",
      Seq(("0xc0ffee", """[{"type":"function","name":"transfer","inputs":[]}]""", true))
        .toDF("id", "abi", "abi_extracted"), 1L)
    store.append("internal_transaction",
      Seq(("0xt1.0", "0xc0ffee", 1L, "0xa9059cbb"))
        .toDF("id", "to", "blockNumber", "input"), 1L)

    val itx = store.tableFinal("internal_transaction")
    val (work, _) = pipeline.abiDecodeWork("to", "tx_inputs_decoded_block", itx)
    val p = work.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // split the formatted details into per-node blocks and inspect every
    // BroadcastExchange's input/output columns
    val blocks = p.split("\n\n").toSeq
    val bcast = blocks.filter(_.linesIterator.nextOption()
      .exists(_.matches("""\(\d+\) BroadcastExchange.*""")))
    assert(bcast.nonEmpty, "expected the (id, hw) work-set broadcast")
    bcast.foreach { b =>
      assert(!b.contains("abi#"), s"ABI column crosses a broadcast:\n$b")
    }
    assert(p.contains("ShuffledHashJoin"), "ABI join should be shuffle_hash, not broadcast")
  }
}
