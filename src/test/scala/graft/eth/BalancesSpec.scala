package graft.eth

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Balance formulas with the exact fixture + expectations of the
  * reference's API tests
  * (examples/balances_api/tests/test_balances.py:34-178).
  */
class BalancesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("author", StringType),
    StructField("type", StringType),
    StructField("rewardType", StringType),
    StructField("gasUsed", LongType),
    StructField("gasPrice", DoubleType),
    StructField("blockNumber", LongType),
    StructField("value", DoubleType)))

  private def itx = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("1", "0x1", "0x2", null, "call", null, 10000L, 0.01, 1L, 100.0),
      Row("2", "0x2", "0x1", null, "call", null, 20000L, 0.02, 1L, 50.0),
      Row("3", "0x4", "0x3", null, "call", null, 30000L, 0.03, 1L, 10.0),
      Row("4", null, null, "0x1", "reward", "block", 0L, 0.0, 1L, 1.0),
      Row("5", null, null, "0x2", "reward", "uncle", 0L, 0.0, 1L, 0.1))),
    schema)

  test("ethBalances reproduces the reference's API expectations") {
    // per the reference fixtures: income(0x1)=50, outcome(0x1)=100,
    // reward(0x1)=1, fee(0x1)=100, fee_reward(0x1)=100+400+900=1400
    // -> balance(0x1) = max(50-100+1-100+1400, 0) = 1251
    // 0x2: 100-50+0.1-400+0 -> clamped to 0
    val got = Balances.ethBalances(spark, itx, Seq("0x1", "0x2"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("0x1") === 1251.0)
    assert(got("0x2") === 0.0)
  }

  test("addressUniverse = to ∪ from ∪ author, distinct, no nulls") {
    val got = Balances.addressUniverse(itx)
      .collect().map(_.getString(0)).toSet
    assert(got === Set("0x1", "0x2", "0x3", "0x4"))
  }

  test("tokenBalances: max(income - outcome, 0) per token") {
    val s = spark
    import s.implicits._
    val tt = Seq(
      ("0xa", "0xb", 10.0, "0xtok"),
      ("0xb", "0xa", 4.0, "0xtok"),
      ("0xa", "0xb", 100.0, "0xother")) // other token ignored
      .toDF("from", "to", "value", "token")
    val got = Balances.tokenBalances(spark, tt, Seq("0xa", "0xb"), "0xtok")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("0xb") === 6.0) // 10 in, 4 out
    assert(got("0xa") === 0.0) // 4 in, 10 out -> clamped
  }

  /** Hand-computed mini-chain where the two reference archetypes
    * disagree: a child trace (id "t1.1") whose fee counts toward the
    * sender and the API's block fee but NOT the batch block fee
    * (`id LIKE '%.0'`), and a sender driven negative (API clamps,
    * batch does not).
    */
  private val miniSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("author", StringType),
    StructField("type", StringType),
    StructField("rewardType", StringType),
    StructField("gasUsed", DoubleType),
    StructField("gasPrice", DoubleType),
    StructField("blockNumber", LongType),
    StructField("value", DoubleType)))

  private def miniChain = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row("t1.0", "0xa", "0xb", null, "call", null, 2.0, 1.0, 1L, 10.0),
      Row("t1.1", "0xa", "0xc", null, "call", null, 3.0, 1.0, 1L, 1.0),
      Row("b1.r", null, null, "0xm", "reward", "block", 0.0, 0.0, 1L, 5.0))),
    miniSchema)

  test("batchBalances follows balances.sql exactly (golden mini-chain)") {
    val got = Balances.batchBalances(miniChain)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 0xa: -fee(2+3) - outcome(10+1) = -16 (negative kept, no clamp)
    // 0xm: fee_reward = block-1 FIRST-trace fee only (1*2) + reward 5
    assert(got === Map("0xa" -> -16.0, "0xb" -> 10.0, "0xc" -> 1.0, "0xm" -> 7.0))
  }

  test("API and batch formulas diverge exactly where the reference's do") {
    val api = Balances.ethBalances(spark, miniChain, Seq("0xa", "0xm"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // API: block fee has no first-trace filter -> fee_reward(0xm)=5;
    // 0xa clamps to zero
    assert(api === Map("0xa" -> 0.0, "0xm" -> 10.0))
  }

  test("balances.sql end-to-end: universe -> five joins -> headered CSV") {
    val path = scratch("balcsv") + "/balances"
    Balances.batchBalancesCsv(miniChain, path)
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path)
    assert(back.columns.toSeq === Seq("address", "balance"))
    val got = back.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("0xa" -> -16.0, "0xb" -> 10.0, "0xc" -> 1.0, "0xm" -> 7.0))
  }
}
