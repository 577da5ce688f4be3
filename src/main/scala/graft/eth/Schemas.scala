package graft.eth

import org.apache.spark.sql.types._

/** Declared (not inferred) schemas for the chain-data tables —
  * reference: /root/reference/schema/schema.py:1-82 plus the implicit
  * `id` every table gets (operations/indices.py:31). ClickHouse
  * `Nested(type,value)` maps to an array of structs; `UInt8` flags map
  * to Boolean-ish ShortType (decimals stays Short).
  */
object Schemas {

  val block: StructType = StructType(Seq(
    StructField("number", LongType, nullable = false),
    StructField("timestamp", TimestampType),
    StructField("id", StringType, nullable = false)))

  val internalTransaction: StructType = StructType(Seq(
    StructField("blockNumber", LongType),
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("value", DoubleType),
    StructField("input", StringType),
    StructField("output", StringType),
    StructField("gas", StringType), // hex string in the reference
    StructField("gasUsed", LongType),
    StructField("gasPrice", DoubleType),
    StructField("blockHash", StringType),
    StructField("transactionHash", StringType),
    StructField("transactionPosition", IntegerType),
    StructField("subtraces", IntegerType),
    StructField("traceAddress", ArrayType(IntegerType)),
    StructField("type", StringType),
    StructField("callType", StringType),
    StructField("address", StringType),
    StructField("code", StringType),
    StructField("init", StringType),
    StructField("refundAddress", StringType),
    StructField("error", StringType),
    StructField("parent_error", BooleanType),
    StructField("balance", StringType),
    StructField("author", StringType),
    StructField("rewardType", StringType),
    StructField("result", StringType),
    StructField("id", StringType, nullable = false)))

  val blockFlag: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("value", ShortType)))

  val contractAbi: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("abi", StringType),
    StructField("abi_extracted", BooleanType)))

  val contractBlock: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("value", LongType)))

  val event: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("logIndex", IntegerType),
    StructField("transactionLogIndex", IntegerType),
    StructField("data", StringType),
    StructField("transactionIndex", IntegerType),
    StructField("address", StringType),
    StructField("transactionHash", StringType),
    StructField("blockHash", StringType),
    StructField("blockNumber", LongType),
    StructField("topics", ArrayType(StringType)),
    StructField("id", StringType, nullable = false)))

  val decodedInput: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("params", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("value", StringType))))),
    StructField("blockNumber", LongType)))

  val price: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("USD", DoubleType),
    StructField("BTC", DoubleType),
    StructField("ETH", DoubleType),
    StructField("timestamp", TimestampType),
    StructField("id", StringType, nullable = false)))

  val contractDescription: StructType = StructType(Seq(
    StructField("token_name", StringType),
    StructField("token_symbol", StringType),
    StructField("decimals", ShortType),
    StructField("total_supply", LongType),
    StructField("token_owner", StringType),
    StructField("cmc_id", StringType),
    StructField("website_slug", StringType),
    StructField("id", StringType, nullable = false)))

  val contract: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("blockNumber", LongType),
    StructField("address", StringType),
    StructField("owner", StringType),
    StructField("bytecode", StringType),
    StructField("standard_erc20", ShortType),
    StructField("standard_erc223", ShortType),
    StructField("standard_bancor_converter", ShortType)))

  val tokenTransaction: StructType = StructType(Seq(
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("value", DoubleType),
    StructField("id", StringType, nullable = false),
    StructField("token", StringType),
    StructField("transactionHash", StringType),
    StructField("blockNumber", LongType)))

  /** Schema-policed ingestion (custom_clickhouse._filter_schema
    * analog): keep exactly the declared columns — extras dropped,
    * missing filled with NULL.
    */
  def conform(df: org.apache.spark.sql.DataFrame, schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val present = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }
}
