package graft.eth

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Joins
import graft.functions.GraftFunctions

/** The three derived tables of the reference, as deterministic batch
  * jobs (ClickHouse materialized views become recompute-or-refresh
  * jobs):
  *
  *  - contracts MV (/root/reference/operations/contract_transactions.py:71-112)
  *  - token transfers MV (/root/reference/operations/token_holders.py:13-51)
  *  - Bancor trades view (/root/reference/operations/bancor_trades.py:13-74)
  */
object DerivedViews {

  /** ERC-20 Transfer event topic (token_holders.py:5). */
  val TransferTopic = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"

  /** Bancor Conversion event topic (bancor_trades.py:5). */
  val ConversionTopic = "0x276856b36cbc45526a0ba64f44611557a2a8b68662c5388e9fe6d72e86e1c8cb"

  /** A33: contracts from creation traces. Source rows: type='create'
    * with no error anywhere above them; standard_* flags = bytecode
    * contains every selector of the standard.
    */
  def contracts(internalTransactions: DataFrame): DataFrame =
    internalTransactions
      .filter(col("type") === "create" && col("error").isNull && col("parent_error").isNull)
      .select(Seq(
        coalesce(col("address"), col("id")).as("id"),
        col("blockNumber"),
        col("address"),
        col("from").as("owner"),
        col("code").as("bytecode")) ++
        Selectors.standardFlags(col("code")): _*)

  /** A34: token transactions from ERC-20 Transfer events. from/to are
    * the low 20 bytes of topics[2]/topics[3]; value is the low-128-bit
    * uint256 decode of `data` scaled by the token's decimals (ANY INNER
    * join against contract_description — one match, never multiplying).
    */
  def tokenTransfers(events: DataFrame, contractDescriptions: DataFrame): DataFrame = {
    val decimals = contractDescriptions.select(
      col("id").as("address"), col("decimals"))
    Joins.anyJoin(
      events.filter(col("topics").getItem(0) === TransferTopic),
      decimals, Seq("address"), "inner", broadcastRight = true)
      .select(
        concat(lit("0x"), substring(col("topics").getItem(1), 27, 40)).as("from"),
        concat(lit("0x"), substring(col("topics").getItem(2), 27, 40)).as("to"),
        GraftFunctions.uint256_lo128(col("data"),
          coalesce(col("decimals").cast("int"), lit(18))).as("value"),
        col("id"),
        col("address").as("token"),
        col("transactionHash"),
        col("blockNumber"))
  }

  /** A35: Bancor conversion trades. Amount/return are the reference's
    * exact `data` slices — substring(data,3,64) (decodes the low 120
    * bits: 64-34=30 hex chars) and substring(data,65,66) (the low 128
    * bits of the second word) — each scaled by the respective token's
    * decimals via ANY LEFT joins.
    */
  def bancorTrades(
      events: DataFrame,
      contracts: DataFrame,
      contractDescriptions: DataFrame): DataFrame = {
    val converters = contracts.filter(col("standard_bancor_converter") === 1)
      .select(col("address"))
    val conv = events
      .filter(col("topics").getItem(0) === ConversionTopic)
      .join(converters, Seq("address"), "left_semi")
      .select(
        col("id"),
        concat(lit("0x"), substring(col("topics").getItem(1), 27, 1000)).as("from_token"),
        concat(lit("0x"), substring(col("topics").getItem(2), 27, 1000)).as("to_token"),
        concat(lit("0x"), substring(col("topics").getItem(3), 27, 1000)).as("trader"),
        substring(col("data"), 3, 64).as("amount_raw"),
        substring(col("data"), 65, 66).as("return_raw"),
        col("transactionHash"))
    val fromDec = contractDescriptions.select(
      col("id").as("from_token"), col("decimals").as("from_decimals"))
    val toDec = contractDescriptions.select(
      col("id").as("to_token"), col("decimals").as("to_decimals"))
    Joins.anyJoin(
      Joins.anyJoin(conv, fromDec, Seq("from_token"), "left", broadcastRight = true),
      toDec, Seq("to_token"), "left", broadcastRight = true)
      .select(
        col("id"), col("from_token"), col("to_token"), col("trader"),
        GraftFunctions.uint256_lo128(col("amount_raw"),
          coalesce(col("from_decimals").cast("int"), lit(18))).as("amount"),
        GraftFunctions.uint256_lo128(col("return_raw"),
          coalesce(col("to_decimals").cast("int"), lit(18))).as("return"),
        col("transactionHash"))
  }
}
