package graft.eth

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{CacheScope, Joins}
import graft.core.CacheScope.persist

/** Chain-data source boundary. Production backs these with JSON-RPC
  * `mapPartitions` adapters; tests back them with fixture DataFrames
  * (the environment has no network — same pattern the reference's
  * tests use with a local parity).
  */
trait ChainSource {
  def headBlock: Long
  /** (number, timestamp) rows for the requested block numbers. */
  def blocks(numbers: Seq[Long]): DataFrame
  /** Raw trace rows (pre-flatten) for the requested blocks. */
  def traces(numbers: Seq[Long]): DataFrame
  /** Chain transactions (for the gasPrice enrich) for the blocks. */
  def transactions(numbers: Seq[Long]): DataFrame
  /** Raw logs for inclusive block ranges (start, end). */
  def events(ranges: Seq[(Long, Long)]): DataFrame
}

/** The sync pipeline — the reference's `start`/`start-full` operation
  * DAG (/root/reference/operations/clickhouse.py:135-172) re-expressed
  * as flag-gated, idempotent Spark batch jobs:
  *
  *   blocks → traces → events → derived views → input decoding
  *
  * Every stage selects its work set with the flag anti-join idiom
  * (SURVEY A13), processes it, appends results AND progress flags, so
  * re-running any stage is a no-op on already-processed blocks — this
  * is what made the reference's restart-forever loop safe, and it is
  * exactly as idempotent here.
  */
class Pipeline(store: EthStore, source: ChainSource,
    maxBlocksPerPass: Int = 10000,
    genesis: Option[DataFrame] = None) {

  private def spark: SparkSession = store.spark
  private def now(): Long = System.currentTimeMillis()

  /** B1/B2: create block rows from max(db)+1 up to the chain head,
    * capped per pass (operations/blocks.py:52-94).
    */
  def syncBlocks(): Long = {
    val maxDb = store.tableFinal("block").agg(max(col("number"))).head().get(0)
    val start = if (maxDb == null) 0L else maxDb.asInstanceOf[Long] + 1
    val end = math.min(source.headBlock, start + maxBlocksPerPass - 1)
    if (end < start) return 0L
    val rows = source.blocks(start to end)
      .withColumn("id", col("number").cast("string"))
    store.append("block", rows, now())
    end - start + 1
  }

  /** A13: blocks with no `name` flag yet (the unprocessed work set). */
  def unprocessedBlocks(flagName: String): DataFrame = {
    val flags = store.tableFinal("block_flag")
      .filter(col("name") === flagName && col("value") === 1)
      .select(col("id"))
    store.tableFinal("block").join(flags, Seq("id"), "left_anti")
  }

  private def writeBlockFlags(numbers: Seq[Long], flagName: String): Unit = {
    val s = spark
    import s.implicits._
    val flags = numbers.toDF("n").select(
      col("n").cast("string").as("id"), lit(flagName).as("name"),
      lit(1).cast("short").as("value"))
    store.append("block_flag", flags, now())
  }

  /** Trace extraction pass (internal_transactions.py:401-431): work set
    * → fetch → normalize (flatten, enrich, ids, parent errors) →
    * append + flags.
    */
  def extractTraces(): Long = {
    val work = unprocessedBlocks("traces_extracted")
      .select(col("number")).orderBy(col("number"))
      .limit(maxBlocksPerPass)
      .collect().map(_.getLong(0)).toSeq
    if (work.isEmpty) return 0L
    val normalized = Traces.normalize(source.traces(work), source.transactions(work))
    store.append("internal_transaction", normalized, now())
    // B9: processing block 0 also loads the genesis allocations as
    // pseudo-transactions (internal_transactions.py:342-361) — flag-
    // gated by block 0's traces_extracted flag, so it happens once.
    if (work.contains(0L))
      genesis.foreach(g =>
        store.append("internal_transaction", Traces.genesisTransactions(g), now()))
    writeBlockFlags(work, "traces_extracted")
    work.size.toLong
  }

  /** Event extraction pass (events.py:12-52): 5-block getLogs buckets
    * over the unprocessed work set → normalize → append + flags.
    */
  def extractEvents(rangeSize: Int = 5): Long = {
    val work = unprocessedBlocks("events_extracted")
      .select(col("number")).orderBy(col("number"))
      .limit(maxBlocksPerPass)
      .collect().map(_.getLong(0)).toSeq
    if (work.isEmpty) return 0L
    val ranges = work.map(n => n / rangeSize * rangeSize)
      .distinct.map(s => (s, s + rangeSize - 1))
    val raw = source.events(ranges)
      .join(spark.createDataFrame(work.map(Tuple1(_))).toDF("blockNumber"),
        Seq("blockNumber"), "left_semi") // ranges may over-fetch; keep work blocks only
    store.append("event", Events.normalize(raw), now())
    writeBlockFlags(work, "events_extracted")
    work.size.toLong
  }

  /** MV maintenance (A33/A34/A35): deterministic recompute of the three
    * derived tables from the FINAL base views.
    */
  def deriveViews(): Unit = {
    val itx = store.tableFinal("internal_transaction")
    val events = store.tableFinal("event")
    val descriptions = store.tableFinal("contract_description")
    store.overwrite("contract", DerivedViews.contracts(itx), now())
    store.overwrite("token_transaction",
      DerivedViews.tokenTransfers(events, descriptions), now())
  }

  def bancorTrades(): DataFrame =
    DerivedViews.bancorTrades(
      store.tableFinal("event"),
      store.tableFinal("contract"),
      store.tableFinal("contract_description"))

  /** B18: the global consistency frontier — the largest block id whose
    * required flags are all present (utils.py:201-209); decode jobs
    * never read past it.
    */
  def consistentMaxBlock(flagNames: Seq[String]): Long = {
    val flags = store.tableFinal("block_flag")
      .filter(col("value") === 1 && col("name").isin(flagNames: _*))
      .groupBy(col("id")).agg(countDistinct(col("name")).as("n"))
      .filter(col("n") === flagNames.size)
      .agg(max(col("id").cast("long"))).head()
    if (flags.isNullAt(0)) -1L else flags.getLong(0)
  }

  /** Shared work-set shape for the two ABI decode jobs: the broadcast
    * side carries ONLY (contract id, highwater) — at mainnet scale the
    * ABI JSON blobs are multi-GB and must never transit a broadcast —
    * while the ABI column joins in afterwards key-partitioned
    * (shuffle_hash, the honest at-scale plan; AQE would otherwise
    * build the blobs serially on the driver at test scale).
    * Returns (work rows carrying `abi`, the (key, hw) frame the
    * highwater-flag append reuses).
    */
  private[eth] def abiDecodeWork(keyName: String, flagName: String,
      rows: DataFrame): (DataFrame, DataFrame) = {
    val abis = store.tableFinal("contract_abi")
      .filter(col("abi").isNotNull)
      .select(col("id").as(keyName), col("abi"))
    val highwater = store.tableFinal("contract_block")
      .filter(col("name") === flagName)
      .select(col("id").as(keyName), col("value").as("hw"))
    val keyedHw = abis.select(col(keyName)).join(highwater, Seq(keyName), "left")
      .withColumn("hw", coalesce(col("hw"), lit(-1L)))
    val work = rows.join(broadcast(keyedHw), Seq(keyName))
      .filter(col("blockNumber") > col("hw"))
      .join(abis.hint("shuffle_hash"), Seq(keyName))
    (work, keyedHw)
  }

  /** B15/B17: decode transaction inputs for contracts with a known ABI,
    * incrementally: per-contract high-water marks in contract_block
    * (flag "<kind>_inputs_decoded_block"), work = transactions TO those
    * contracts in (highwater, consistentMax]. One pass decodes and
    * advances every contract to the frontier.
    */
  def decodeTransactionInputs(): Long = {
    val flagName = "tx_inputs_decoded_block"
    val maxBlock = consistentMaxBlock(Seq("traces_extracted"))
    if (maxBlock < 0) return 0L
    val itx = store.tableFinal("internal_transaction")
      .filter(col("blockNumber") <= maxBlock && col("input").isNotNull)
    val (work, keyedHw) = abiDecodeWork("to", flagName, itx)
    CacheScope.withReleased {
      // Persist: the append materializes the decode once; the returned
      // count reads the cache instead of re-running the ABI decode + join.
      val decoded = persist(work.select(
        col("id"),
        Abi.decode_input(col("abi"), col("input")).as("d"),
        col("blockNumber"))
        .select(col("id"), col("d.name").as("name"), col("d.params").as("params"),
          col("blockNumber")))
      store.append("transaction_input", decoded, now())
      // High-water marks written distributed — at mainnet scale this is
      // millions of contract ids; they never transit the driver.
      store.append("contract_block",
        keyedHw.select(col("to").as("id"), lit(flagName).as("name"),
          lit(maxBlock).as("value")),
        now())
      decoded.count()
    }
  }

  /** B16: same decode over events, via the reconstructed pseudo-input. */
  def decodeEventInputs(): Long = {
    val flagName = "event_inputs_decoded_block"
    val maxBlock = consistentMaxBlock(Seq("events_extracted"))
    if (maxBlock < 0) return 0L
    val events = store.tableFinal("event")
      .filter(col("blockNumber") <= maxBlock)
    val (work, keyedHw) = abiDecodeWork("address", flagName, events)
    CacheScope.withReleased {
      // Persist: the append materializes the decode once; the returned
      // count reads the cache (as in decodeTransactionInputs).
      val decoded = persist(work.select(
        col("id"),
        Abi.decode_input(col("abi"), Events.reconstructedInput).as("d"),
        col("blockNumber"))
        .select(col("id"), col("d.name").as("name"), col("d.params").as("params"),
          col("blockNumber")))
      store.append("event_input", decoded, now())
      store.append("contract_block",
        keyedHw.select(col("address").as("id"), lit(flagName).as("name"),
          lit(maxBlock).as("value")),
        now())
      decoded.count()
    }
  }

  /** One `start`-equivalent pass (clickhouse.py:151-159): sync to head,
    * extract, derive. `full` adds the input-decoding stages
    * (start-full, lines 162-172).
    */
  def runOnce(full: Boolean = false): Unit = {
    var moved = true
    while (moved) moved = syncBlocks() > 0
    extractTraces()
    extractEvents()
    deriveViews()
    if (full) {
      decodeTransactionInputs()
      decodeEventInputs()
    }
  }
}
