package graft.eth

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Joins

/** The gas-price-estimation notebook's training frame
  * (examples/gas_price_estimation/gas_price_estimation.ipynb). The
  * Grafana panels are SQL in [[DashboardArtifacts]].
  */
object Dashboards {

  /** The notebook's dataset query: per 1000-block bucket, median and
    * 20th-percentile gasPrice (in gwei) of FIRST-trace (`id LIKE
    * '%.0'`), wallet-to-wallet (to ∉ contracts), value-moving calls,
    * ANY INNER joined to block timestamps. The ML estimator on top is
    * out of engine scope; this produces its training frame.
    */
  def gasStats(itx: DataFrame, contracts: DataFrame, blocks: DataFrame,
      minBlock: Long = 0L, bucket: Int = 1000): DataFrame = {
    val base = itx.filter(
      col("value") > 0 && col("type") === "call" && col("id").endsWith(".0") &&
        col("blockNumber") >= minBlock)
      .join(contracts.select(col("address").as("to")), Seq("to"), "left_anti")
      .withColumn("block", (floor(col("blockNumber") / bucket) * bucket).cast("long"))
    val stats = base.groupBy(col("block")).agg(
      (percentile_approx(col("gasPrice"), lit(0.5), lit(10000)) * 1e9).as("gas"),
      (percentile_approx(col("gasPrice"), lit(0.2), lit(10000)) * 1e9).as("minGas"))
    Joins.anyJoin(stats,
      blocks.select(col("number").as("block"), col("timestamp")),
      Seq("block"), "inner", broadcastRight = true)
      .orderBy(col("block"))
  }
}
