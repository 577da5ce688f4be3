package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column ↔ Expression converters of
  * Spark 4's classic API — the supported pattern for libraries exposing
  * custom Catalyst expressions as `Column`s.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an already-resolved logical plan as a DataFrame — the seam an
    * optimizer rule needs to run a (driver-side, bounded) statistics
    * query over one side of a join it is about to rewrite. Spark's own
    * `Dataset.ofRows` is `private[sql]`; this re-export is the whole
    * reason the file lives in this package.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Wrap an RDD of INTERNAL rows as a DataFrame — the seam through
    * which the RDD-iterated graph operators return their result, and a
    * multi-action operator scans its persisted rows as a flat plan:
    * `createDataFrame(rdd, schema)` over external `Row`s would encode
    * every row once more, while internal rows go in as they are.
    * `internalCreateDataFrame` is `private[sql]`, hence this re-export.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Driver-side parquet schema of ONE file — footer read + the same
    * parquet→Spark type conversion the scan uses, honoring the
    * session's SQL settings (nanosAsLong, int96AsTimestamp, …) via the
    * SQLConf constructor. `spark.read.parquet(f).schema` launches a
    * (tiny but real) Spark JOB per inference; a versioned store that
    * infers per incremental read pays that job on every consumer call,
    * while this is one footer RPC on the driver. `sessionState` is
    * `private[sql]`, hence the re-export lives here.
    */
  def parquetFileSchema(spark: SparkSession,
      file: String): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.ParquetReadOptions.builder()
        .withMetadataFilter(
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .build())
    val message =
      try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    new org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .convert(message)
  }

  /** Block until every event posted so far has reached every listener
    * — a profiler reading its job listener after an action must not
    * race the asynchronous bus. `listenerBus` is `private[spark]`.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Eager ColumnNode → Expression conversion. `expression` defers the
    * conversion inside a `ColumnNodeExpression` placeholder, which only
    * the Dataset boundary unwraps — an expression returned from a
    * `FunctionRegistry` builder mid-analysis would never be converted
    * and fails codegen. This converts the whole tree immediately; the
    * resulting `UnresolvedFunction` leaves resolve in the analyzer's
    * remaining fixed-point iterations like any parsed SQL.
    */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
}
