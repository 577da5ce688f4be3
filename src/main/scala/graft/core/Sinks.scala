package graft.core

import org.apache.spark.sql.DataFrame

/** Result-delivery operators of the reference's query surface:
  *
  *  - A30 CSV sink — `INTO OUTFILE 'balances.csv' FORMAT CSVWithNames`
  *    (/root/reference/examples/sql_balances/balances.sql:62-63)
  *
  * (A32, the bulk upsert sink with chunk sizing, lives in
  * graft.eth.EthStore.append — `maxRecordsPerFile` is the
  * MAX_CHUNK_SIZE analog.)
  */
object Sinks {

  /** A30: headered CSV, one directory of part files (the distributed
    * equivalent of one OUTFILE; `coalesce(1)` only if a single file is
    * genuinely required — at scale it serializes the write).
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.option("header", "true").mode("overwrite").csv(path)
  }
}
