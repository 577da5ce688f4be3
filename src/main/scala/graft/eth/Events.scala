package graft.eth

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-log operators (reference: /root/reference/operations/events.py
  * and inputs.py):
  *  - B23 normalizer: hex ints, lowercase address, id assignment
  *    (events.py:67-88)
  *  - B22 range bucketing: blocks grouped into getLogs ranges
  *    (events.py:12-52, EVENTS_RANGE_SIZE=5)
  *  - B16 event → pseudo-input reconstruction (inputs.py:223-242)
  */
object Events {

  /** B23: parse hex transactionLogIndex, lowercase the emitting
    * address, assign id = "{transactionHash}.{transactionLogIndex}".
    * Hash/topic fields are expected already hex-encoded (the RPC
    * fixture layer does `.hex()`).
    */
  def normalize(raw: DataFrame): DataFrame =
    raw
      .withColumn("transactionLogIndex",
        conv(regexp_replace(col("transactionLogIndex"), "^0x", ""), 16, 10).cast("int"))
      .withColumn("address", lower(col("address")))
      .withColumn("id",
        concat(col("transactionHash"), lit("."), col("transactionLogIndex").cast("string")))

  /** B16: rebuild a callable input from an event:
    * selector = topics[0][0:10] (0x + 4 bytes), then the remaining
    * topics stripped of 0x, then data stripped of 0x.
    */
  def reconstructedInput: Column = {
    // getItem (GetArrayItem) over element_at: the optimizer folds it
    // through CreateArray, keeping synthesized-topic plans codegen-able
    val selector = substring(col("topics").getItem(0), 1, 10)
    val restTopics = array_join(
      transform(slice(col("topics"), 2, 1000000), t => substring(t, 3, 1000000)), "")
    concat(selector, restTopics, substring(col("data"), 3, 100000000))
  }
}
