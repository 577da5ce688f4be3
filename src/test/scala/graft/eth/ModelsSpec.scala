package graft.eth


import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Typed Dataset surface: case classes round-trip through the store's
  * FINAL views, including the 27-field internal_transaction and
  * keyword-named fields.
  */
class ModelsSpec extends SparkSpec {

  test("typedFinal round-trips events and internal transactions") {
    val s = spark
    import s.implicits._
    val root = scratch("typedstore")
    val store = new EthStore(spark, root)

    store.append("event", Seq(
      ("e1", 1L, "0xa", Seq("0xt0", "0xt1"), "0xdata"),
      ("e2", 2L, "0xb", Seq("0xt0"), "0x"))
      .toDF("id", "blockNumber", "address", "topics", "data"), 1L)
    // upsert e1 with a new address; typed view must see only v2
    store.append("event", Seq(("e1", 1L, "0xa2", Seq("0xt0"), "0xdata"))
      .toDF("id", "blockNumber", "address", "topics", "data"), 2L)

    val events = store.typedFinal[Models.Event]("event")
    val byId = events.collect().map(e => e.id -> e).toMap
    assert(byId.size === 2)
    assert(byId("e1").address === Some("0xa2"))
    assert(byId("e1").topics === Some(Seq("0xt0")))
    // typed transforms compile and run
    val n = events.map(e => e.blockNumber.getOrElse(0L)).reduce(_ + _)
    assert(n === 3L)

    store.append("internal_transaction", Seq(
      ("0xt1.0", 5L, "0xa", "0xb", 1.5, "call", Seq(0, 1)))
      .toDF("id", "blockNumber", "from", "to", "value", "type", "traceAddress"), 1L)
    val itx = store.typedFinal[Models.InternalTransaction]("internal_transaction")
      .collect().head
    assert(itx.id === "0xt1.0")
    assert(itx.`from` === Some("0xa"))
    assert(itx.`type` === Some("call"))
    assert(itx.traceAddress === Some(Seq(0, 1)))
    assert(itx.error === None)
  }
}
