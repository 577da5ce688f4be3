package graft.eth

/** Case-class models for the chain tables read through
  * [[EthStore.typedFinal]]: `Dataset[T]` where compile-time field
  * safety helps, `DataFrame` at the dynamic SQL boundary. Field
  * names/types mirror [[Schemas]] exactly (the reference's
  * schema/schema.py); Scala keywords are backticked, nullable columns
  * are Options.
  */
object Models {

  case class Event(
      `type`: Option[String],
      logIndex: Option[Int],
      transactionLogIndex: Option[Int],
      data: Option[String],
      transactionIndex: Option[Int],
      address: Option[String],
      transactionHash: Option[String],
      blockHash: Option[String],
      blockNumber: Option[Long],
      topics: Option[Seq[String]],
      id: String)

  case class InternalTransaction(
      blockNumber: Option[Long],
      `from`: Option[String],
      to: Option[String],
      value: Option[Double],
      input: Option[String],
      output: Option[String],
      gas: Option[String],
      gasUsed: Option[Long],
      gasPrice: Option[Double],
      blockHash: Option[String],
      transactionHash: Option[String],
      transactionPosition: Option[Int],
      subtraces: Option[Int],
      traceAddress: Option[Seq[Int]],
      `type`: Option[String],
      callType: Option[String],
      address: Option[String],
      code: Option[String],
      init: Option[String],
      refundAddress: Option[String],
      error: Option[String],
      parent_error: Option[Boolean],
      balance: Option[String],
      author: Option[String],
      rewardType: Option[String],
      result: Option[String],
      id: String)
}
