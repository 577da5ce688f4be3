package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session).
  * Every suite starts with empty storage, whatever ran before it.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.core.CacheScope.releaseAll(spark)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkEntry.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
