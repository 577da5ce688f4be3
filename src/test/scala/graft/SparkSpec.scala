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

  private val scratchDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh directory under the system temp dir for the suite's own
    * tables, deleted when the suite ends. `CacheScope.releaseAll` does
    * not touch it, so a test that releases storage mid-suite keeps its
    * tables.
    */
  def scratch(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    scratchDirs += dir
    dir.toString
  }

  override def afterAll(): Unit =
    try scratchDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    finally super.afterAll()

  /** Run `body` with an installed optimizer rule switched off through
    * Spark's own `spark.sql.optimizer.excludedRules` — the reference
    * plan a rewrite must match row for row. Plan and run the frame
    * inside `body`: a query keeps the plan it optimized first. Adds to
    * any exclusion already set and restores it on exit, so calls nest.
    */
  def withoutRule[T](rule: org.apache.spark.sql.catalyst.rules.Rule[_])(body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (prev.toSeq :+ rule.ruleName).mkString(","))
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkEntry.localSession(4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
