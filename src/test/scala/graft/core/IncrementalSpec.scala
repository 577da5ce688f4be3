package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cursor-driven incremental runs: delta-exact processing, no-op when
  * caught up, first-run full read, and the at-least-once replay shape.
  */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("each run sees exactly its delta; caught-up runs no-op") {
    val root = scratch("incr")
    val dir = s"$root/t"
    val cursor = s"$root/cursor"
    var seen = Vector.empty[Seq[Long]]
    def step() = Incremental.runOnce(spark, dir, cursor) { d =>
      seen :+= d.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    }
    (0L until 10L).map(Tuple1(_)).toDF("id").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    assert(step() === Some((0, 1)))
    (10L until 15L).map(Tuple1(_)).toDF("id").write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir)
    (15L until 17L).map(Tuple1(_)).toDF("id").write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir)
    // one run covers BOTH pending versions in one delta
    assert(step() === Some((1, 3)))
    assert(step() === None)
    assert(seen === Vector((0L until 10L).toSeq, (10L until 17L).toSeq))
  }

  test("a compacted source is transparent to the cursor (zero-row delta)") {
    val root = scratch("incrcompact")
    val dir = s"$root/t"
    val cursor = s"$root/cursor"
    (0L until 10L).map(Tuple1(_)).toDF("id").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    Incremental.runOnce(spark, dir, cursor)(_ => ())
    VersionLog.compact(spark, dir, files = 1) // v2: zero logical change
    (10L until 14L).map(Tuple1(_)).toDF("id").write.mode("append").parquet(dir)
    VersionLog.snapshot(spark, dir) // v3
    // the run crosses the compact and delivers ONLY the append's rows
    var got = Seq.empty[Long]
    assert(Incremental.runOnce(spark, dir, cursor) { d =>
      got = d.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    } === Some((1, 3)))
    assert(got === (10L until 14L).toSeq)
  }

  test("a DML source guides to runOnceFeed, which delivers signed rows") {
    val root = scratch("incrdml")
    val dir = s"$root/t"
    val cursor = s"$root/cursor"
    (0L until 10L).map(i => (i, i % 2)).toDF("id", "k").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    Incremental.runOnce(spark, dir, cursor)(_ => ())
    Dml.deleteWhere(spark, dir, col("id") >= 8L) // v2: a rewrite
    val e = intercept[IllegalArgumentException] {
      Incremental.runOnce(spark, dir, cursor)(_ => ())
    }
    assert(e.getMessage.contains("runOnceFeed"))
    assert(e.getMessage.contains("Incremental.reset"))
    // the feed variant consumes the delete as signed events
    var dels = Seq.empty[Long]
    assert(Incremental.runOnceFeed(spark, dir, cursor) { d =>
      dels = d.filter(col("_change_type") === "delete")
        .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
    } === Some((1, 2)))
    assert(dels === Seq(8L, 9L))
    assert(Incremental.runOnceFeed(spark, dir, cursor)(_ => ()) === None)
    // operator override still available: reprocess everything
    Incremental.reset(spark, cursor, None)
    var n = -1L
    assert(Incremental.runOnce(spark, dir, cursor)(d => n = d.count()).isDefined)
    assert(n === 8L)
  }

  test("a crash before the cursor write replays the same delta (at-least-once)") {
    val root = scratch("incrc")
    val dir = s"$root/t"
    val cursor = s"$root/cursor"
    (0L until 5L).map(Tuple1(_)).toDF("id").write.parquet(dir)
    VersionLog.snapshot(spark, dir)
    // transform throws → cursor never advances
    intercept[RuntimeException] {
      Incremental.runOnce(spark, dir, cursor)(_ => sys.error("boom"))
    }
    assert(Incremental.readCursor(spark, cursor).isEmpty)
    var n = -1L
    assert(Incremental.runOnce(spark, dir, cursor)(d => n = d.count())
      === Some((0, 1)))
    assert(n === 5L)
  }
}
