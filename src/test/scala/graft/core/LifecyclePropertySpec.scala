package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Randomized lifecycle histories (seeded, offline-deterministic — no
  * scalacheck bridge): arbitrary interleavings of append / DELETE /
  * MERGE / compact / restore must leave the change feed able to
  * reproduce EVERY version pair bag-exactly, and a keyed CDC mirror
  * synced at arbitrary points must always equal the source head.
  * This is the composition surface no single-scenario spec covers.
  */
class LifecyclePropertySpec extends SparkSpec {
  import spark.implicits._

  private def bagEq(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("random op interleavings: feed reproduces every version pair; mirror tracks") {
    val rnd = new scala.util.Random(20260815L)
    (0 until 3).foreach { trial =>
      val root = scratch(s"lprop$trial")
      val src = s"$root/src"; val rep = s"$root/rep"
      (0L until 60L).map(i => (i, i % 5, s"p$i")).toDF("id", "k", "p")
        .repartitionByRange(3, col("id")).write.parquet(src)
      VersionLog.snapshot(spark, src)
      Cdc.mirrorOnce(spark, src, rep, Seq("id"))
      var nextId = 1000L * (trial + 1)
      (0 until 6).foreach { step =>
        rnd.nextInt(5) match {
          case 0 => // append
            (nextId until nextId + 8L).map(i => (i, i % 5, s"p$i"))
              .toDF("id", "k", "p").write.mode("append").parquet(src)
            nextId += 8L
            VersionLog.snapshot(spark, src)
          case 1 => // predicate delete (never all rows: one k residue)
            Dml.deleteWhere(spark, src,
              col("k") === (rnd.nextInt(5).toLong) &&
                col("id") % 2 === (rnd.nextInt(2).toLong))
            ()
          case 2 => // merge: replace a gated slice + insert fresh keys
            val head = VersionLog.readVersion(spark, src,
              VersionLog.latest(spark, src))
            val replaced = head.filter(col("id") % 7 === 3)
              .withColumn("p", concat(lit("u"), col("p")))
            val inserted = Seq((nextId, 0L, s"i$nextId"))
              .toDF("id", "k", "p")
            nextId += 1L
            Dml.mergeInto(spark, src,
              replaced.unionByName(inserted), Seq("id"))
            ()
          case 3 => // compact
            VersionLog.compact(spark, src, files = 1 + rnd.nextInt(3))
            ()
          case 4 => // restore to a random recorded version
            val vs = VersionLog.versions(spark, src)
            VersionLog.restore(spark, src, vs(rnd.nextInt(vs.size)))
            ()
        }
        // the mirror syncs at arbitrary points and must always land
        // exactly on the source head
        if (step % 2 == 1) {
          Cdc.mirrorOnce(spark, src, rep, Seq("id"))
          assert(bagEq(Cdc.readMirror(spark, rep),
            VersionLog.readVersion(spark, src,
              VersionLog.latest(spark, src))),
            s"trial $trial step $step: mirror diverged from the head")
        }
      }
      // the feed reproduces version pairs: all consecutive pairs, all
      // pairs from v1, and a random sample of the rest
      val vs = VersionLog.versions(spark, src)
      val pairs = (vs.zip(vs.tail) ++ vs.tail.map(v => (vs.head, v)) ++
        Seq.fill(4)((vs(rnd.nextInt(vs.size)), vs(rnd.nextInt(vs.size))))
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }).distinct
      pairs.foreach { case (from, to) =>
        val feed = VersionLog.readChangeFeed(spark, src, from, to)
        val ins = feed.filter(col("_change_type") === "insert")
          .select("id", "k", "p")
        val del = feed.filter(col("_change_type") === "delete")
          .select("id", "k", "p")
        val applied = VersionLog.readVersion(spark, src, from)
          .select("id", "k", "p").unionByName(ins).exceptAll(del)
        assert(bagEq(applied,
          VersionLog.readVersion(spark, src, to).select("id", "k", "p")),
          s"trial $trial: feed $from->$to failed to reproduce the target")
      }
      // final catch-up: the mirror equals the head exactly
      Cdc.mirrorOnce(spark, src, rep, Seq("id"))
      assert(bagEq(Cdc.readMirror(spark, rep),
        VersionLog.readVersion(spark, src, VersionLog.latest(spark, src))))
    }
  }
}
