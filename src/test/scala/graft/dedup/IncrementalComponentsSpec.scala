package graft.dedup

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.core.CacheScope

/** Incremental connected components == full recompute on the unioned
  * edge set, across every batch shape a streaming-ingest dedup service
  * sees.
  */
class IncrementalComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(p: (Long, Long)*): DataFrame =
    p.toDF("doc_a", "doc_b")

  private def run(old: DataFrame, batch: DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)]) =
    CacheScope.withReleased {
      val labels = Dedup.connectedComponents(old)
      val inc = Dedup.connectedComponentsIncremental(labels, batch)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      val full = Dedup.connectedComponents(old.unionByName(batch))
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      (inc, full)
    }

  test("batch merging two old components") {
    val (inc, full) = run(
      pairs((1L, 2L), (5L, 6L), (8L, 9L)),
      pairs((2L, 6L)))
    assert(inc === full)
    // the merged family carries the global min label
    assert(inc.filter(r => Set(1L, 2L, 5L, 6L).contains(r._1)).forall(_._2 == 1L))
    // untouched component keeps its label
    assert(inc.filter(r => Set(8L, 9L).contains(r._1)).forall(_._2 == 8L))
  }

  test("new node undercutting an old component's min relabels it") {
    val (inc, full) = run(
      pairs((5L, 6L)),
      pairs((2L, 6L)))
    assert(inc === full)
    assert(inc === Seq((2L, 2L), (5L, 2L), (6L, 2L)))
  }

  test("batch of only-new nodes adds a component without touching old ones") {
    val (inc, full) = run(
      pairs((1L, 2L)),
      pairs((10L, 11L), (11L, 12L)))
    assert(inc === full)
  }

  test("batch edge inside one old component is a no-op on labels") {
    val (inc, full) = run(
      pairs((1L, 2L), (2L, 3L)),
      pairs((1L, 3L)))
    assert(inc === full)
  }

  test("chained merges through a new bridge node across three old components") {
    val (inc, full) = run(
      pairs((1L, 2L), (5L, 6L), (8L, 9L)),
      pairs((2L, 100L), (100L, 6L), (100L, 9L)))
    assert(inc === full)
    assert(inc.forall(_._2 == 1L))
  }

  test("distributed paths agree with the local fast paths") {
    // earlier suites legitimately leave operator caches behind (they
    // run outside brackets, and clearCache cannot reach raw RDDs); the
    // assert below is about THIS bracket's releases, so it compares
    // against what the session held when the test started
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val old = pairs((1L, 2L), (5L, 6L), (8L, 9L), (20L, 21L))
    val batch = pairs((2L, 6L), (9L, 30L), (31L, 32L))
    val (incDist, fullDist) = CacheScope.withReleased {
      val labels = Dedup.connectedComponents(old, localLimit = 0L)
      val inc = Dedup.connectedComponentsIncremental(labels, batch, localLimit = 0L)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      val full = Dedup.connectedComponents(old.unionByName(batch), localLimit = 0L)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      (inc, full)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty)
    val (incLoc, fullLoc) = run(old, batch)
    assert(incDist === fullDist)
    assert(incDist === incLoc)
    assert(fullDist === fullLoc)
  }
}
