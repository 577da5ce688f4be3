package graft.dedup

import org.apache.spark.sql.{CachedEntries, DataFrame}

import graft.SparkSpec
import graft.core.CacheScope
import graft.curation.Curation

/** The deterministic release bracket for operator-managed caches: after
  * a `withReleased` block consuming the chain-family operators closes,
  * the storage layer is EMPTY again (getPersistentRDDs has no entries)
  * — the round-6 bench-inflation leak, closed as an API guarantee.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  private def persistedRddCount: Int = {
    // cached-but-never-materialized DataFrames register with the
    // CacheManager, not the RDD map, so force a GC-free sync point by
    // only counting entries with a live storage level
    spark.sparkContext.getPersistentRDDs.size
  }

  private def assertStorageEmpty(): Unit = {
    assert(persistedRddCount === 0,
      s"storage not empty: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  // Big enough to clear the LocalResolveRows fast path? No — the fast
  // paths collect and release eagerly, so they never leak; the spec
  // must drive the DISTRIBUTED paths, which it does by shrinking the
  // local threshold through the operators' localLimit parameter.

  test("connectedComponents storage released by the bracket (distributed path)") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 5L))
      .toDF("doc_a", "doc_b")
    val out = CacheScope.withReleased {
      // localLimit=0 forces the distributed label-propagation path,
      // whose returned labeling stays persisted for consumption
      val labels = Dedup.connectedComponents(pairs, localLimit = 0L)
      val got = labels.orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(persistedRddCount > 0, "expected live operator caches inside the bracket")
      got
    }
    assertStorageEmpty()
    assert(out === Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L), (7L, 5L)))
  }

  test("resolveChains storage released by the bracket (distributed path)") {
    spark.catalog.clearCache()
    // keeper chain 4->3->2->1 plus the independent pair (10, 11)
    val mapping = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("keep", "drop")
    val out = CacheScope.withReleased {
      // localLimit=0 forces the distributed pointer-jumping path,
      // whose returned survivor map stays persisted for consumption
      val m = Dedup.resolveChains(mapping, localLimit = 0L)
      val got = m.orderBy("drop").as[(Long, Long)].collect().toSeq
      assert(persistedRddCount > 0, "expected live operator caches inside the bracket")
      got
    }
    assertStorageEmpty()
    assert(out === Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L)))
  }

  test("curateCorpus survivor cache released by the bracket") {
    spark.catalog.clearCache()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the cat and the dog are in the house and they all sleep there with the mouse"))
      .toDF("id", "text")
    val ids = CacheScope.withReleased {
      val kept = Curation.curateCorpus(docs, "id", "text", minQuality = 0.0)
      kept.select("id").as[Long].collect().toSet
    }
    assertStorageEmpty()
    assert(ids.contains(3L))
    assert(!(ids.contains(1L) && ids.contains(2L)), "exact dup pair must collapse")
  }

  test("brackets nest: inner releases only its own registrations") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    CacheScope.withReleased {
      val outer = Dedup.connectedComponents(pairs, localLimit = 0L)
      outer.count()
      val outerLive = persistedRddCount
      assert(outerLive > 0)
      CacheScope.withReleased {
        // DIFFERENT edge data: an identical plan would hit Spark's
        // CacheManager plan-dedup and share the outer bracket's cache
        val inner = Dedup.connectedComponents(
          Seq((7L, 8L), (8L, 9L)).toDF("doc_a", "doc_b"), localLimit = 0L)
        inner.count()
        assert(persistedRddCount > outerLive)
      }
      // inner bracket's caches released, outer's untouched
      assert(persistedRddCount === outerLive)
      assert(outer.orderBy("doc_id").count() === 3L)
    }
    assertStorageEmpty()
  }

  test("releaseAll reaches the raw-RDD caches clearCache cannot") {
    CacheScope.releaseAll(spark)
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    // no bracket open; holding the result keeps its persisted
    // generations reachable, so the ContextCleaner cannot release them
    // between the checks below
    val ranks = graft.core.Graph.pageRank(nodes, edges, iters = 3)
    assert(ranks.count() === 6L)
    spark.catalog.clearCache()
    assert(persistedRddCount > 0, "clearCache alone should leave the raw-RDD caches")
    CacheScope.releaseAll(spark)
    assertStorageEmpty()
  }

  test("operators whose every read sits in one plan leave no cache") {
    CacheScope.releaseAll(spark)
    val docs = Seq(
      (1L, "a", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a", "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "b", "the quick brown fox jumps over the lazy dog again and again"),
      (4L, "b", "a cat and a mouse sleep in the old house by the river"))
      .toDF("doc_id", "source", "text")
    val fps = Seq((1L, 0x0fL), (2L, 0x0eL), (3L, -1L)).toDF("id", "fp")
    val emb = (0 until 64).map(i => if (i % 2 == 0) 1.0 else 0.5)
    val embs = Seq((1L, emb), (2L, emb.updated(0, 0.9)), (3L, emb.map(-_)))
      .toDF("id", "emb")
    val cap = Some(10)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "jaccardPairs" -> (() => Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5, cap)),
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(docs, "doc_id", "text",
        maxBucketDocFreq = cap)),
      "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text",
        maxBucketDocFreq = cap)),
      "hammingPairs64" -> (() => Dedup.hammingPairs64(fps, "id", "fp",
        maxBucketDocFreq = cap)),
      "tfidfCosinePairs" -> (() => Dedup.tfidfCosinePairs(docs, "doc_id", "text", 0.5, cap)),
      "cosinePairsLsh" -> (() => graft.similarity.Similarity.cosinePairsLsh(
        embs, "id", "emb", 0.9, maxBucketDocFreq = cap)),
      "sourceDivergence" -> (() => Curation.sourceDivergence(docs, "source", "text")),
      "NaiveBayes.fit" -> (() => graft.text.NaiveBayes.fit(docs, "text", "source").mat))
    cases.foreach { case (name, op) =>
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val entries = CachedEntries(spark)
      // collected with no bracket open: a persist would stay registered
      assert(op().collect().nonEmpty, s"$name returned no rows")
      assert(spark.sparkContext.getPersistentRDDs.keySet === rdds, s"$name left a persisted RDD")
      assert(CachedEntries(spark) === entries, s"$name left a CacheManager entry")
    }
  }

  test("bracket releases on exception and is a no-op with no registrations") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[RuntimeException] {
      CacheScope.withReleased {
        Dedup.connectedComponents(pairs, localLimit = 0L).count()
        throw new RuntimeException("boom")
      }
    }
    assertStorageEmpty()
    // empty bracket
    assert(CacheScope.withReleased(42) === 42)
    assertStorageEmpty()
  }
}
