package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.CacheScope

class LogisticRegressionSpec extends SparkSpec {
  import spark.implicits._

  // two separable vocabularies: "good" docs vs "spam" docs
  private def corpus = (1L to 20L).map { i =>
    if (i % 2 == 0)
      (i, s"informative careful writing number $i with clear structured prose", 1.0)
    else
      (i, s"buy cheap pills now click here winner prize $i", 0.0)
  }.toDF("doc_id", "text", "y")

  test("separable corpus: learned scores order the classes apart") {
    val got = CacheScope.withReleased {
      LogisticRegression.fitScore(corpus, "doc_id", "text", col("y"),
        buckets = 64, iters = 20, lr = 2.0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    }
    val pos = (1L to 20L).filter(_ % 2 == 0).map(got)
    val neg = (1L to 20L).filter(_ % 2 != 0).map(got)
    assert(pos.min > neg.max,
      s"classes must separate: pos=${pos.sorted} neg=${neg.sorted}")
    assert(pos.forall(p => p > 0.5) && neg.forall(p => p < 0.5))
  }

  test("fit is deterministic across runs and partitionings") {
    val w1 = CacheScope.withReleased {
      LogisticRegression.fit(corpus, "doc_id", "text", col("y"), iters = 3)
    }
    val w2 = CacheScope.withReleased {
      LogisticRegression.fit(corpus.repartition(7), "doc_id", "text", col("y"), iters = 3)
    }
    assert(w1.toSeq === w2.toSeq, "weights must be bit-identical regardless of partitioning")
    assert(w1.exists(_ != 0.0))
  }

  test("feature map: bias slot, frequency normalization, zero-token docs dropped") {
    val f = LogisticRegression.featurize(
      Seq((1L, "a a b", 1.0), (2L, "", 0.0)).toDF("doc_id", "text", "y"),
      "doc_id", "text", col("y"), buckets = 8)
      .collect()
    // the empty doc tokenizes to [""] (split semantics) so it still has
    // one "token"; both rows present, x sums to bias 1.0 + freqs 1.0
    f.foreach { r =>
      val x = r.getSeq[Double](2)
      assert(x.head === 1.0)
      assert(math.abs(x.tail.sum - 1.0) < 1e-9)
    }
  }

  test("caches release with the bracket") {
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.withReleased {
      LogisticRegression.fit(corpus, "doc_id", "text", col("y"), iters = 1)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty)
  }

  test("array_dot_q9 kernel is bit-identical to the aggregate(zip_with) q9 fold") {
    val s = spark
    import s.implicits._
    // awkward deterministic doubles incl. negatives and magnitudes that
    // straddle the 1e9 quantizer — the fit/score dot must match the HOF
    // replay EXACTLY (the weights it trains are compared by the oracle)
    val rows = (0 until 100).map { i =>
      val a = Array.tabulate(65)(k => math.sin(i * 65 + k) * math.pow(10, (k % 9) - 4))
      val b = Array.tabulate(65)(k => math.cos(i + k) * math.pow(10, (i % 5) - 2))
      (i.toLong, a.toSeq, b.toSeq)
    }
    // inputs the fold maps to NULL (unequal lengths, a null slot) and
    // one it does not (two empty arrays sum to 0)
    val edge = Seq(
      (100L, Seq(Some(1.0), Some(2.0)), Seq(Some(3.0))),
      (101L, Seq(Some(1.0), None), Seq(Some(3.0), Some(4.0))),
      (102L, Seq.empty[Option[Double]], Seq.empty[Option[Double]]))
    val got = rows.toDF("id", "a", "b").unionByName(edge.toDF("id", "a", "b"))
      .select(col("id"),
        graft.functions.SketchFunctions.array_dot_q9(col("a"), col("b")).as("k"),
        aggregate(zip_with(col("a"), col("b"),
            (x, y) => floor(x * y * lit(1e9) + lit(0.5))),
          lit(0L), (acc, v) => acc + v).as("h"))
      .collect()
    assert(got.length === 103)
    got.foreach(r => assert(r.get(1) === r.get(2), s"row ${r.getLong(0)}"))
    assert(got.filter(r => r.isNullAt(1)).map(_.getLong(0)).toSet === Set(100L, 101L))
  }
}
