package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.CacheScope

/** On-disk LSH index: probe equality with the in-memory operator,
  * partition pruning reaching the bucket scan, incremental append, and
  * cache release.
  */
class LshIndexSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, text: String) = (id, text)

  // reference corpus: ids < 100; two internal near-dup families plus
  // distinct docs
  private lazy val ref = Seq(
    doc(1L, "the quick brown fox jumps over the lazy dog by the river bank today"),
    doc(2L, "the quick brown fox jumps over the lazy dog by the river bank tonight"),
    doc(3L, "spark structured streaming checkpoints state in a write ahead log"),
    doc(4L, "columnar parquet scans prune row groups with min max statistics"),
    doc(5L, "gradient descent converges when the learning rate is small enough"),
    doc(6L, "the quick brown fox jumps over the lazy dog by the river bank today"),
    doc(7L, "distributed joins shuffle both sides on the join key partitions")
  ).toDF("doc_id", "text")

  // batch: ids >= 100; 101 near-dups ref 1/2/6, 102 matches ref 3,
  // 103 is novel, 104/105 are a within-batch dup pair (must NOT appear
  // in probe output)
  private lazy val batch = Seq(
    doc(101L, "the quick brown fox jumps over the lazy dog by the river bank today"),
    doc(102L, "spark structured streaming checkpoints state in a write ahead log"),
    doc(103L, "an unrelated novel document about bloom filters and sketches"),
    doc(104L, "two peas in a pod share almost every word of this sentence"),
    doc(105L, "two peas in a pod share almost every word of this sentence")
  ).toDF("doc_id", "text")

  private def crossPairs(union: org.apache.spark.sql.DataFrame) =
    Dedup.minhashLshPairs(union, "doc_id", "text",
        n = 3, tau = 0.5, numHashes = 64, bands = 16)
      // doc_a < doc_b and disjoint id ranges: cross pairs are exactly
      // (ref, batch) oriented
      .filter(col("doc_a") < 100 && col("doc_b") >= 100)
      .select(col("doc_a").as("ref_id"), col("doc_b").as("new_id"), col("jaccard"))
      .orderBy("ref_id", "new_id").as[(Long, Long, Double)].collect().toSeq

  test("probe == in-memory minhashLshPairs cross pairs; pruning reaches the scan") {
    spark.catalog.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val dir = scratch("lshidx")
    LshIndex.write(ref, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    val (got, plan) = CacheScope.withReleased {
      val probed = LshIndex.probe(spark, dir, batch, "doc_id", "text", tau = 0.5)
      val rows = probed.orderBy("ref_id", "new_id")
        .as[(Long, Long, Double)].collect().toSeq
      val p = probed.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      (rows, p)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rdds).isEmpty,
      "probe caches must be released by the bracket")
    val want = crossPairs(ref.unionByName(batch))
    assert(got === want)
    assert(got.nonEmpty, "fixture must produce cross near-dup pairs")
    // within-batch dup pair 104/105 is not a cross pair
    assert(!got.exists(r => r._1 >= 100))
    // the batch's pb set reaches the bucket scan as a partition filter
    assert(plan.contains("PartitionFilters") && plan.contains("pb"),
      "batch pb set did not reach the index scan as a partition filter")
  }

  test("append extends the index; probing after append sees the batch") {
    spark.catalog.clearCache()
    val dir = scratch("lshidx")
    LshIndex.write(ref, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    LshIndex.append(spark, dir, batch, "doc_id", "text")
    // second batch: 201 duplicates batch doc 103 (only findable if the
    // append landed), 202 duplicates ref doc 4
    val batch2 = Seq(
      doc(201L, "an unrelated novel document about bloom filters and sketches"),
      doc(202L, "columnar parquet scans prune row groups with min max statistics")
    ).toDF("doc_id", "text")
    val got = CacheScope.withReleased {
      LshIndex.probe(spark, dir, batch2, "doc_id", "text", tau = 0.5)
        .orderBy("ref_id", "new_id").as[(Long, Long, Double)].collect().toSeq
    }
    val want = Dedup.minhashLshPairs(
        ref.unionByName(batch).unionByName(batch2), "doc_id", "text",
        n = 3, tau = 0.5, numHashes = 64, bands = 16)
      .filter(col("doc_a") < 200 && col("doc_b") >= 200)
      .select(col("doc_a").as("ref_id"), col("doc_b").as("new_id"), col("jaccard"))
      .orderBy("ref_id", "new_id").as[(Long, Long, Double)].collect().toSeq
    assert(got === want)
    assert(got.exists(_._1 === 103L), "append-landed doc must be probeable")
    assert(got.exists(_._1 === 4L))
  }

  test("delete forgets docs: probe == index rebuilt without them; untouched partitions not rewritten") {
    spark.catalog.clearCache()
    val dir = scratch("lshidx")
    LshIndex.write(ref, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    // snapshot every partition file's (path, size, mtime) before delete
    def snapshot(sub: String): Map[String, (Long, Long)] = {
      val base = java.nio.file.Paths.get(s"$dir/$sub")
      val out = scala.collection.mutable.Map[String, (Long, Long)]()
      java.nio.file.Files.walk(base).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          out(p.toString) = (java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }
      out.toMap
    }
    val before = snapshot("buckets") ++ snapshot("sigs")
    // forget the near-dup family 1/2/6 (delete rows come from the corpus)
    val toDelete = ref.filter(col("doc_id").isin(1L, 2L, 6L))
    LshIndex.delete(spark, dir, toDelete, "doc_id", "text")
    val after = snapshot("buckets") ++ snapshot("sigs")
    // deleted docs are unfindable: probing their exact text matches nothing
    val probeBatch = Seq(
      doc(100L, "the quick brown fox jumps over the lazy dog by the river bank today"),
      doc(102L, "spark structured streaming checkpoints state in a write ahead log")
    ).toDF("doc_id", "text")
    val got = CacheScope.withReleased {
      LshIndex.probe(spark, dir, probeBatch, "doc_id", "text", tau = 0.5)
        .orderBy("ref_id", "new_id").as[(Long, Long, Double)].collect().toSeq
    }
    // equality with a FRESH index over corpus \ deleted
    val dir2 = scratch("lshidx")
    LshIndex.write(ref.filter(!col("doc_id").isin(1L, 2L, 6L)),
      "doc_id", "text", dir2, n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    val want = CacheScope.withReleased {
      LshIndex.probe(spark, dir2, probeBatch, "doc_id", "text", tau = 0.5)
        .orderBy("ref_id", "new_id").as[(Long, Long, Double)].collect().toSeq
    }
    assert(got === want)
    assert(!got.exists(r => Set(1L, 2L, 6L)(r._1)), "forgotten docs must not match")
    assert(got.exists(_._1 === 3L), "kept docs must still match")
    // files in partitions the deleted docs never touched are byte-identical
    val untouchedSurvivors = before.keySet.intersect(after.keySet)
      .count(k => before(k) == after(k))
    assert(untouchedSurvivors > 0,
      "fixture must leave some partitions untouched for the pruning assert")
    // and no file OUTSIDE the affected partitions changed: every
    // changed/removed path must be under a partition dir that held a
    // deleted doc's rows (we assert the complement: surviving paths
    // with changed metadata must be none)
    val changedSurvivors = before.keySet.intersect(after.keySet)
      .filter(k => before(k) != after(k))
    assert(changedSurvivors.isEmpty,
      s"files rewritten in place (must be swap-or-keep): $changedSurvivors")
  }

  test("hot-bucket guard drops template buckets like the in-memory form") {
    spark.catalog.clearCache()
    val dir = scratch("lshidx")
    // 6 copies of one template: every band bucket of the template holds
    // 6 ref docs; cap 5 drops them all, so the probe of a 7th copy
    // finds nothing through LSH
    val template = "boilerplate navigation header footer copyright contact about terms privacy"
    val hotRef = (1L to 6L).map(i => doc(i, template)).toDF("doc_id", "text")
    LshIndex.write(hotRef, "doc_id", "text", dir,
      n = 3, numHashes = 64, bands = 16, numPartitions = 8)
    val probeBatch = Seq(doc(100L, template)).toDF("doc_id", "text")
    val guarded = CacheScope.withReleased {
      LshIndex.probe(spark, dir, probeBatch, "doc_id", "text",
        tau = 0.5, maxBucketDocFreq = Some(5)).count()
    }
    val unguarded = CacheScope.withReleased {
      LshIndex.probe(spark, dir, probeBatch, "doc_id", "text", tau = 0.5).count()
    }
    assert(guarded === 0L)
    assert(unguarded === 6L)
  }
}
