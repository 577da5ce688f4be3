package graft.curation

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {

  test("stratifiedHashSample applies per-stratum fractions with default") {
    val s = spark
    import s.implicits._
    val df = (0L until 3000L).map(i => (i, Seq("x", "y", "z")((i % 3).toInt)))
      .toDF("id", "stratum")
    val got = Curation.stratifiedHashSample(df, "id", "stratum",
      Map("x" -> 1.0, "y" -> 0.0), defaultFraction = 0.5)
    val byStratum = got.groupBy(col("stratum")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byStratum("x") === 1000L) // fraction 1.0 keeps everything
    assert(!byStratum.contains("y")) // fraction 0.0 keeps nothing
    assert(byStratum("z") > 300L && byStratum("z") < 700L) // ~50%
  }

  test("shuffleShards: deterministic permutation, dense per-shard positions, balanced") {
    val s = spark
    import s.implicits._
    val df = (0L until 2000L).toDF("id")
    val a = Curation.shuffleShards(df, "id", numShards = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    // reproducible across runs and partition counts
    val b = Curation.shuffleShards(df.repartition(17), "id", numShards = 8)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(a === b)
    // positions within each shard are dense 0..n-1
    a.values.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).toSeq.sorted === (0L until rows.size).toSeq)
    }
    // md5 keys spread uniformly: no shard more than 2x the fair share
    val sizes = a.values.groupBy(_._1).view.mapValues(_.size)
    assert(sizes.size === 8 && sizes.values.max < 500)
  }

  test("packSequences: exact prefix-sum pack assignment, partitioning-independent") {
    val s = spark
    import s.implicits._
    // wc: 1000, 1500, 600, 2048, 5 -> cum_before: 0, 1000, 2500, 3100, 5148
    val docs = Seq((1L, 1000), (2L, 1500), (3L, 600), (4L, 2048), (5L, 5))
      .toDF("doc_id", "wc")
    def run(np: Int) = Curation.packSequences(docs, "doc_id", col("wc"), 2048L,
      numPartitions = np).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    val expect = Seq((1L, 0L, 0L), (2L, 0L, 1000L), (3L, 1L, 452L),
      (4L, 1L, 1052L), (5L, 2L, 1052L))
    assert(run(3) === expect)
    assert(run(1) === expect) // result independent of the partition count
    assert(run(7) === expect) // (more partitions than rows: empties align)
  }

  test("decontaminate drops only probe-overlapping docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the secret benchmark question about spark shuffles and joins"),
      (2L, "a completely unrelated training document with fresh text")).toDF("doc_id", "text")
    val probes = Seq((100L, "what is the secret benchmark question about spark shuffles"))
      .toDF("probe_id", "probe_text")
    val matches = graft.dedup.Dedup.contaminationMatches(docs, "doc_id", "text",
      probes, "probe_id", "probe_text", n = 3, minShared = 3).collect()
    assert(matches.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 100L)))
    assert(matches.head.getLong(2) >= 3L)
    val kept = graft.dedup.Dedup.decontaminate(docs, "doc_id", "text",
      probes, "probe_id", "probe_text", n = 3, minShared = 3)
      .collect().map(_.getLong(0))
    assert(kept.toSeq === Seq(2L))
  }

  test("scrubContaminatedSpans cuts only the probe-matching span, keeps the doc") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "intro words here the secret benchmark question four and closing remarks after"),
      (2L, "a completely unrelated training document with fresh text")).toDF("doc_id", "text")
    val probes = Seq((100L, "prefix the secret benchmark question four suffix"))
      .toDF("probe_id", "probe_text")
    val got = graft.dedup.Dedup.scrubContaminatedSpans(docs, "doc_id", "text",
      probes, "probe_text", n = 5)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // doc 1 shares exactly the 5-gram 'the secret benchmark question
    // four' — those five words cut, the rest of the doc SURVIVES
    // (decontaminate would have dropped the whole row)
    assert(got(0) === ((1L, "intro words here and closing remarks after", 5L)))
    assert(got(1) === ((2L, "a completely unrelated training document with fresh text", 0L)))
    // a probe shorter than n contributes no grams — nothing cut
    val short = graft.dedup.Dedup.scrubContaminatedSpans(docs, "doc_id", "text",
      Seq((101L, "tiny probe")).toDF("probe_id", "probe_text"), "probe_text", n = 5)
    assert(short.agg(sum(col("n_cut"))).head().getLong(0) === 0L)
  }

  test("curateCorpus drops exact dups, near dups, off-language and low quality") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps of the lazy dog in the river bank today"),
      (1L, "the quick brown fox jumps of the lazy dog in the river bank today"), // exact dup -> drop
      (2L, "the quick brown fox jumps of the lazy dog in the river bank tonight"), // near dup -> drop
      (3L, "der hund und die katze das ist gut und der tag ist lang"), // German -> drop
      (4L, "a completely different text the parquet files of the spark engine and the shuffles")) // keeps
      .toDF("doc_id", "text")
    val got = Curation.curateCorpus(docs, "doc_id", "text",
      n = 3, tau = 0.5, minQuality = 0.3, lang = "en")
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(0L, 4L))
    got.foreach { r =>
      assert(r.getString(1) === "en")
      assert(r.getDouble(2) >= 0.3)
      assert(r.getLong(3) > 0L)
    }
  }

  test("writeTrainingShards: shard directories with in-file shuffle order") {
    val s = spark
    import s.implicits._
    val docs = (0 until 200).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val dir = scratch("shards")
    Curation.writeTrainingShards(docs, "doc_id", dir, numShards = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200)
    assert(back.select("shard").distinct().count() === 4)
    // every row kept exactly once, and positions are dense per shard
    assert(back.select("doc_id").distinct().count() === 200)
    val perShard = back.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("shard_pos")).as("mx"))
      .collect()
    perShard.foreach(r => assert(r.getLong(2) === r.getLong(1) - 1))
    // a name-ordered read of one shard's files replays shard_pos order
    val shard0 = new java.io.File(s"$dir/shard=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    val seen = shard0.flatMap(f =>
      spark.read.parquet(f).select("shard_pos").collect().map(_.getLong(0)))
    assert(seen.toSeq === seen.sorted.toSeq)
  }

  test("shard round-trip: reader replays the exact permutation; manifest catches corruption") {
    val s = spark
    import s.implicits._
    val docs = (0 until 300).map(i =>
      (i.toLong, s"text body $i", if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val dir = scratch("shards_rt")
    Curation.writeTrainingShards(docs, "doc_id", dir, numShards = 4)

    // reader round-trip: (shard, shard_pos)-ordered ids equal the
    // in-memory shuffle recomputed on the same ids — the disk hop is
    // invisible
    val back = Curation.readTrainingShards(spark, dir)
    val replayed = back.orderBy(col("shard"), col("shard_pos"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val want = Curation.shuffleShards(docs, "doc_id", 4)
      .orderBy(col("shard"), col("shard_pos"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(replayed === want, "reader must replay the content-keyed permutation")

    // manifest verification: all sources OK on the honest round trip
    val ok = Curation.verifyShardManifest(back, docs,
      "doc_id", "source", "text", 4)
    assert(ok.collect().forall(_.getAs[Boolean]("manifest_ok")))

    // a REORDER with identical content trips only the order
    // fingerprint: same rows, shard_pos reversed per shard
    val reordered = back.withColumn("shard_pos",
      max(col("shard_pos")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard")))
        - col("shard_pos"))
    val ro = Curation.verifyShardManifest(reordered, docs,
      "doc_id", "source", "text", 4)
    assert(ro.collect().forall(!_.getAs[Boolean]("manifest_ok")),
      "an order change with identical content must still fail (order_fp)")

    // corrupt the store: drop one whole shard directory → the manifest
    // must flag EVERY source that lost rows, by count and fingerprint
    def rmdir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmdir)); f.delete()
    }
    rmdir(new java.io.File(s"$dir/shard=2"))
    spark.catalog.refreshByPath(dir) // drop the cached file listing
    val bad = Curation.verifyShardManifest(
      Curation.readTrainingShards(spark, dir), docs,
      "doc_id", "source", "text", 4)
    assert(bad.collect().forall(!_.getAs[Boolean]("manifest_ok")),
      "a dropped shard must fail verification for the sources it hit")
  }

  test("mixCorpus: scarcest source caps the budget, unlisted sources drop, deterministic") {
    val s = spark
    import s.implicits._
    val docs = (0 until 100).map(i =>
      (i.toLong, s"doc $i", if (i < 40) "a" else if (i < 80) "b" else "x"))
      .toDF("doc_id", "text", "source")
    // equal weights over a(40) and b(40): budget = 80, f = 1.0 for both
    val all = Curation.mixCorpus(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.5))
    assert(all.count() === 80) // x excluded, nothing sampled away
    // skew the weights: a is now the scarce source (cap 40/0.8 = 50),
    // so a keeps everything and b keeps ~0.25 of its rows
    val skew = Curation.mixCorpus(docs, "doc_id", "source",
      Map("a" -> 0.8, "b" -> 0.2))
    val bySrc = skew.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("a") === 40)
    assert(bySrc.getOrElse("b", 0L) > 0 && bySrc("b") < 20)
    // pure function of content: identical on re-execution
    val ids = skew.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === skew.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // a weighted source missing from the corpus is a zero-row scarcest
    // source: the requested mixture is unachievable, so the output is
    // empty, not a silently wrong composition
    assert(Curation.mixCorpus(docs, "doc_id", "source",
      Map("a" -> 0.5, "missing" -> 0.5)).count() === 0)
  }

  test("chunkDocuments: stride windows, snap-to-end tail, short-doc passthrough") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"), // shorter than window
      (3L, (1 to 8).map(i => s"w$i").mkString(" "))) // last == stride boundary
      .toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, "doc_id", "text", window = 4, stride = 4)
      .orderBy(col("doc_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      // doc 1: starts 1, 5 then snap-to-end 7 (covers w7..w10)
      (1L, 1L, 1L, "w1 w2 w3 w4"),
      (1L, 2L, 5L, "w5 w6 w7 w8"),
      (1L, 3L, 7L, "w7 w8 w9 w10"),
      // doc 2: one whole-text chunk
      (2L, 1L, 1L, "a b c"),
      // doc 3: len 8 = 2 exact windows, no extra tail
      (3L, 1L, 1L, "w1 w2 w3 w4"),
      (3L, 2L, 5L, "w5 w6 w7 w8")))
  }

  test("chunkDocumentsSnapped: snap within tolerance, hard cut past it") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // separator at word 6, window 8, tolerance 3: cut 8 snaps back to
      // 6 (2 <= 3); next chunk starts at 7 — nothing lost or duplicated
      (1L, "w1 w2 w3 w4 w5 six. w7 w8 w9 w10 w11 w12"),
      // separator at word 4 is 4 > tolerance away from cut 8: hard cut
      (2L, "w1 w2 w3 four. w5 w6 w7 w8 w9 w10"),
      // no separators at all: identical to the fixed grid
      (3L, (1 to 10).map(i => s"w$i").mkString(" ")),
      // separator exactly at the cut point: clean sentence boundary
      (4L, "w1 w2 w3 w4 w5 w6 w7 eight. w9 w10"),
      // shorter than window: one unsnapped tail chunk even with a sep
      (5L, "a b. c"))
      .toDF("doc_id", "text")
    val got = Curation.chunkDocumentsSnapped(docs, "doc_id", "text",
        window = 8, tolerance = 3)
      .orderBy(col("doc_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 1L, 1L, "w1 w2 w3 w4 w5 six.", 6L),
      (1L, 2L, 7L, "w7 w8 w9 w10 w11 w12", 6L),
      (2L, 1L, 1L, "w1 w2 w3 four. w5 w6 w7 w8", 8L),
      (2L, 2L, 9L, "w9 w10", 2L),
      (3L, 1L, 1L, "w1 w2 w3 w4 w5 w6 w7 w8", 8L),
      (3L, 2L, 9L, "w9 w10", 2L),
      (4L, 1L, 1L, "w1 w2 w3 w4 w5 w6 w7 eight.", 8L),
      (4L, 2L, 9L, "w9 w10", 2L),
      (5L, 1L, 1L, "a b. c", 3L)))
    // successive snapped cuts chain: each window measures from the
    // PREVIOUS snapped cut, not the fixed grid
    val chained = Curation.chunkDocumentsSnapped(
        Seq((1L, "w1 w2 w3 w4 w5 six. w7 w8 w9 w10 w11 twelve. w13 w14"))
          .toDF("doc_id", "text"),
        "doc_id", "text", window = 8, tolerance = 3)
      .orderBy(col("chunk_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(chained.toSeq === Seq(
      (1L, 1L, "w1 w2 w3 w4 w5 six."),
      (2L, 7L, "w7 w8 w9 w10 w11 twelve."), // cut 6+8=14 snaps to 12
      (3L, 13L, "w13 w14")))
    // tolerance 0 degenerates to the fixed grid
    val grid = Curation.chunkDocumentsSnapped(docs, "doc_id", "text",
        window = 8, tolerance = 0)
      .orderBy(col("doc_id"), col("chunk_id"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(grid.toSeq === Seq(
      (1L, 1L, 8L), (1L, 9L, 4L),
      (2L, 1L, 8L), (2L, 9L, 2L),
      (3L, 1L, 8L), (3L, 9L, 2L),
      (4L, 1L, 8L), (4L, 9L, 2L),
      (5L, 1L, 3L)))
  }

  test("mixCorpusBy: token mass drives the budget, not row counts") {
    val s = spark
    import s.implicits._
    // a: 10 docs x 10 tokens = 100 tokens; b: 100 docs x 1 token = 100
    // tokens. Equal weights in TOKEN space keep both sources whole even
    // though their row counts differ 10x — row-count mixing would have
    // treated a as the scarce source and cut b to 10 rows.
    val docs = ((0 until 10).map(i => (i.toLong, Seq.fill(10)("w").mkString(" "), "a")) ++
      (100 until 200).map(i => (i.toLong, "w", "b")))
      .toDF("doc_id", "text", "source")
    val wc = graft.text.TextFunctions.tokenCountWs(col("text")).cast("long")
    val byTok = Curation.mixCorpusBy(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.5), wc)
    assert(byTok.count() === 110)
    val byRow = Curation.mixCorpus(docs, "doc_id", "source",
      Map("a" -> 0.5, "b" -> 0.5))
    assert(byRow.count() < 30) // same weights in row space cut b hard
    // deterministic: selection is a pure function of ids + counts
    val ids = byTok.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === byTok.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("capPerGroup: exact cap, small groups untouched, repartition-independent") {
    val s = spark
    import s.implicits._
    val docs = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 103).map(i => (i.toLong, "small")))
      .toDF("doc_id", "source")
    // a NULL group is capped like any other, never dropped
    val withNull = docs.union(
      (200 until 210).map(i => (i.toLong, null.asInstanceOf[String])).toDF("doc_id", "source"))
    assert(Curation.capPerGroup(withNull, "doc_id", "source", cap = 7)
      .filter(col("source").isNull).count() === 7L)
    val got = Curation.capPerGroup(docs, "doc_id", "source", cap = 7)
    val bySrc = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("big") === 7) // hot group capped exactly
    assert(bySrc("small") === 3) // under-cap group passes through whole
    // the kept rows are the cap smallest hash keys of the group —
    // identical across partitionings (no RNG, no partition order)
    val a = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Curation.capPerGroup(docs.repartition(13), "doc_id", "source", cap = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    val keys = docs.filter(col("source") === "big")
      .select(col("doc_id"), Curation.hashSampleKey(col("doc_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(r => (r._2, r._1))
    assert(keys.take(7).map(_._1).toSet === (a -- (100L until 103L)))
  }

  test("weightedHashSample: clamped thresholds, per-row monotone in the weight") {
    val s = spark
    import s.implicits._
    val docs = (0L until 500L).map(i => (i, (i % 10).toDouble / 10.0))
      .toDF("doc_id", "w")
    // weight 0 -> nothing; clamp at 1 -> everything
    assert(Curation.weightedHashSample(docs, "doc_id", lit(0.0), 0.9).count() === 0L)
    assert(Curation.weightedHashSample(docs, "doc_id", lit(5.0), 0.5).count() === 500L)
    // a row kept at weight w stays kept at any higher weight (same key)
    val lo = Curation.weightedHashSample(docs, "doc_id", col("w"), 0.8)
      .collect().map(_.getLong(0)).toSet
    val hi = Curation.weightedHashSample(docs, "doc_id", col("w") * 2, 0.8)
      .collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
    assert(lo.nonEmpty && hi.size < 500, "fixture vacuous")
    // and the weighted keep-rate tracks the weight: w=0 rows never kept
    assert(lo.forall(_ % 10 != 0))
  }

  test("splitByHash: complete, disjoint, growth-stable, roughly proportioned") {
    val s = spark
    import s.implicits._
    val docs = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val labeled = Curation.splitByHash(docs, "doc_id", splits)
    val byLabel = labeled.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum === 2000L) // complete: every row labeled
    assert(byLabel("train") > 1400 && byLabel("train") < 1800)
    assert(byLabel("val") > 100 && byLabel("val") < 320)
    assert(byLabel("test") > 100 && byLabel("test") < 320)
    // growth stability: adding rows never relabels an existing doc
    val grown = Curation.splitByHash(
      docs.unionByName((2000L until 3000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")),
      "doc_id", splits)
    val before = labeled.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    grown.filter(col("doc_id") < 2000).collect().foreach { r =>
      assert(before(r.getLong(0)) === r.getString(2), s"doc ${r.getLong(0)} migrated")
    }
    intercept[IllegalArgumentException](
      Curation.splitByHash(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.2)))
  }

  test("capPerGroup/shuffleShards: caller columns named like the temps survive intact") {
    val s = spark
    import s.implicits._
    // withColumn replaces in place — a caller column named `_key`/`_rk`
    // must come through untouched, not overwritten-then-dropped
    val docs = (0 until 40)
      .map(i => (i.toLong, s"src${i % 2}", s"payload$i", s"rank$i"))
      .toDF("doc_id", "source", "_key", "_rk")
    val capped = Curation.capPerGroup(docs, "doc_id", "source", cap = 5)
    assert(capped.columns.toSeq === docs.columns.toSeq)
    assert(capped.count() === 10)
    capped.collect().foreach { r =>
      val i = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("_key") === s"payload$i")
      assert(r.getAs[String]("_rk") === s"rank$i")
    }
    val sharded = Curation.shuffleShards(docs, "doc_id", numShards = 4)
    sharded.collect().foreach { r =>
      assert(r.getAs[String]("_key") === s"payload${r.getAs[Long]("doc_id")}")
    }
  }

  test("corpusReport: volumes, dup rate, decimal-exact mean quality per source") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "a", "en"),
      (2L, "alpha beta gamma", "a", "en"), // exact dup of 1
      (3L, "delta epsilon", "a", "de"),
      (4L, "zeta", "b", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val got = Curation.corpusReport(docs, "doc_id", "text", "source", "lang")
      .orderBy(col("source")).collect()
    val a = got(0)
    assert(a.getString(0) === "a" && a.getLong(1) === 3L && a.getLong(2) === 2L)
    assert(a.getDouble(3) === 0.333333) // dup_rate floor-truncated 6dp
    assert(a.getLong(4) === 8L && a.getDouble(5) === 2.666666)
    assert(a.getLong(7) === 2L) // en + de
    val b = got(1)
    assert(b.getString(0) === "b" && b.getLong(1) === 1L && b.getDouble(3) === 0.0)
    // mean of one doc = the same floor-truncation of its own score
    val q4 = docs.filter(col("doc_id") === 4L)
      .select(graft.text.TextFunctions.qualityScore(col("text"))).head().getDouble(0)
    assert(b.getDouble(6) === math.floor(q4 * 1e6) / 1e6)
  }

  test("crossEntropyScores: rare-word docs score higher than common-word docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the the the the cat"), // dominated by the commonest word
      (2L, "zyx qwv jkl pqr mno"), // all singletons
      (3L, "the cat and the dog"))
      .toDF("doc_id", "text")
    val got = Curation.crossEntropyScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 5L)
    // common words = low cross-entropy (head), rare garbage = high (tail)
    assert(got(1L)._2 < got(3L)._2 && got(3L)._2 < got(2L)._2)
    val bucket = Curation.perplexityBucket(col("xent"),
      headBelow = got(3L)._2, middleBelow = got(2L)._2)
    val buckets = Curation.crossEntropyScores(docs, "doc_id", "text")
      .withColumn("b", bucket)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(buckets === Map(1L -> "head", 3L -> "middle", 2L -> "tail"))
  }

  test("perplexityResample: rate-1 buckets keep everything, rate-0 buckets drop everything") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the the the the cat"),
      (2L, "zyx qwv jkl pqr mno"),
      (3L, "the cat and the dog"))
      .toDF("doc_id", "text")
    val x = Curation.crossEntropyScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // cutoffs put 1=head, 3=middle, 2=tail (x(1) < x(3) < x(2))
    val kept = Curation.perplexityResample(docs, "doc_id", "text",
        headBelow = x(3L), middleBelow = x(2L),
        headRate = 1.0, middleRate = 1.0, tailRate = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(3))).sortBy(_._1)
    assert(kept.toSeq === Seq((1L, "head"), (3L, "middle")))
    // all-rate-1 is the identity on rows
    assert(Curation.perplexityResample(docs, "doc_id", "text",
      x(3L), x(2L), 1.0, 1.0, 1.0).count() === 3L)
  }

  test("bigramCrossEntropyScores: repeated transitions score lower than novel ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b a b a b a b"),  // one dominant transition pattern
      (2L, "a b c d e f g h"),  // every transition unique
      (3L, "a b a b c d e f"),  // mixed
      (4L, "solo"))             // < 2 tokens: no transitions, no row
      .toDF("doc_id", "text")
    val got = Curation.bigramCrossEntropyScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(!got.contains(4L))
    assert(got(1L)._1 === 7L && got(2L)._1 === 7L)
    // the b->a / a->b loop is high-probability; the singleton chain is
    // backed off to unigrams and scores strictly higher
    assert(got(1L)._2 < got(3L)._2 && got(3L)._2 < got(2L)._2)
    // ordering sanity vs unigram: two docs with the IDENTICAL unigram
    // bag (3 a's, 3 b's each) tie under the unigram model; the bigram
    // model separates them by transition structure
    val bagDocs = Seq(
      (10L, "a b a b a b"),   // the common ab transition dominates
      (11L, "a a a b b b"))   // mostly transitions seen once or twice
      .toDF("doc_id", "text")
    val uni = Curation.crossEntropyScores(bagDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(10L) === uni(11L), "identical bags must tie under unigram")
    val bg = Curation.bigramCrossEntropyScores(bagDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bg(10L) < bg(11L),
      "bigram structure must separate docs word frequency cannot")
  }

  test("stratifiedSplit: exact per-stratum counts, deterministic, disjoint and complete") {
    val s = spark
    import s.implicits._
    val docs = (1L to 100L).map(i => (i, if (i <= 60) "a" else "b")).toDF("doc_id", "src")
    val got = Curation.stratifiedSplit(docs, "doc_id", "src", 0.8, 0.1)
    val counts = got.groupBy(col("src"), col("split")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // exact floors: a(60) -> 48/6/6; b(40) -> 32/4/4
    assert(counts === Map(
      ("a", "train") -> 48L, ("a", "val") -> 6L, ("a", "test") -> 6L,
      ("b", "train") -> 32L, ("b", "val") -> 4L, ("b", "test") -> 4L))
    // deterministic across invocations
    val again = Curation.stratifiedSplit(docs, "doc_id", "src", 0.8, 0.1)
      .orderBy(col("doc_id")).collect().map(_.getString(2))
    val first = got.orderBy(col("doc_id")).collect().map(_.getString(2))
    assert(first.toSeq === again.toSeq)
  }

  test("capTokensPerGroup: budget binds per group, one overshoot row allowed, never starves") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L), (4L, "a", 40L),
      (5L, "b", 500L)) // single huge doc: budget < size must still keep it
      .toDF("doc_id", "src", "wc")
    val kept = Curation.capTokensPerGroup(docs, "doc_id", "src", col("wc"), 100L)
      .collect().map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    // group a: hash order keeps rows while cum-before < 100 → exactly
    // 3 rows (0, 40, 80 before; the 4th sees 120)
    assert(kept("a").size === 3)
    // group b: the first row always survives (cum-before = 0)
    assert(kept("b") === Set(5L))
    // determinism
    val again = Curation.capTokensPerGroup(docs, "doc_id", "src", col("wc"), 100L)
      .collect().map(_.getLong(0)).toSet
    assert(again === kept.values.flatten.toSet)
  }

  test("qualityPercentiles: 0..1 within source, rank order follows quality, ties share") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", "the cat sat on the mat with a dog and a bird today here"),
      (2L, "a", "zz"),
      (3L, "a", "the quick brown fox jumps over the lazy dog near a river"),
      (4L, "b", "same text"), (5L, "b", "same text"))
      .toDF("doc_id", "source", "text")
    val got = Curation.qualityPercentiles(docs, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    assert(got(2L)._2 === 0.0, "worst doc of its source sits at percentile 0")
    assert(Seq(got(1L), got(3L)).maxBy(_._1)._2 === 1.0,
      "best doc of a 3-doc source sits at percentile 1")
    assert(got(4L)._2 === 0.0 && got(5L)._2 === 0.0,
      "identical-quality docs share the tied bottom rank")
  }

  test("qualityZScores standardizes within source; constant sources pin z = 0") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", "the cat sat on the mat with a dog and a bird today here"),
      (2L, "a", "zz"),
      (3L, "a", "the quick brown fox jumps over the lazy dog near a river"),
      (4L, "b", "same text"), (5L, "b", "same text"))
      .toDF("doc_id", "source", "text")
    val got = Curation.qualityZScores(docs, "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(3))).toMap
    // constant-quality source: zero variance, z pinned to 0
    assert(got(4L)._2 === 0.0 && got(5L)._2 === 0.0)
    // within source a, z orders like quality and sums to ~0
    assert(got(2L)._2 < 0.0, "the junk doc must sit below its source mean")
    val zs = Seq(got(1L)._2, got(2L)._2, got(3L)._2)
    assert(math.abs(zs.sum) < 1e-4, "per-source z-scores must center on 0")
  }

  test("kneserNeyBigramScores: hand-computed probabilities; repeated transitions score lower") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "c b"), (3L, "d b"), (4L, "q z q z q z"))
      .toDF("doc_id", "text")
    val got = Curation.kneserNeyBigramScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // bigram table: ab/cb/db ×1, qz ×3, zq ×2 → types=5
    // P(b|a) = (1-.75)/1 + (.75·1/1)·(n1b(b)=3/5)
    // P(z|q) = (3-.75)/3 + (.75·1/3)·(n1b(z)=1/5)
    // P(q|z) = (2-.75)/2 + (.75·1/2)·(n1b(q)=1/5)
    def lp6(p: Double): BigDecimal =
      BigDecimal(math.log(p)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val pAB = (1.0 - 0.75) / 1.0 + (0.75 * 1.0 / 1.0) * (3.0 / 5.0)
    val pQZ = (3.0 - 0.75) / 3.0 + (0.75 * 1.0 / 3.0) * (1.0 / 5.0)
    val pZQ = (2.0 - 0.75) / 2.0 + (0.75 * 1.0 / 2.0) * (1.0 / 5.0)
    def xent(lps: Seq[BigDecimal]): Double =
      math.floor(-(lps.sum.toDouble) / lps.size * 1e6) / 1e6
    assert(got(1L) === ((1L, xent(Seq(lp6(pAB))))))
    assert(got(4L)._1 === 5L)
    assert(got(4L)._2 ===
      xent(Seq(lp6(pQZ), lp6(pZQ), lp6(pQZ), lp6(pZQ), lp6(pQZ))))
    // the dominant-transition doc reads as lower cross-entropy
    assert(got(4L)._2 < got(1L)._2)
  }

  test("dsirLogWeights: target-domain docs outscore off-domain ones") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "der hund und die katze", true),
      (2L, "the cat and the dog", false),
      (3L, "der tag und die nacht", true),
      (4L, "the day and the night", false),
      (5L, "der hund und die nacht", false)) // target-like words, non-target doc
      .toDF("doc_id", "text", "is_de")
    val w = Curation.dsirLogWeights(docs, "doc_id", "text", col("is_de"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every German-vocabulary doc scores above every English one,
    // including doc 5, which is NOT in the target set — DSIR scores
    // content, not labels
    assert(Seq(1L, 3L, 5L).map(w).min > Seq(2L, 4L).map(w).max)
    // n_tokens = occurrence count, not distinct
    val n = Curation.dsirLogWeights(docs, "doc_id", "text", col("is_de"))
      .filter(col("doc_id") === 2L).head().getLong(2)
    assert(n === 5L)
  }

  test("corpusOverlap: exact pairwise shingle Jaccard; empty intersections omitted") {
    val s = spark
    import s.implicits._
    // srcA: shingles {a b c, b c d}; srcB: {b c d, c d e}; srcC: {x y z}
    val docs = Seq(
      (1L, "A", "a b c d"),
      (2L, "B", "b c d e"),
      (3L, "C", "x y z"))
      .toDF("doc_id", "source", "text")
    val got = Curation.corpusOverlap(docs, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(("A", "B", 1L, 0.333333)),
      "A∩B = {b c d}, |A∪B| = 3; C shares nothing and must not appear")
  }

  test("weightedSampleExact: exact k, weight-biased, partitioning-independent, w<=0 excluded") {
    val s = spark
    import s.implicits._
    // 20 heavy rows (w=1000) vs 180 light (w=1): top-30 must be
    // dominated by heavy rows (A-ES inclusion odds scale with w)
    val rows = ((1 to 20).map(i => (i.toLong, 1000.0)) ++
      (21 to 200).map(i => (i.toLong, 1.0)) ++
      Seq((900L, 0.0), (901L, -3.0))).toDF("doc_id", "w")
    val got = Curation.weightedSampleExact(rows, "doc_id", col("w"), 30)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(got.size === 30, "size must be exactly k")
    assert(!got.contains(900L) && !got.contains(901L), "non-positive weights cannot sample")
    val heavy = got.count(_ <= 20)
    assert(heavy >= 18, s"weight bias lost: only $heavy/20 heavy rows in the top 30")
    // pure function of (id, w): identical across partitionings
    val again = Curation.weightedSampleExact(rows.repartition(13), "doc_id", col("w"), 30)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(again === got)
    // k >= eligible rows returns all eligible
    assert(Curation.weightedSampleExact(rows, "doc_id", col("w"), 500).count() === 200L)
  }

  test("populationStability: identical halves score ~0, a shifted half scores high, empty cells stay finite") {
    val s = spark
    import s.implicits._
    // src S: sides a and b identically distributed over buckets 0..3
    val same = (0 until 4).flatMap(bkt =>
      Seq(("S", "a", bkt), ("S", "b", bkt), ("S", "a", bkt), ("S", "b", bkt)))
    // src T: side a all in bucket 0, side b all in bucket 3 (max shift);
    // buckets 1, 2 empty on both sides (the smoothing path)
    val shifted = (0 until 8).map(i => ("T", if (i < 4) "a" else "b", if (i < 4) 0 else 3))
    val df = (same ++ shifted).toDF("source", "side", "bucket").repartition(5)
    val m = Curation.populationStability(df, "source", "side", "bucket", 4)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("S")._1 === 8L && m("S")._2 === 8L)
    assert(m("S")._3 === 0.0, "identical distributions must have PSI exactly 0")
    assert(m("T")._3 > 1.0, s"fully shifted distribution must flag loudly, got ${m("T")._3}")
    assert(!m("T")._3.isInfinite && !m("T")._3.isNaN, "empty cells must smooth, not blow up")
    // partitioning invariance (DECIMAL term sums)
    val one = Curation.populationStability(df.repartition(1), "source", "side", "bucket", 4)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(one("T") === m("T")._3)
  }

  test("cdcChunks: chunks reassemble the doc; boundaries survive a prefix edit (the CDC property)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42L)
    val words = (1 to 400).map(_ => s"w${rnd.nextInt(500)}")
    val base = words.mkString(" ")
    val edited = "inserted tokens here " + base // 3-token prefix insertion
    val df = Seq((1L, base), (2L, edited), (3L, "tiny doc")).toDF("doc_id", "text")
    val got = Curation.cdcChunks(df, "doc_id", "text", window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val c1 = got.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    val c2 = got.filter(_._1 == 2L).sortBy(_._2).map(_._3)
    // chunks partition the token stream exactly
    assert(c1.mkString(" ") == base)
    assert(c2.mkString(" ") == edited)
    // sub-window doc = one whole-doc chunk
    assert(got.filter(_._1 == 3L).map(_._3) == Seq("tiny doc"))
    // content-defined boundaries: all but the first chunk(s) around the
    // edit are IDENTICAL — a fixed grid would shift every one of them
    val shared = c1.toSet.intersect(c2.toSet).size
    assert(shared >= c1.size - 2,
      s"prefix edit must leave later chunks aligned: shared=$shared of ${c1.size}")
    // mean chunk length is in the ~16-token band (mask = 1/16)
    val meanLen = c1.map(_.split(" ").length).sum.toDouble / c1.size
    assert(meanLen > 6 && meanLen < 40, s"suspicious mean chunk length $meanLen")
  }

  test("dedupWeights: cluster mass sums to exactly one per cluster, singletons weigh 1.0") {
    val s = spark
    import s.implicits._
    val docs = (0L until 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // cluster {0,1,2} via a chain, pair {5,6}; the rest singletons
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = graft.core.CacheScope.withReleased {
      Curation.dedupWeights(docs, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toMap
    }
    assert(math.abs(Seq(0L, 1L, 2L).map(got(_)._3).sum - 1.0) < 1e-12)
    assert(got(0L)._2 == 3L && got(5L)._2 == 2L && got(9L)._2 == 1L)
    assert(got(9L)._3 == 1.0 && got(5L)._3 == 0.5)
    // total sampling mass = number of distinct contents (7 clusters)
    assert(math.abs(got.values.map(_._3).sum - 7.0) < 1e-9)
  }

  test("sourceDivergence: identical sources ~0, disjoint vocab near ln2, partition-invariant") {
    val s = spark
    import s.implicits._
    val docs = (
      (1 to 5).map(i => (i.toLong, "alpha beta gamma delta", "twin1")) ++
      (6 to 10).map(i => (i.toLong, "alpha beta gamma delta", "twin2")) ++
      (11 to 15).map(i => (i.toLong, "omega sigma lambda kappa", "other"))
    ).toDF("doc_id", "text", "source")
    val got = graft.core.CacheScope.withReleased {
      Curation.sourceDivergence(docs, "source", "text")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    }
    assert(got.size == 3)
    assert(got(("twin1", "twin2")) < 1e-6, "identical distributions must diverge ~0")
    // add-one smoothing over the tiny fixture compresses the bound
    // (counts 5, V=8 → ~0.28); the separation vs the twin pair is the
    // property, plus the hard ln2 ceiling
    val lnTwo = math.log(2.0)
    assert(got(("other", "twin1")) > 0.2,
      s"disjoint vocab must diverge loudly, got ${got(("other", "twin1"))}")
    assert(got(("other", "twin1")) <= lnTwo + 1e-9)
    assert(got(("other", "twin1")) > 1000 * got(("twin1", "twin2")))
    val re = graft.core.CacheScope.withReleased {
      Curation.sourceDivergence(docs.repartition(7), "source", "text")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    }
    assert(re == got, "DECIMAL term sums must make JS partition-invariant")
  }

  test("temperatureWeights: sqrt compression boosts small sources, weights sum ≤ 1") {
    val s = spark
    import s.implicits._
    // 100:1 volume ratio compresses to 10:1 under sqrt
    val docs = ((1 to 100).map(i => (i.toLong, "x", "big")) ++
      Seq((200L, "x", "small"))).toDF("doc_id", "text", "source")
    val got = Curation.temperatureWeights(docs, "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got("big")._1 == 100L && got("small")._1 == 1L)
    val ratio = got("big")._2 / got("small")._2
    assert(ratio > 9.0 && ratio < 11.0, s"sqrt temperature ratio off: $ratio")
    // proportional would be ~0.99; sqrt gives the small source ~9%
    assert(got("small")._2 > 0.08)
    assert(got.values.map(_._2).sum <= 1.0 + 1e-9)
  }

  test("collocations: exclusive pair tops PMI, promiscuous pair ranks below, minCount prunes") {
    val s = spark
    import s.implicits._
    // "hong kong" always adjacent and exclusive; "the cat"/"the dog"
    // share a promiscuous left word; "rare gem" appears only 3 times
    val docs = (
      (1 to 8).map(i => (i.toLong, "hong kong is busy today indeed")) ++
      (9 to 16).map(i => (i.toLong, "the cat sat near the dog quietly")) ++
      (17 to 19).map(i => (i.toLong, "rare gem words appear here once"))
    ).toDF("doc_id", "text")
    val got = graft.core.CacheScope.withReleased {
      Curation.collocations(docs, "doc_id", "text", minCount = 5, k = 10)
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toList
    }
    val pmi = got.toMap
    assert(pmi.contains(("hong", "kong")))
    assert(!pmi.keySet.exists(p => p._1 == "rare"), "minCount=5 must prune the 3-count bigram")
    // exclusive pair beats pairs whose words appear in many contexts
    assert(pmi(("hong", "kong")) > pmi.getOrElse(("the", "cat"), Double.MinValue))
  }

  test("leakageFreeSplit: clusters never straddle the cut; growth never flips old docs") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // planted components: {0,1,2} (a chain) and {10,11}
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.core.CacheScope.withReleased {
      Curation.leakageFreeSplit(docs, "doc_id", pairs)
        .as[(Long, Long, String)].collect().toSeq
    }
    val bySplit = got.map(t => t._1 -> t._3).toMap
    val byGrp = got.map(t => t._1 -> t._2).toMap
    // every cluster member shares its root's group AND split
    assert(Seq(0L, 1L, 2L).map(byGrp).distinct == Seq(0L))
    assert(Seq(0L, 1L, 2L).map(bySplit).distinct.size == 1)
    assert(Seq(10L, 11L).map(bySplit).distinct.size == 1)
    // no near-dup pair straddles
    Seq((0L, 1L), (1L, 2L), (10L, 11L)).foreach { case (a, b) =>
      assert(bySplit(a) == bySplit(b)) }
    // growth stability: doubling the corpus with fresh unrelated docs
    // leaves every original assignment untouched
    val grown = docs.unionByName(
      (100L until 140L).map(i => (i, s"new $i")).toDF("doc_id", "text"))
    val regrown = graft.core.CacheScope.withReleased {
      Curation.leakageFreeSplit(grown, "doc_id", pairs)
        .as[(Long, Long, String)].collect().toSeq
    }
    val oldAfter = regrown.filter(_._1 < 100L).map(t => t._1 -> t._3).toMap
    assert(oldAfter == bySplit)
    // both splits are populated at this size (sanity on the 4/16 rule)
    assert(got.map(_._3).toSet == Set("train", "test"))
  }
}
