package graft.curation

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end command flow over parquet directories: dedup → decontam
  * → redact → shards, each stage a rerunnable overwrite.
  */
class TrainCliSpec extends SparkSpec {

  test("the command chain runs end-to-end on parquet dirs and is rerun-safe") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)

    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "web"),
      (2L, "the quick brown fox jumps over the lazy dog", "web"), // exact dup
      (3L, "call me at 415-555-0042 about spark engines today", "web"),
      (4L, "held out benchmark sentence that must never train here", "wiki"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$root/docs")
    Seq((9L, "held out benchmark sentence that must never train here"))
      .toDF("pid", "text").write.parquet(s"$root/probes")

    assert(cli.dedup(s"$root/docs", s"$root/d1") === 3L) // dup 2 dropped
    assert(cli.decontam(s"$root/d1", s"$root/probes", s"$root/d2",
      n = 3, minShared = 2) === 2L) // doc 4 dropped
    assert(cli.redact(s"$root/d2", s"$root/d3") === 2L)
    val redacted = spark.read.parquet(s"$root/d3")
      .filter(col("doc_id") === 3L).head().getAs[String]("text")
    assert(redacted.contains("<PHONE>") && !redacted.contains("415-555"))
    assert(cli.shards(s"$root/d3", s"$root/out", numShards = 2) === 2L)
    // rerun-safe: same command, same output
    assert(cli.shards(s"$root/d3", s"$root/out", numShards = 2) === 2L)
  }

  test("dedupLines, cap, and token mix commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli2")
    val cli = new TrainCli(spark)
    Seq(
      (1L, "unique one\nshared footer", "a"),
      (2L, "unique two\nshared footer", "a"),
      (3L, "unique three alone here", "a"),
      (4L, "short doc", "b"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$root/docs")

    assert(cli.dedupLines(s"$root/docs", s"$root/l1") === 4L)
    val l1 = spark.read.parquet(s"$root/l1")
    val cleaned = l1.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) === "unique one" && cleaned(2L) === "unique two")
    assert(cleaned(3L) === "unique three alone here")
    // passenger columns survive the stage, so any command chains after
    assert(l1.columns.contains("source"))
    assert(cli.cap(s"$root/l1", s"$root/l2", "source", maxDocs = 2) === 3L)

    assert(cli.cap(s"$root/docs", s"$root/c1", "source", maxDocs = 2) === 3L)
    val capped = spark.read.parquet(s"$root/c1")
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped("a") === 2L && capped("b") === 1L)

    // token mix: both sources whole at weights matching their token mass
    val kept = cli.mix(s"$root/docs", s"$root/m1", "source",
      Map("a" -> 0.8, "b" -> 0.2), byTokens = true)
    assert(kept >= 3L) // scarcity math on tokens, deterministic rerun
    assert(cli.mix(s"$root/docs", s"$root/m1", "source",
      Map("a" -> 0.8, "b" -> 0.2), byTokens = true) === kept)
  }

  test("split and bloomGate commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli3")
    val cli = new TrainCli(spark)
    (0L until 200L).map(i => (i, s"document body $i", "a"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/docs")

    assert(cli.split(s"$root/docs", s"$root/sp") === 200L)
    val sp = spark.read.parquet(s"$root/sp")
    assert(sp.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    assert(sp.filter(col("split") === "train").count() > 100L)

    // batch = 30 verbatim ref dups + 20 new docs
    ((0L until 30L).map(i => (1000L + i, s"document body $i", "a")) ++
      (0L until 20L).map(i => (2000L + i, s"brand new text $i", "a")))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/batch")
    val kept = cli.bloomGate(s"$root/docs", s"$root/batch", s"$root/gated",
      expectedItems = 200L)
    val ids = spark.read.parquet(s"$root/gated")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids.forall(_ >= 2000L), "a verbatim duplicate survived the gate")
    assert(kept >= 18L) // 1% fpp on 20 new docs
  }

  test("sample and encode commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli4")
    val cli = new TrainCli(spark)
    (0L until 100L).map(i => (i, "lower slow the of and in to a words here"))
      .toDF("doc_id", "text").write.parquet(s"$root/docs")

    val kept = cli.sample(s"$root/docs", s"$root/s1", baseFraction = 0.5)
    assert(kept > 0L && kept < 100L)
    // rerun-safe: identical selection
    assert(cli.sample(s"$root/docs", s"$root/s1", baseFraction = 0.5) === kept)

    Seq(("l", "o", 0L), ("lo", "w", 1L)).toDF("left", "right", "rank")
      .write.parquet(s"$root/merges")
    assert(cli.encode(s"$root/docs", s"$root/merges", s"$root/enc") === 100L)
    val pieces = spark.read.parquet(s"$root/enc")
      .filter(col("doc_id") === 0L).head().getSeq[String](1)
    assert(pieces.take(5) === Seq("low", "e", "r", "s", "low"))
  }

  test("search, classify, and overlap commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli5")
    val cli = new TrainCli(spark)
    Seq(
      (1L, "spark spark engines", "en", "a"),
      (2L, "boring filler text", "en", "a"),
      (3L, "der schnelle hund", "de", "b"),
      (4L, "spark engines der", "de", "b"))
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$root/docs")

    assert(cli.search(s"$root/docs", s"$root/hits", Seq("spark"), k = 5) === 2L)
    val top = spark.read.parquet(s"$root/hits")
      .orderBy(col("score_fx").desc).head().getAs[Long]("doc_id")
    assert(top === 1L)

    assert(cli.classify(s"$root/docs", s"$root/pred", "lang") === 4L)
    val pred3 = spark.read.parquet(s"$root/pred")
      .filter(col("doc_id") === 3L).head().getAs[String]("pred")
    assert(pred3 === "de")

    assert(cli.overlap(s"$root/docs", s"$root/ov") >= 0L)
    // rerun-safe
    assert(cli.classify(s"$root/docs", s"$root/pred", "lang") === 4L)
  }

  test("components, fuzzy, resample, and stratify commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli7")
    val cli = new TrainCli(spark)
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river", "a"),
      (2L, "the quick brown fox jumps over the lazy dog near the shore", "a"),
      (3L, "the quick brown fox jumps over the lazy dog near the creek", "a"),
      (4L, "completely unrelated content about spark shuffles and joins", "b"),
      (5L, "zz qq vv kk jj pp ww", "b"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$root/docs")

    assert(cli.components(s"$root/docs", s"$root/cc") === 3L)
    val comps = spark.read.parquet(s"$root/cc")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    Seq((1L, "Widget#01"), (2L, "Widget#02"), (3L, "Gadget#99"))
      .toDF("doc_id", "name").write.parquet(s"$root/keys")
    assert(cli.fuzzy(s"$root/keys", s"$root/fz", "name") === 1L)

    // resample with all-keep head cutoff high enough: everything head
    assert(cli.resample(s"$root/docs", s"$root/rs",
      headBelow = 100.0, middleBelow = 200.0) === 5L)

    assert(cli.stratify(s"$root/docs", s"$root/st",
      trainFrac = 0.5, valFrac = 0.25) === 5L)
    val bySplit = spark.read.parquet(s"$root/st")
      .groupBy(col("source"), col("split")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // a(3): floor(1.5)=1 train, floor(2.25)-1=1 val, 1 test; b(2): 1/0/1
    assert(bySplit === Map(
      ("a", "train") -> 1L, ("a", "val") -> 1L, ("a", "test") -> 1L,
      ("b", "train") -> 1L, ("b", "test") -> 1L))
  }

  test("index lifecycle, ingest, incremental labels, chunkSnap, quality commands") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli3")
    val cli = new TrainCli(spark)
    val A = "the quick brown fox jumps over the lazy dog by the river bank"
    val B = "structured streaming checkpoints its progress in a write ahead. log"
    val C = "columnar scans prune row groups using min max column statistics"
    Seq((1L, A, "web"), (2L, B, "web"), (3L, C, "wiki"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/ref")
    Seq((10L, A, "web"), (11L, "a genuinely new document about bloom gates", "web"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/b0")

    cli.indexBuild(s"$root/ref", s"$root/idx", numPartitions = 8)
    assert(cli.indexProbe(s"$root/idx", s"$root/b0", s"$root/pairs") === 1L)
    assert(spark.read.parquet(s"$root/pairs").head().getLong(1) === 10L)
    // ingest admits only the novel doc and is replay-safe
    assert(cli.ingest(s"$root/idx", s"$root/b0", s"$root/adm", batchId = 0L) === 1L)
    assert(cli.ingest(s"$root/idx", s"$root/b0", s"$root/adm", batchId = 0L) === 1L)
    assert(spark.read.parquet(s"$root/idx/sigs").count() === 4L)

    // standing labels + a pair batch fold
    spark.createDataFrame(Seq((1L, 1L), (2L, 1L))).toDF("doc_id", "component_id")
      .write.parquet(s"$root/labels")
    Seq((2L, 5L)).toDF("doc_a", "doc_b").write.parquet(s"$root/newpairs")
    assert(cli.componentsIncremental(s"$root/labels", s"$root/newpairs",
      s"$root/labels2") === 3L)
    assert(spark.read.parquet(s"$root/labels2").filter(col("doc_id") === 5L)
      .head().getLong(1) === 1L)

    // sentence-snapped chunking: B's separator pulls the cut back
    assert(cli.chunkSnap(s"$root/ref", s"$root/chunks",
      window = 8, tolerance = 3) > 0L)

    // quality scores from a labeled corpus
    spark.read.parquet(s"$root/ref")
      .withColumn("good", col("source") === "web")
      .write.parquet(s"$root/labeled")
    assert(cli.quality(s"$root/labeled", s"$root/scores", "good", iters = 8, lr = 2.0) === 3L)
    val sc = spark.read.parquet(s"$root/scores")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sc(1L) > sc(3L) && sc(2L) > sc(3L),
      s"web docs must outscore wiki under the web label: $sc")
  }

  test("drift / overlapKmv / extractHtml: the batch-gate trio chains on parquet dirs") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli7")
    val cli = new TrainCli(spark)
    val ref = (1 to 20).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again", "web"))
    ref.toDF("doc_id", "text", "source").write.parquet(s"$root/ref")
    // batch with the same distribution: PSI ~ 0
    ref.map { case (id, t, src) => (id + 100L, t, src) }
      .toDF("doc_id", "text", "source").write.parquet(s"$root/batchSame")
    assert(cli.drift(s"$root/ref", s"$root/batchSame", s"$root/psi1") === 1L)
    assert(spark.read.parquet(s"$root/psi1").head().getDouble(3) === 0.0)
    // degenerate batch (empty-ish text): PSI flags
    (1 to 20).map(i => (i.toLong, "x", "web"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/batchBad")
    assert(cli.drift(s"$root/ref", s"$root/batchBad", s"$root/psi2") === 1L)
    assert(spark.read.parquet(s"$root/psi2").head().getDouble(3) > 0.5)

    // overlapKmv on a two-source corpus with known overlap
    Seq((1L, "a b c d e f", "s1"), (2L, "a b c d e f", "s2"), (3L, "zz yy xx ww", "s2"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/multi")
    assert(cli.overlapKmv(s"$root/multi", s"$root/ov") === 1L)
    val ov = spark.read.parquet(s"$root/ov").head()
    assert(ov.getString(0) === "s1" && ov.getString(1) === "s2" && ov.getLong(2) === 4L)

    // extractHtml feeds the text column downstream commands read
    Seq((1L, "<p>hello <b>world</b></p>", "web"))
      .toDF("doc_id", "html", "source").write.parquet(s"$root/crawl")
    assert(cli.extractHtml(s"$root/crawl", s"$root/clean") === 1L)
    assert(spark.read.parquet(s"$root/clean").select(col("text")).head().getString(0)
      === "hello world")
  }

  test("pcaMoments folds batches into standing stats; pcaProject consumes them") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli8")
    val cli = new TrainCli(spark)
    val rnd = new scala.util.Random(5)
    def batch(ids: Range): Seq[(Long, Seq[Double])] =
      ids.map(i => (i.toLong, Seq.fill(4)(rnd.nextDouble() - 0.5)))
    val b1 = batch(1 to 60)
    val b2 = batch(61 to 100)
    b1.toDF("vec_id", "embedding").write.parquet(s"$root/b1")
    b2.toDF("vec_id", "embedding").write.parquet(s"$root/b2")
    (b1 ++ b2).toDF("vec_id", "embedding").write.parquet(s"$root/all")
    assert(cli.pcaMoments(s"$root/b1", s"$root/moments") === 16L)
    assert(cli.pcaMoments(s"$root/b2", s"$root/moments") === 16L)
    // standing moments after two folds == one-shot moments on the union
    val standing = spark.read.parquet(s"$root/moments")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2))).toMap
    val oneShot = graft.similarity.Pca.covarianceMoments(
        spark.read.parquet(s"$root/all"), "embedding")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2))).toMap
    assert(standing === oneShot)
    assert(cli.pcaProject(s"$root/all", s"$root/moments", s"$root/proj", r = 2) === 100L)
    assert(spark.read.parquet(s"$root/proj").head().getSeq[Double](1).length === 2)
  }

  test("trainBpe writes the rank parquet encode consumes — the full tokenizer loop") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli6")
    val cli = new TrainCli(spark)
    Seq((1L, "ab ab ab"), (2L, "abc")).toDF("doc_id", "text")
      .write.parquet(s"$root/docs")
    assert(cli.trainBpe(s"$root/docs", s"$root/merges", numMerges = 2) === 2L)
    assert(cli.encode(s"$root/docs", s"$root/merges", s"$root/enc") === 2L)
    val pieces = spark.read.parquet(s"$root/enc")
      .filter(col("doc_id") === 2L).head().getSeq[String](1)
    assert(pieces === Seq("abc"))
  }

  test("graph commands: pagerank, related, propagate, splitSafe on a near-dup corpus") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today", Some("en")),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", None),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight", None),
      (3L, "unrelated prose about parquet scans and column pruning at scale", Some("de")))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$root/docs")

    assert(cli.pagerank(s"$root/docs", s"$root/pr") === 4L)
    val pr = spark.read.parquet(s"$root/pr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pr(0L) > pr(3L), "near-dup family members outrank the isolated doc")

    assert(cli.related(s"$root/docs", s"$root/rel", seedIds = Seq(0L)) === 4L)
    val rel = spark.read.parquet(s"$root/rel")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel(1L) > 0L && rel(3L) == 0L,
      "proximity mass reaches the cluster, never the isolated doc")

    assert(cli.propagate(s"$root/docs", s"$root/lp", "lang") === 4L)
    val lp = spark.read.parquet(s"$root/lp")
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(lp(1L) == Some("en") && lp(2L) == Some("en"),
      "seed label must spread across the near-dup cluster")
    assert(lp(3L) == Some("de"), "seeds clamp")

    assert(cli.splitSafe(s"$root/docs", s"$root/sp") === 4L)
    val sp = spark.read.parquet(s"$root/sp")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
    assert(Set(sp(0L), sp(1L), sp(2L)).size == 1, "cluster lands whole")
  }

  test("searchIndexBuild/Query, cdc, canary commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)
    Seq(
      (1L, "spark joins shuffle data between stages"),
      (2L, "a window over a join keeps spark busy"),
      (3L, "rivers and forests have no such words"))
      .toDF("doc_id", "text")
      .write.parquet(s"$root/docs")

    assert(cli.searchIndexBuild(s"$root/docs", s"$root/idx", numPartitions = 4) > 0L)
    assert(cli.searchIndexQuery(s"$root/idx", s"$root/hits",
      terms = Seq("spark", "join"), k = 5) === 2L)
    val top = spark.read.parquet(s"$root/hits").orderBy(col("score_fx").desc)
      .collect().map(_.getLong(0)).toSeq
    assert(top.toSet == Set(1L, 2L))

    assert(cli.cdc(s"$root/docs", s"$root/chunks") >= 3L)
    val reassembled = spark.read.parquet(s"$root/chunks")
      .filter(col("doc_id") === 1L).orderBy(col("chunk_id"))
      .collect().map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(reassembled == "spark joins shuffle data between stages")

    assert(cli.canary(s"$root/docs", s"$root/hits2",
      patterns = Seq("spark", "forest")) === 3L)
    val hits = spark.read.parquet(s"$root/hits2")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(hits == Set((1L, 0), (2L, 0), (3L, 1)))
  }

  test("semdecon, knnGraph, taggers commands round-trip through parquet") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)

    // corpus: 10 ≈ probe direction (contaminated), 11 orthogonal,
    // 12/13 a tight mutual pair
    Seq(
      (10L, Seq(5.0f, 0.1f, 0.0f)),
      (11L, Seq(0.0f, 0.0f, 1.0f)),
      (12L, Seq(1.0f, 1.0f, 0.0f)),
      (13L, Seq(0.99f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$root/emb")
    Seq((0L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding").write.parquet(s"$root/probes")

    assert(cli.semdecon(s"$root/emb", s"$root/probes", s"$root/clean",
      tau = 0.9) === 3L)
    val kept = spark.read.parquet(s"$root/clean")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L, 12L, 13L))

    assert(cli.knnGraph(s"$root/emb", s"$root/edges", k = 1, dim = 3) >= 1L)
    val edges = spark.read.parquet(s"$root/edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((12L, 13L)), s"tight pair missing: $edges")

    Seq(
      (1L, ("the quick brown fox jumps over the lazy dog " * 8).trim),
      (2L, ("spam spam spam spam spam spam spam spam " * 8).trim),
      (3L, null.asInstanceOf[String])) // unauditable: must NOT vanish
      .toDF("doc_id", "text").write.parquet(s"$root/docs")
    assert(cli.taggers(s"$root/docs", s"$root/flags") === 3L)
    val keep = spark.read.parquet(s"$root/flags")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(!keep(2L), "pure repetition must fail the tagger bundle")
    assert(!keep(3L), "a NULL-text doc keeps its audit row, rejected")
    assert(spark.read.parquet(s"$root/flags").columns.toSet ===
      Set("doc_id", "gopher_pass", "block_pass", "qual_pass", "rep_pass", "keep"))
  }

  test("importJsonl/exportJsonl: the interchange loop round-trips and quarantines bad lines") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/drop.jsonl"),
      """{"doc_id": 1, "text": "alpha", "source": "web"}
        |garbage line
        |{"doc_id": 2, "text": "beta", "source": "wiki"}
        |""".stripMargin)
    val (kept, quarantined) = cli.importJsonl(s"$root/drop.jsonl", s"$root/docs")
    assert(kept === 2L && quarantined === 1L)
    cli.exportJsonl(s"$root/docs", s"$root/exported")
    val (kept2, q2) = cli.importJsonl(s"$root/exported", s"$root/docs2")
    assert(kept2 === 2L && q2 === 0L)
    assert(spark.read.parquet(s"$root/docs2").orderBy("doc_id").collect().toSeq ===
      spark.read.parquet(s"$root/docs").orderBy("doc_id").collect().toSeq)
  }

  test("forget removes ids from corpus AND index; rerun-safe; probe finds nothing") {
    val s = spark
    import s.implicits._
    val root = scratch("traincli")
    val cli = new TrainCli(spark)
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (2L, "spark structured streaming checkpoints state in a log", "web"),
      (3L, "columnar parquet scans prune row groups via statistics", "wiki"))
      .toDF("doc_id", "text", "source").write.parquet(s"$root/docs")
    Seq(Tuple1(1L)).toDF("doc_id").write.parquet(s"$root/takedown")
    cli.indexBuild(s"$root/docs", s"$root/idx", numPartitions = 8)
    assert(cli.forget(s"$root/docs", s"$root/takedown", s"$root/kept",
      indexPath = Some(s"$root/idx")) === 2L)
    // the forgotten doc's exact text no longer probes out of the index
    Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text").write.parquet(s"$root/probe")
    assert(cli.indexProbe(s"$root/idx", s"$root/probe", s"$root/hits") === 0L)
    // rerun-safe: forgetting an already-forgotten id is a no-op
    assert(cli.forget(s"$root/kept", s"$root/takedown", s"$root/kept2",
      indexPath = Some(s"$root/idx")) === 2L)
  }
}
