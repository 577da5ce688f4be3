package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("cosine: known values, deterministic rounding") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0), -1.0),
      (Seq(3.0, 4.0), Seq(4.0, 3.0), 0.96))
      .toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("want"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val s = spark
    import s.implicits._
    val queries = Seq((100L, Seq(1.0, 0.0))).toDF("q_id", "q_emb")
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), // cos 1.0
      (2L, Seq(1.0, 1.0)), // cos ~0.707
      (3L, Seq(0.0, 1.0)), // cos 0
      (4L, Seq(2.0, 0.0))) // cos 1.0 — ties with 1, id breaks
      .toDF("c_id", "c_emb")
    val got = Similarity.bruteForceTopK(queries, corpus, k = 3)
      .orderBy(col("rank")).collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq === Seq((1L, 1), (4L, 2), (2L, 3)))
  }

  test("lshTopK returns well-formed ranks and real neighbors at full recall when planes=0 bucket is shared") {
    val s = spark
    import s.implicits._
    // planes=1: two buckets; vectors on the same side of the hyperplane
    // collide. Check output shape + that found neighbors carry correct
    // cosine scores (subset of brute-force universe).
    val queries = Seq((100L, Seq(1.0, 0.2, 0.1))).toDF("q_id", "q_emb")
    val corpus = (1L to 20L).map(i =>
      (i, Seq(math.cos(i * 0.3), math.sin(i * 0.3), 0.1 * (i % 3))))
      .toDF("c_id", "c_emb")
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 20)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val lsh = Similarity.lshTopK(queries, corpus, k = 5, planes = 1, dim = 3)
      .collect()
    assert(lsh.nonEmpty && lsh.length <= 5)
    lsh.foreach { r =>
      assert(bf(r.getLong(1)) === r.getDouble(2)) // same scores as exact
    }
    val ranks = lsh.map(_.getInt(3)).toSeq
    assert(ranks === (1 to lsh.length))
  }

  test("lshTopKMultiProbe: recall >= single-probe, exact scores, planes=0 degenerates to brute force") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    val queries = emb.filter(col("c_id") < 10)
      .select(col("c_id").as("q_id"), col("c_emb").as("q_emb"))
    val corpus = emb.filter(col("c_id") >= 10)
    val brute = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .select(col("q_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select(col("q_id"), col("c_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(brute).size.toDouble / brute.size
    }
    val single = Similarity.lshTopK(queries, corpus, k = 5, planes = 4)
    val multi = Similarity.lshTopKMultiProbe(queries, corpus, k = 5, planes = 4)
    assert(recallOf(multi) >= recallOf(single),
      "widening the probe set must never lose recall")
    // multi-probe scores are exact cosines: every returned (q, c) pair
    // carries the same score brute force computes
    val bruteScores = Similarity.bruteForceTopK(queries, corpus, k = 1000)
      .select(col("q_id"), col("c_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    multi.select(col("q_id"), col("c_id"), col("cos")).collect().foreach { r =>
      assert(bruteScores((r.getLong(0), r.getLong(1))) === r.getDouble(2))
    }
    // planes=0: one bucket, no flips — identical to brute force
    val degenerate = Similarity.lshTopKMultiProbe(queries, corpus, k = 5, planes = 0)
      .orderBy(col("q_id"), col("rank")).collect().toSeq
    val bruteRows = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .orderBy(col("q_id"), col("rank")).collect().toSeq
    assert(degenerate === bruteRows)
  }

  test("ivfTopK: correct scores, well-formed ranks, full recall at nprobe=nlist") {
    val s = spark
    import s.implicits._
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val bf = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing EVERY list must equal exact brute force (IVF is lossless
    // when nprobe = nlist)
    val full = Similarity.ivfTopK(queries, corpus, k = 5, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === bf)
    // the approximate setting keeps usable recall and exact scores
    val approx = Similarity.ivfTopK(queries, corpus, k = 5, nlist = 16, nprobe = 4)
      .collect()
    // uniform-random embeddings are IVF's worst case: no cluster
    // structure, so expected recall ~ nprobe/nlist (= 0.25 here).
    // Assert it at least matches that floor; clustered real data (what
    // IVF is for) sits far above it.
    val recall = approx.map(r => (r.getLong(0), r.getLong(1)))
      .count(bf.contains).toDouble / bf.size
    assert(recall >= 0.25, s"IVF recall $recall below the random-data floor")
    approx.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.sortBy(_.getInt(3)).map(_.getInt(3)).toSeq === (1 to rows.length))
    }
  }

  test("topicClusters: complete assignment, stable t-labels, direction-faithful with given centroids") {
    val s = spark
    import s.implicits._
    val a = Seq(1.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 1.0, 0.0, 0.0)
    def jitter(base: Seq[Double], eps: Double): Seq[Double] =
      base.zipWithIndex.map { case (v, i) => v + (if (i % 2 == 0) eps else -eps) }
    val corpus = ((0L to 4L).map(i => (i, jitter(a, 0.01 * (i + 1)))) ++
      (5L to 9L).map(i => (i, jitter(b, 0.01 * (i - 4))))).toDF("c_id", "c_emb")
    // seed centroids: each seed row takes t<rank of its cent_id>, and
    // rows follow direction (the md5 seed of 4 holds one a-direction id)
    val seeds = Similarity.seedCentroids(corpus, 4).collect().map(_.getLong(0)).sorted
    val got = Similarity.topicClusters(corpus, nlist = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 10, "every vector must be assigned exactly once")
    seeds.zipWithIndex.foreach { case (id, i) => assert(got(id) === s"t${i + 1}") }
    val aSeeds = seeds.filter(_ <= 4L)
    assert(aSeeds.length === 1)
    assert((0L to 4L).forall(got(_) == got(aSeeds.head)) &&
      (5L to 9L).forall(got(_) != got(aSeeds.head)))
    // default md5 seed: deterministic across invocations, labels dense
    val d1 = Similarity.topicClusters(corpus, nlist = 3)
      .orderBy(col("c_id")).collect().map(_.getString(1))
    val d2 = Similarity.topicClusters(corpus, nlist = 3)
      .orderBy(col("c_id")).collect().map(_.getString(1))
    assert(d1.toSeq === d2.toSeq)
    assert(d1.toSet.subsetOf(Set("t1", "t2", "t3")))
  }

  test("int8Quantize: bounded reconstruction error, high top-k recall on real embeddings") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val quant = Similarity.int8Quantize(emb, "vec_id", "emb")
    // grid bounds: every component in [-127, 127]; |x - q*scale| <= scale/2
    val recon = quant.join(emb, "vec_id")
      .select(col("vec_id"), col("scale"),
        Similarity.int8Dequantize(col("qvec"), col("scale")).as("deq"),
        col("emb"), col("qvec"))
      .collect()
    recon.foreach { r =>
      val scale = r.getDouble(1)
      val deq = r.getSeq[Double](2); val orig = r.getSeq[Double](3)
      val qv = r.getSeq[Double](4)
      assert(qv.forall(q => q >= -127 && q <= 127))
      deq.zip(orig).foreach { case (d, o) =>
        assert(math.abs(d - o) <= scale / 2 + 1e-12)
      }
    }
    // recall of quantized brute-force top-5 vs exact top-5
    def split(df: org.apache.spark.sql.DataFrame, v: String) = (
      df.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col(v).as("q_emb")),
      df.filter(col("vec_id") >= 10).select(col("vec_id").as("c_id"), col(v).as("c_emb")))
    val (eq, ec) = split(emb, "emb")
    val exact = Similarity.bruteForceTopK(eq, ec, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (qq, qc) = split(quant, "qvec")
    val approx = Similarity.bruteForceTopK(qq, qc, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.8, s"int8 top-k recall $recall below 0.8")
  }

  test("refinedTopK: exact scores, recall grows with the shortlist to 1.0") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val corpus = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val refined = Similarity.refinedTopK(queries, corpus, k = 5, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(refined.length === 50)
    // every reported score is the exact cosine (the rerank pass)
    val exactPairs = exact.map(t => (t._1, t._2) -> t._3).toMap
    refined.filter(t => exactPairs.contains((t._1, t._2)))
      .foreach(t => assert(t._3 === exactPairs((t._1, t._2))))
    val recall = refined.count(t => exact.contains(t)).toDouble / exact.size
    assert(recall >= 0.8, s"20-deep shortlist recall $recall below int8 floor")
    // a corpus-sized shortlist makes the two-stage form exactly exact
    val full = Similarity.refinedTopK(queries, corpus, k = 5, shortlist = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full === exact)
  }

  test("cosinePairsExact finds mutually-close vectors above tau only") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.01)),
      (2L, Seq(1.0, 0.02)), // ~same direction as 1
      (3L, Seq(0.0, 1.0))) // orthogonal
      .toDF("vec_id", "emb")
    val got = Similarity.cosinePairsExact(df, "vec_id", "emb", tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 2L)))
  }

  test("cosinePairsLsh: subset of exact with identical scores; near-certain bands find near-dups") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val exact = Similarity.cosinePairsExact(emb, "vec_id", "emb", tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lsh = Similarity.cosinePairsLsh(emb, "vec_id", "emb", tau = 0.45,
      dim = 64, planesPerBand = 2, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // precision 1.0: every LSH pair is a true pair with the exact score
    assert(lsh.toSet.subsetOf(exact.toSet))
    // recall at P=2/B=8, tau=0.45 (θ<=1.104 rad): per-pair miss prob
    // (1-0.649^2)^8 ≈ 0.013 — assert well above the sampled floor
    assert(lsh.length >= (exact.length * 0.8).toInt,
      s"LSH recall ${lsh.length}/${exact.length} below expectation")
    // default pruning config (P=6/B=16): still precision 1.0 with exact
    // scores, recall ≈ 1-(1-0.649^6)^16 ≈ 0.71 at the threshold
    // boundary (deterministic given the fixture — floor set below it)
    val pruned = Similarity.cosinePairsLsh(emb, "vec_id", "emb", tau = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pruned.toSet.subsetOf(exact.toSet))
    assert(pruned.length >= (exact.length * 0.4).toInt,
      s"pruned-LSH recall ${pruned.length}/${exact.length} below expectation")
  }

  test("cosinePairsLsh bucket df-cap: collapsed-region pairs dropped, tail pair kept") {
    val s = spark
    import s.implicits._
    // 12 copies of one embedding (a collapsed boilerplate region: one
    // dense bucket in all 16 bands) + one genuine duplicate pair in an
    // orthogonal direction
    val v = (0 until 64).map(i => if (i < 8) 1.0 else 0.0)
    val w = (0 until 64).map(i => if (i >= 32) 1.0 else 0.0)
    val df = ((0L until 12L).map(i => (i, v)) ++ Seq((100L, w), (101L, w)))
      .toDF("vec_id", "emb")
    val unguarded = Similarity.cosinePairsLsh(df, "vec_id", "emb", tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((100L, 101L)) && unguarded.size === 12 * 11 / 2 + 1)
    val guarded = Similarity.cosinePairsLsh(df, "vec_id", "emb", tau = 0.99,
        maxBucketDocFreq = Some(6))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L)),
      "cap must drop exactly the collapsed-region pairs")
  }

  test("ivfPqTopK at nprobe=nlist equals the single-query ADC primitive per query") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    val corpus = emb.filter(col("c_id") >= 10)
    val queries = emb.filter(col("c_id") < 3)
      .select(col("c_id").as("q_id"), col("c_emb").as("q_emb"))
    // full probe width: the cell pruning admits everything, so the
    // composite must reduce to plain ADC search over the whole corpus
    val got = Similarity.ivfPqTopK(queries, corpus, k = 7,
        nlist = 16, nprobe = 16)
      .select(col("q_id"), col("c_id"), col("adc_fx"))
      .orderBy(col("q_id"), col("adc_fx"), col("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cb = Similarity.pqCodebooks(corpus, m = 8, dsub = 8, ksub = 16)
    val codes = Similarity.pqEncode(corpus, cb, m = 8, dsub = 8)
    val want = (0L until 3L).flatMap { qid =>
      val q = emb.filter(col("c_id") === qid).select(col("c_emb").as("q_emb"))
      Similarity.pqSearchAdc(q, codes, cb, m = 8, dsub = 8, k = 7)
        .collect().map(r => (qid, r.getLong(0), r.getLong(1))).toSeq
        .sortBy(t => (t._3, t._2))
    }
    assert(got === want)
    // narrow probes return a subset of the full-width candidates with
    // identical ADC scores (pruning changes RECALL, never a score)
    val narrowScores = Similarity.ivfPqTopK(queries, corpus, k = 7,
        nlist = 16, nprobe = 2)
      .select(col("q_id"), col("c_id"), col("adc_fx"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val fullAll = Similarity.ivfPqTopK(queries, corpus, k = 1000,
        nlist = 16, nprobe = 16)
      .select(col("q_id"), col("c_id"), col("adc_fx"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    narrowScores.foreach { case (k2, v) => assert(fullAll(k2) === v) }
  }

  test("semDedup: within-cluster near-dups drop to their smallest keeper") {
    val s = spark
    import s.implicits._
    // seeds = the two ids sorting first by md5 among {1..5} = (4, 1):
    // 4 -> x-axis cell, 1 -> y-axis cell. 2 is a near-dup of 4 (same
    // cell, drops to it as the smaller id), 5 an exact dup of 1, 3
    // close-but-not-near the x-axis.
    val emb = Seq(
      (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 0.01)),
      (3L, Seq(0.9, 0.3)),
      (4L, Seq(1.0, 0.0)),
      (5L, Seq(0.0, 1.0)))
      .toDF("c_id", "c_emb")
    val out = Similarity.semDedup(emb, tau = 0.99, nlist = 2)
      .orderBy(col("drop_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((4L, 2L), (5L, 1L)))
  }

  test("semDedup: cell salting never changes the output, even when every cell is split") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    val plain = Similarity.semDedup(emb, tau = 0.45, nlist = 4)
      .orderBy(col("drop_id")).collect().toSeq
    // saltCellRows=1 forces S=maxSalts sub-buckets in EVERY cell (one
    // dominant cluster included: nlist=4 over 2000 vectors leaves
    // ~500-row cells, far above the threshold) — the exactly-once pair
    // guarantee must hold through the replication
    val salted = Similarity.semDedup(emb, tau = 0.45, nlist = 4,
        saltCellRows = 1, maxSalts = 7)
      .orderBy(col("drop_id")).collect().toSeq
    assert(salted === plain)
    assert(plain.nonEmpty, "fixture produced no near-dup pairs — vacuous test")
  }

  test("deliberately skewed quantizer: auto salting ENGAGES, bounds per-task pair volume, output unchanged") {
    val s = spark
    import s.implicits._
    // 8 declared centroids along distinct axes; 1500 vectors piled onto
    // centroid 0's axis (the hot cell) + 10 per other centroid — the
    // Zipfian quantizer failure the automatic response exists for.
    val dim = 8
    def axis(a: Int, jitter: Double, seed: Int): Seq[Double] =
      Seq.tabulate(dim)(d => (if (d == a) 1.0 else 0.0) +
        jitter * (((seed * 1103515245 + d * 12345) % 1000) / 1000.0))
    val cents = (0 until 8).map(a => (a.toLong, axis(a, 0.0, 0)))
      .toDF("cent_id", "cent_emb")
    val hot = (0 until 1500).map(i => (i.toLong, axis(0, 0.05, i)))
    val cold = for (a <- 1 until 8; i <- 0 until 10)
      yield ((10000 + a * 100 + i).toLong, axis(a, 0.05, a * 31 + i))
    val emb = (hot ++ cold).toDF("c_id", "c_emb")

    // the auto rule must split the hot cell: mean ≈ (1500+70)/8 ≈ 196
    // → threshold max(1024, 4·mean) = 1024 → nsalt = ceil(1500/1024) = 2,
    // halving the worst task's pair volume (cell²→ cell²/nsalt); cold
    // cells stay unsplit (1 copy, no replication cost)
    val cellRows = 1500.0
    val mean = (1500.0 + 70.0) / 8.0
    val thr = Similarity.autoSaltRows(mean)
    assert(thr === 1024L)
    val nsalt = math.ceil(cellRows / thr).toLong
    assert(nsalt === 2L, "the deliberately hot cell must be split")

    val auto = Similarity.semDedup(emb, tau = 0.9, nlist = 8,
      centroids = Some(cents))
    val plan = auto.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), "salt key missing from the armed plan")
    assert(plan.contains("sequence(0, (_nsalt"),
      s"per-cell salt fan-out (explode over sequence(0, nsalt-1)) missing:\n$plan")
    val got = auto.orderBy(col("drop_id")).collect().toSeq
    val unsalted = Similarity.semDedup(emb, tau = 0.9, nlist = 8,
        centroids = Some(cents), saltCellRows = Int.MaxValue)
      .orderBy(col("drop_id")).collect().toSeq
    assert(got === unsalted, "splitting the hot cell must not change the output")
    assert(got.nonEmpty, "hot-cell fixture produced no near-dups — vacuous test")
  }

  test("auto-tuned saltCellRows: derivation rule, and auto output == pinned/unsalted") {
    assert(Similarity.autoSaltRows(10.0) === 1024L)   // floor wins for tiny cells
    assert(Similarity.autoSaltRows(256.0) === 1024L)  // boundary: 4x mean == floor
    assert(Similarity.autoSaltRows(256.25) === 1025L) // ceil, not truncate
    assert(Similarity.autoSaltRows(1000.0) === 4000L) // 4x the mean cell
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    // default (auto) threshold derives in-plan; the output must equal
    // both the never-salt and the everything-salts plans
    val auto = Similarity.semDedup(emb, tau = 0.45, nlist = 4)
      .orderBy(col("drop_id")).collect().toSeq
    val unsalted = Similarity.semDedup(emb, tau = 0.45, nlist = 4,
        saltCellRows = Int.MaxValue)
      .orderBy(col("drop_id")).collect().toSeq
    assert(auto === unsalted)
    assert(auto.nonEmpty)
  }

  test("hyperplane: md5-derived, ±1 components, deterministic") {
    val p0 = Similarity.hyperplane(0, 64)
    val p1 = Similarity.hyperplane(1, 64)
    assert(p0.length === 64 && p0.forall(v => v == 1.0 || v == -1.0))
    assert(p0.toSeq === Similarity.hyperplane(0, 64).toSeq)
    assert(p0.toSeq !== p1.toSeq)
    // cross-engine contract: component i = bit (i%4) of md5 hex digit
    // (i/4) of "plane:p". md5("plane:0") starts with "16c..." -> digit 0
    // = 1 -> bits 0001 -> components (+1,-1,-1,-1).
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("plane:0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nib = Integer.parseInt(hex.substring(0, 1), 16)
    val want = (0 until 4).map(b => if (((nib >> b) & 1) == 1) 1.0 else -1.0)
    assert(p0.take(4).toSeq === want)
  }

  test("hardNegatives: most-similar cross-label rows only, own label never appears") {
    val s = spark
    import s.implicits._
    // two tight clusters with mixed labels: anchors in cluster A must
    // pick the other-label member of their OWN cluster first
    val rows = Seq(
      (1L, Seq(1.0, 0.0, 0.01), 0), (2L, Seq(1.0, 0.01, 0.0), 1),
      (3L, Seq(0.0, 1.0, 0.01), 0), (4L, Seq(0.01, 1.0, 0.0), 1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(rows, "vec_id", "embedding", "label", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L))
    // k beyond the cross-label pool: every returned neg has a different label
    val all = Similarity.hardNegatives(rows, "vec_id", "embedding", "label", k = 10)
      .collect()
    assert(all.length === 8, "2 cross-label candidates per anchor")
  }

  test("hardNegativesLsh at planes=0 equals the exact form; bucketing bounds the pair volume") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2)).toSeq
    val lsh0 = Similarity.hardNegativesLsh(emb, "vec_id", "embedding", "label", 3, planes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, -t._3, t._2)).toSeq
    assert(lsh0 === exact)
    // with real planes the join is bucket-equi: every returned pair
    // must share a bucket (the structural guarantee), and recall vs
    // exact top-1 stays useful even on this near-isotropic corpus
    // (the worst case for sign-bit LSH — real clustered embeddings
    // fare far better; observed ~0.4 here)
    val lsh = Similarity.hardNegativesLsh(emb, "vec_id", "embedding", "label", 1, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val buckets = emb
      .select(col("vec_id").cast("long"),
        Similarity.lshBucket(col("embedding").cast("array<double>"), 2, 64))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    lsh.foreach { case (q, n) =>
      assert(buckets(q) === buckets(n), s"pair ($q,$n) crosses buckets")
    }
    val exactTop1 = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = exactTop1.count { case (q, n) => lsh.get(q).contains(n) }
    assert(hits.toDouble / exactTop1.size > 0.25,
      s"2-plane LSH top-1 recall collapsed: $hits/${exactTop1.size}")
  }

  // ---- PQ ---------------------------------------------------------------

  private def pqCorpus(n: Int, dim: Int, seed: Long) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0L until n.toLong).map(id => (id, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("c_id", "c_emb")
  }

  test("pqEncode: codebook vectors encode to themselves; ADC distance of a codeword-built query is exact") {
    val corpus = pqCorpus(16, 16, 7L) // ksub = corpus size: every vector IS a codeword
    val cb = Similarity.pqCodebooks(corpus, m = 4, dsub = 4, ksub = 16)
    val codes = Similarity.pqEncode(corpus, cb, m = 4, dsub = 4)
    // each vector's blocks must map to its own seed index (distance 0
    // beats every other codeword; seeded gaussians never collide)
    val cbLocal = cb.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val codesLocal = codes.collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val embLocal = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (((cid, j), code) <- codesLocal) {
      val sub = embLocal(cid).slice((j - 1) * 4, j * 4)
      assert(cbLocal((j, code)) == sub,
        s"vector $cid block $j must encode to its own codeword")
    }
  }

  test("pqSearchAdc equals a local reconstruction-distance scan (exact fixed point)") {
    val corpus = pqCorpus(80, 16, 11L)
    val m = 4; val dsub = 4
    val cb = Similarity.pqCodebooks(corpus, m, dsub, ksub = 8)
    val codes = Similarity.pqEncode(corpus, cb, m, dsub)
    val q = corpus.filter(col("c_id") === 0L).select(col("c_emb").as("q_emb"))
    val got = Similarity.pqSearchAdc(q, codes, cb, m, dsub, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // local replay: adc_fx = sum_j floor(l2sq(q_j, cw[j, code]) * 1e6)
    val cbLocal = cb.collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val codesLocal = codes.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val embLocal = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qv = embLocal(0L)
    def l2fx(a: Seq[Double], b: Seq[Double]): Long =
      math.floor(a.zip(b).foldLeft(0.0)((acc, p) => acc + (p._1 - p._2) * (p._1 - p._2)) * 1e6).toLong
    val want = embLocal.keys.map { cid =>
      cid -> (1 to m).map { j =>
        l2fx(qv.slice((j - 1) * dsub, j * dsub), cbLocal((j, codesLocal((cid, j)))))
      }.sum
    }.toSeq.sortBy(t => (t._2, t._1)).take(10)
    assert(got.toSeq == want)
  }

  test("randomProject: JL distance preservation band on seeded gaussians; partition-invariant") {
    val corpus = pqCorpus(40, 64, 17L).withColumnRenamed("c_id", "id")
      .withColumnRenamed("c_emb", "emb")
    val proj = Similarity.randomProject(corpus, "id", "emb", outDim = 16, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val orig = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map(p => (p._1 - p._2) * (p._1 - p._2)).sum
    // pairwise squared distances concentrate around the original (JL):
    // at k=16 the band is loose but the RATIO must stay order-1
    val ratios = for {
      a <- 0L until 40L; b <- 0L until 40L if a < b
    } yield d2(proj(a), proj(b)) / d2(orig(a), orig(b))
    assert(ratios.forall(r => r > 0.2 && r < 3.0),
      s"JL distortion out of band: min=${ratios.min} max=${ratios.max}")
    val re = Similarity.randomProject(corpus.repartition(11), "id", "emb", 16, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    assert(re == proj.map { case (k, v) => k -> v.toSeq })
  }

  test("centroidDrift: identical sides cos 1, rotated group flags, partition-invariant") {
    val s = spark
    import s.implicits._
    val rows =
      // group "same": both sides clustered on e1
      (0 until 8).map(i => ("same", if (i % 2 == 0) "a" else "b",
        Seq(1.0, 0.01 * i, 0.0, 0.0))) ++
      // group "moved": side a on e1, side b on e2
      (0 until 8).map(i => ("moved", if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) Seq(1.0, 0.0, 0.01 * i, 0.0) else Seq(0.0, 1.0, 0.01 * i, 0.0)))
    val df = rows.toDF("grp", "side", "emb")
    val got = Similarity.centroidDrift(df, "grp", "side", "emb")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("same")._1 > 0.99)
    assert(got("moved")._1 < 0.3, s"rotated centroid must flag, got ${got("moved")._1}")
    assert(got("same")._2 == 4 && got("same")._3 == 4)
    val re = Similarity.centroidDrift(df.repartition(7), "grp", "side", "emb")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(re("same") == got("same")._1 && re("moved") == got("moved")._1,
      "int64 dimension sums must make drift partition-invariant")
  }

  test("mmrSelect: redundant near-duplicate of the top hit is deferred for a diverse pick") {
    val s = spark
    import s.implicits._
    // 0 and 1 nearly identical (both highly relevant); 2 diverse and
    // relevant; 3 orthogonal and barely relevant. Pure top-3 =
    // (0, 1, 2); MMR at λ=0.5 defers the redundant 1 so hard (penalty
    // ≈ 1.0 > its relevance) that even the barely-relevant orthogonal
    // 3 outranks it.
    val emb = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.999, 0.01, 0.0)),
      (2L, Seq(0.5, 0.86, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0)))
      .toDF("id", "emb")
    val short = Seq((0L, 1000000L), (1L, 999000L), (2L, 700000L), (3L, 10000L))
      .toDF("id", "rel_fx")
    val got = Similarity.mmrSelect(short, emb, lamNum = 1, lamDen = 2, k = 3)
      .orderBy(col("sel_rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._2) == Seq(0L, 2L, 3L),
      s"expected diverse pick order 0,2,3 got ${got.map(_._2)}")
    // first pick's score is pure scaled relevance (empty-set penalty 0)
    assert(got.head._3 == 1L * 1000000L)
    // rank-2 score replays by hand: 1·rel(2) − 1·sim(2, 0)
    val sim20 = math.floor(
      (0.5 * 1.0) / (math.sqrt(0.5 * 0.5 + 0.86 * 0.86) * 1.0) * 1e6 + 0.5).toLong
    assert(got(1)._3 == 700000L - sim20)
  }

  test("pq pipeline is partitioning-independent") {
    val corpus = pqCorpus(60, 16, 13L)
    def run(c: org.apache.spark.sql.DataFrame) = {
      val cb = Similarity.pqCodebooks(c, 4, 4, 8)
      val codes = Similarity.pqEncode(c, cb, 4, 4)
      val q = c.filter(col("c_id") === 3L).select(col("c_emb").as("q_emb"))
      Similarity.pqSearchAdc(q, codes, cb, 4, 4, 15)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(run(corpus) == run(corpus.repartition(13)))
  }

  test("semanticContamination flags paraphrase-close corpus rows with their best probe; decontaminate drops exactly those") {
    val s = spark
    import s.implicits._
    // probe 0 ≈ corpus 10 (same direction, different magnitude — the
    // "paraphrase" no 13-gram test catches); probe 1 ties corpus 12
    // between two probes (p_id asc breaks); corpus 11 is orthogonal.
    val probes = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0))).toDF("p_id", "p_emb")
    val corpus = Seq(
      (10L, Seq(5.0, 0.1, 0.0)), // cos vs p0 ≈ 0.9998
      (11L, Seq(0.0, 0.0, 1.0)), // orthogonal to both
      (12L, Seq(1.0, 1.0, 0.0))) // cos 0.707107 vs BOTH probes — tie
      .toDF("c_id", "c_emb")
    val got = Similarity.semanticContamination(probes, corpus, tau = 0.5)
      .orderBy(col("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(x => (x._1, x._2)) === Seq((10L, 0L), (12L, 0L)),
      s"got $got")
    assert(got(1)._3 === 0.707107)
    val kept = Similarity.semanticDecontaminate(corpus, "c_id",
        Similarity.semanticContamination(probes, corpus, tau = 0.5))
      .select("c_id").collect().map(_.getLong(0)).toSeq
    assert(kept === Seq(11L))
  }

  test("mutualKnnGraph: hub edges without reciprocation are severed; LSH candidates reproduce the exact graph on separable data") {
    val s = spark
    import s.implicits._
    // Two tight clusters + one hub that everyone ranks low: at k=1
    // each cluster member nominates its twin (mutual), the hub
    // nominates SOMEONE but is nominated by no one — its edges must
    // vanish from the mutual graph.
    val emb = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.99, 0.01, 0.0)), // twin of 1
      (3L, Seq(0.0, 1.0, 0.0)),
      (4L, Seq(0.01, 0.99, 0.0)), // twin of 3
      (5L, Seq(0.6, 0.6, 0.3))) // hub: moderately close to all
      .toDF("vec_id", "emb")
    val got = Similarity.mutualKnnGraph(emb, "vec_id", "emb", k = 1)
      .orderBy(col("id_a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (3L, 4L)), s"got $got")
    // scale path: candidates from the LSH bucket equi-join instead of
    // the cross join — identical graph when recall holds (k=2 widens
    // each node's list past the hub, exercising rank + mutuality)
    val exact = Similarity.mutualKnnGraph(emb, "vec_id", "emb", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Similarity.cosinePairsLsh(
      emb.select(col("vec_id"), col("emb").cast("array<double>").as("emb")),
      "vec_id", "emb", tau = 0.0, dim = 3, planesPerBand = 0, bands = 1)
    val viaLsh = Similarity.mutualKnnGraph(emb, "vec_id", "emb", k = 2,
        candidates = Some(cand))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh === exact)
  }

  test("array_l2sq kernel is bit-identical to the aggregate(zip_with) fold") {
    val s = spark
    import s.implicits._
    // deterministic awkward doubles: negatives, zeros, denormal-ish
    // magnitudes, non-representable decimals — the kernel must match
    // the HOF fold BIT-FOR-BIT, not within epsilon (the PQ encode
    // argmin compares rounded values derived from these)
    val rows = (0 until 200).map { i =>
      val a = Array.tabulate(8)(j => math.sin(i * 8 + j) * math.pow(10, (i % 7) - 3))
      val b = Array.tabulate(8)(j => math.cos(i * 8 + j + 1) * math.pow(10, (j % 5) - 2))
      (i.toLong, a.toSeq, b.toSeq)
    }
    // the fold yields NULL on unequal lengths or a null slot; so must the kernel
    val edge = Seq(
      (200L, Seq(Some(1.0), Some(2.0)), Seq(Some(3.0))),
      (201L, Seq(Some(1.0), None), Seq(Some(3.0), Some(4.0))))
    val df = rows.toDF("id", "a", "b").unionByName(edge.toDF("id", "a", "b"))
    val got = df.select(col("id"),
        graft.functions.SketchFunctions.array_l2sq(col("a"), col("b")).as("k"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("h"))
      .collect()
    assert(got.length === 202)
    val (nulls, values) = got.partition(_.isNullAt(2))
    assert(nulls.map(_.getLong(0)).toSet === Set(200L, 201L))
    nulls.foreach(r => assert(r.isNullAt(1), s"row ${r.getLong(0)}: kernel ${r.get(1)} != NULL"))
    values.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"row ${r.getLong(0)}: kernel ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }
}
