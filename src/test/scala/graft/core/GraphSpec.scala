package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Local reference: the same integer fixed-point iteration in plain
    * Scala, so the distributed plan is checked against an
    * independently-written implementation (not itself).
    */
  private def localPageRank(
      nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val n = nodes.distinct
    val base = Graph.Scale / n.size
    val od = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var fx = n.map(_ -> base).toMap
    for (_ <- 1 to iters) {
      val recv = edges
        .groupBy(_._2)
        .map { case (d, es) => d -> es.map(e => fx(e._1) / od(e._1)).sum }
      val dang = n.filter(id => !od.contains(id)).map(fx).sum
      fx = n.map { id =>
        id -> (15L * base + 85L * (recv.getOrElse(id, 0L) + dang / n.size)) / 100L
      }.toMap
    }
    fx
  }

  /** (id → rank_fx) of a PageRank result, built and collected inside a
    * bracket.
    */
  private def fx(ranks: => org.apache.spark.sql.DataFrame): Map[Long, Long] =
    CacheScope.withReleased {
      ranks.select(col("id"), col("rank_fx")).as[(Long, Long)].collect().toMap
    }

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    fx(Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters))

  test("pageRank matches an independent local implementation on a mixed graph") {
    // hub (0 pointed to by all), a 2-cycle, a dangling node (4), an
    // isolated node (5).
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 5L)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (1L, 2L), (2L, 1L), (0L, 4L))
    // an edge to 9 (no node) and one to a null: each counts toward its
    // source's out-degree and its share is lost; the reference sees
    // the null as one more outside node
    val lossy = Seq((1L, Some(9L)), (3L, None))
    val got = fx(Graph.pageRank(nodes.toDF("id"),
      (edges.map(e => (e._1, Option(e._2))) ++ lossy).toDF("src", "dst"), 5))
    assert(got == localPageRank(nodes, edges ++ lossy.map(e => (e._1, e._2.getOrElse(-1L))), 5))
    // the all-pointed-to hub and its sole successor outrank the
    // isolated node, which holds only teleport + dangling share
    assert(got(0L) > got(5L) && got(4L) > got(5L))
    assert(got(5L) < got(1L))
  }

  test("pageRank on a symmetric complete graph is uniform and conserves mass") {
    val nodes = (0L to 4L)
    val edges = for { a <- nodes; b <- nodes if a != b } yield (a, b)
    val got = run(nodes, edges, 3)
    assert(got.values.toSet.size == 1)
    // total mass stays within iters·N units of integer truncation
    val total = got.values.sum
    assert(total <= Graph.Scale && total > Graph.Scale - 4 * 5 * 100)
  }

  test("pageRank is partitioning-independent (exact fx equality)") {
    val nodes = (0L until 40L)
    val edges = nodes.flatMap(a => Seq((a, (a * 7 + 3) % 40), (a, (a * 13 + 1) % 40)))
    val a = run(nodes, edges, 4)
    val b = fx(Graph.pageRank(
      nodes.toDF("id").repartition(7),
      edges.toDF("src", "dst").repartition(11), 4))
    assert(a == b)
    val seeds = Seq(0L, 5L, 17L)
    val pa = fx(Graph.pageRankPersonalized(
      nodes.toDF("id"), edges.toDF("src", "dst"), seeds.toDF("id"), 4))
    val pb = fx(Graph.pageRankPersonalized(
      nodes.toDF("id").repartition(7), edges.toDF("src", "dst").repartition(11),
      seeds.toDF("id").repartition(3), 4))
    assert(pa == pb)
  }

  /** >= 2^18 edges: the adjacency and the node states are hash-laid
    * over more than one partition, so messages cross partitions each
    * round. Some edges end outside the node set, and every fifth node
    * sends nothing.
    */
  private val wideN = 1L << 17
  private lazy val wideEdges: Seq[(Long, Long)] = (0L until wideN).filter(_ % 5 != 0)
    .flatMap(a => Seq((a, (a * 7 + 3) % wideN), (a, (a * 13 + 1) % (wideN + 9)), (a, a)))

  test("pageRank matches the local implementation when the edges span several partitions") {
    val n = wideN
    val nodes = 0L until n
    val edges = wideEdges
    assert(edges.size >= (1 << 18))
    val got = run(nodes, edges, 3)
    val want = localPageRank(nodes, edges, 3)
    // a bounded failure message: printing two 2^17-entry maps takes minutes
    val off = nodes.filter(id => got.get(id) != want.get(id))
    assert(got.size == want.size && off.isEmpty,
      s"${off.size} ranks differ, e.g. ${off.take(3).map(id => (id, got.get(id), want.get(id)))}")
  }

  test("pageRankPersonalized with every node a seed equals pageRank fx for fx") {
    // dangling sources (a % 4 == 3) and dsts outside the node set (12, 13)
    val nodes = 0L until 12L
    val edges = nodes.filter(_ % 4 != 3)
      .flatMap(a => Seq((a, (a * 5 + 2) % 12), (a, (a * 3) % 14)))
    val want = run(nodes, edges, 4)
    val got = fx(Graph.pageRankPersonalized(
      nodes.toDF("id"), edges.toDF("src", "dst"), nodes.toDF("id"), 4))
    assert(got == want)
  }

  test("pageRankPersonalized: mass stays near the seeds; uniform-seed case degenerates to pageRank-like spread") {
    val nodes = (0L to 7L)
    // chain 0→1→2→3 plus an island {6,7} unreachable from the seed
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (6L, 7L), (7L, 6L))
    val got = CacheScope.withReleased {
      Graph.pageRankPersonalized(
        nodes.toDF("id"), edges.toDF("src", "dst"),
        Seq(0L).toDF("id"), iters = 4)
        .select(col("id"), col("rank_fx")).as[(Long, Long)].collect().toMap
    }
    // the seed holds the most mass; proximity decays along the chain
    assert(got(0L) > got(1L) && got(1L) > got(2L) && got(2L) > got(3L))
    // nothing teleports to the unreachable island
    assert(got(6L) == 0L && got(7L) == 0L)
    // node 5 (isolated, not a seed) also gets nothing
    assert(got(5L) == 0L)
  }

  test("labelPropagation: seeds clamp, majority wins, ties break to the smallest label") {
    val s = spark
    import s.implicits._
    // 1 is adjacent to seeds {0:a, 2:b, 4:b} → majority b;
    // 3 is adjacent to seeds {0:a, 2:b} → tie → 'a' (smallest);
    // 5 is unreachable → stays null; seed 0 keeps 'a' even though its
    // only neighbors vote 'b'.
    val labels = Seq(
      (0L, Some("a")), (2L, Some("b")), (4L, Some("b")),
      (1L, None), (3L, None), (5L, None))
      .toDF("id", "lab")
    val edges = Seq((0L, 1L), (2L, 1L), (4L, 1L), (0L, 3L), (2L, 3L),
      (1L, 0L), (2L, 0L))
      .toDF("src", "dst")
    val got = CacheScope.withReleased {
      Graph.labelPropagation(labels, edges, iters = 2)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    assert(got(1L) == Some("b"))
    assert(got(3L) == Some("a"))
    assert(got(5L) == None)
    assert(got(0L) == Some("a"), "seed labels must clamp")
  }

  test("labelPropagation is partitioning-independent") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7L)
    val labels = (0L until 50L)
      .map(i => (i, if (i % 3 == 0) Some(s"l${rnd.nextInt(4)}") else None))
      .toDF("id", "lab")
    val edges = (0L until 50L).flatMap(a =>
      Seq((a, (a * 11 + 3) % 50), (a, (a * 17 + 7) % 50))).toDF("src", "dst")
    val a = CacheScope.withReleased {
      Graph.labelPropagation(labels, edges, 3)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    val b = CacheScope.withReleased {
      Graph.labelPropagation(labels.repartition(7), edges.repartition(9), 3)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    assert(a == b)
  }

  test("triangleStats: K4, path, isolated node; random graphs match brute force") {
    val s = spark
    import s.implicits._
    // K4 on {0..3} (every node: degree 3, 3 triangles), path 4-5-6
    // (no triangles), isolated 7
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a < b } yield (a, b)
    val pairs = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("doc_a", "doc_b")
    val got = Graph.triangleStats((0L to 7L).toDF("id"), pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0L to 3L).foreach(i => assert(got(i) == ((3L, 3L))))
    assert(got(4L) == ((1L, 0L)) && got(5L) == ((2L, 0L)) && got(6L) == ((1L, 0L)))
    assert(got(7L) == ((0L, 0L)))

    // seeded fuzz vs brute force
    val rnd = new scala.util.Random(31L)
    val edges = (for { a <- 0L until 20L; b <- 0L until 20L
      if a < b && rnd.nextDouble() < 0.3 } yield (a, b)).distinct
    val fuzz = Graph.triangleStats((0L until 20L).toDF("id"),
        edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val es = edges.toSet
    def adj(a: Long, b: Long) = es.contains((math.min(a, b), math.max(a, b)))
    val brute = (0L until 20L).map { v =>
      v -> (for { a <- 0L until 20L; b <- 0L until 20L
        if a < b && a != v && b != v && adj(v, a) && adj(v, b) && adj(a, b) } yield 1).size.toLong
    }.toMap
    assert(fuzz == brute)
  }

  /** Independent local coreness: sequential Batagelj–Zaversnik peel
    * (remove min-degree nodes, coreness = degree at removal time) —
    * a DIFFERENT algorithm from the distributed H-index iteration, so
    * agreement checks the math, not the implementation against itself.
    */
  private def localCoreness(
      nodes: Seq[Long], und: Seq[(Long, Long)]): Map[Long, Long] = {
    var adj = nodes.map(n => n ->
      und.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }.toSet).toMap
    var core = Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val peel = adj.filter(_._2.size <= k).keys.toSeq
      if (peel.isEmpty) k += 1
      else {
        peel.foreach { v => core += v -> k; adj -= v }
        adj = adj.map { case (n, s) => n -> (s -- peel) }
      }
    }
    core
  }

  private def corenessRun(
      nodes: Seq[Long], und: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    CacheScope.withReleased {
      val sym = und ++ und.map(_.swap)
      Graph.coreness(nodes.toDF("id"), sym.toDF("src", "dst"), iters)
        .as[(Long, Long)].collect().toMap
    }

  test("coreness matches a sequential peel on triangle+tail, K4, and isolated nodes") {
    // K4 {0,1,2,3} (core 3), a triangle {4,5,6} with tail 6-7 (core 2/1),
    // a bridge 3-4, an isolated node 8
    val und = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L), (3L, 4L))
    val nodes = 0L to 8L
    val got = corenessRun(nodes, und, iters = 8)
    assert(got === localCoreness(nodes, und) ++ Map(8L -> 0L))
    assert(got(0L) === 3L && got(6L) === 2L && got(7L) === 1L && got(8L) === 0L)
  }

  test("coreness matches the sequential peel on seeded random graphs") {
    // hand-rolled LCG (scalacheck unavailable offline); 3 seeds x
    // 18-node graphs with ~2.2 edges/node
    for (seed <- Seq(7L, 101L, 9001L)) {
      var s = seed
      def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
      val nodes = 0L until 18L
      val und = (0 until 40).map { _ =>
        val a = math.floorMod(next(), 18L)
        val b = math.floorMod(next(), 18L)
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val got = corenessRun(nodes, und, iters = 16)
      val want = localCoreness(nodes, und) ++
        nodes.filterNot(n => und.exists(e => e._1 == n || e._2 == n))
          .map(_ -> 0L).toMap
      assert(got === want, s"seed $seed")
    }
  }

  test("coreness is idempotent past convergence (extra rounds change nothing)") {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L))
    val nodes = 0L to 4L
    assert(corenessRun(nodes, und, iters = 3) === corenessRun(nodes, und, iters = 12))
  }

  /** Local label propagation: seeds keep their label; every other node
    * with a non-null id takes the most frequent label among its
    * labeled in-neighbors, one vote per edge, ties to the smallest;
    * null-id rows keep theirs.
    */
  private def localLabels[L](labels: Seq[(Option[Long], Option[L])],
      edges: Seq[(Option[Long], Option[Long])], iters: Int)(
      implicit ord: Ordering[L]): Seq[(Option[Long], Option[L])] = {
    val seeds = labels.collect { case (Some(id), Some(_)) => id }.toSet
    val in = edges.collect { case (Some(s), Some(d)) => (d, s) }
      .groupBy(_._1).map { case (d, ss) => d -> ss.map(_._2) }
    var cur = labels.collect { case (Some(id), l) => id -> l }.toMap
    for (_ <- 1 to iters) cur = cur.map { case (id, l) =>
      val votes = in.getOrElse(id, Nil).flatMap(s => cur.get(s).flatten)
      if (seeds(id) || votes.isEmpty) id -> l
      else {
        val counts = votes.groupBy(identity).map { case (v, vs) => v -> vs.size }
        id -> Some(counts.collect { case (v, c) if c == counts.values.max => v }.min)
      }
    }
    labels.map { case (id, l) => id -> id.fold(l)(cur) }
  }

  /** Local H-index rounds over a symmetric list: start from the number
    * of edges leaving each node, then take the H-index of the values of
    * the nodes its edges reach; a null node holds 0.
    */
  private def localHIndex(nodes: Seq[Option[Long]],
      edges: Seq[(Option[Long], Option[Long])], iters: Int): Map[Option[Long], Long] = {
    val ids = nodes.flatten.toSet
    val nbrs = edges.collect { case (Some(s), Some(d)) if ids(d) => (s, d) }
      .groupBy(_._1).map { case (s, ds) => s -> ds.map(_._2) }
    val deg = edges.flatMap(_._1).groupBy(identity).map { case (s, ss) => s -> ss.size.toLong }
    var c = ids.map(n => n -> deg.getOrElse(n, 0L)).toMap
    for (_ <- 1 to iters) c = ids.map { n =>
      val vs = nbrs.getOrElse(n, Nil).map(c).sorted.reverse
      n -> vs.zipWithIndex.map { case (v, i) => math.min(v, i + 1L) }.foldLeft(0L)(math.max)
    }.toMap
    c.map { case (n, v) => Option(n) -> v } ++
      (if (nodes.contains(None)) Map(Option.empty[Long] -> 0L) else Map.empty)
  }

  private def labelRun(labels: Seq[(Option[Long], Option[String])],
      edges: Seq[(Option[Long], Option[Long])], iters: Int,
      parts: Option[Int] = None): Seq[(Option[Long], Option[String])] =
    CacheScope.withReleased {
      def laid(df: org.apache.spark.sql.DataFrame) = parts.fold(df)(df.repartition(_))
      Graph.labelPropagation(laid(labels.toDF("id", "lab")), laid(edges.toDF("src", "dst")), iters)
        .as[(Option[Long], Option[String])].collect().toSeq
    }

  private def hIndexRun(nodes: Seq[Option[Long]], edges: Seq[(Option[Long], Option[Long])],
      iters: Int, parts: Option[Int] = None): Map[Option[Long], Long] =
    CacheScope.withReleased {
      def laid(df: org.apache.spark.sql.DataFrame) = parts.fold(df)(df.repartition(_))
      val rows = Graph.coreness(laid(nodes.toDF("id")), laid(edges.toDF("src", "dst")), iters)
        .as[(Option[Long], Long)].collect().toSeq
      assert(rows.map(_._1).distinct.size == rows.size, "one row per distinct node id")
      rows.toMap
    }

  /** A seeded random graph over ids 0 until n: some edge ends are null
    * or outside the node set (n, n+1, n+2), and the first edges repeat.
    */
  private def randomGraph(seed: Long): (Long, Seq[(Option[Long], Option[Long])]) = {
    val rnd = new scala.util.Random(seed)
    val n = 10L + rnd.nextInt(20)
    def end(): Option[Long] =
      if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(n.toInt + 3).toLong)
    val es = Seq.fill(2 * n.toInt)((end(), end()))
    (n, es ++ es.take(3))
  }

  private def sorted(rows: Seq[(Option[Long], Option[String])]) = rows.sortBy(_.toString)

  test("labelPropagation matches a local implementation on seeded random graphs") {
    for (seed <- 1L to 8L) {
      val (n, edges) = randomGraph(seed)
      val rnd = new scala.util.Random(seed * 31)
      // two null-id rows, which keep their labels
      val labels = (0L until n).map(id =>
        Option(id) -> (if (rnd.nextInt(3) == 0) Some(s"l${rnd.nextInt(3)}") else None)) ++
        Seq(None -> Some("z"), None -> None)
      val iters = 1 + (seed % 4).toInt
      val parts = if (seed % 2 == 0) Some(5) else None
      assert(sorted(labelRun(labels, edges, iters, parts)) ===
        sorted(localLabels(labels, edges, iters)), s"seed $seed")
    }
  }

  test("labelPropagation breaks ties in the ordering of a non-string label type") {
    val s = spark
    import s.implicits._
    // ties at 3 (10, 9, 20) and at 4 (-1, -5) go to the smaller int, which
    // is not the smaller string; 7 gets two votes for 7, one for -1
    val labels = Seq((0L, Some(10)), (1L, Some(9)), (2L, Some(20)), (3L, None),
      (4L, None), (5L, Some(-1)), (6L, Some(-5)), (7L, None), (8L, Some(7)))
      .toDF("id", "lab")
    val edges = Seq((0L, 3L), (1L, 3L), (2L, 3L), (5L, 4L), (6L, 4L),
      (8L, 7L), (8L, 7L), (5L, 7L)).toDF("src", "dst")
    val got = CacheScope.withReleased {
      Graph.labelPropagation(labels, edges, 1).as[(Long, Option[Int])].collect().toMap
    }
    assert(got(3L) === Some(9) && got(4L) === Some(-5) && got(7L) === Some(7))
  }

  test("labelPropagation refuses a duplicated id") {
    val e = intercept[Exception] {
      labelRun(Seq((Some(0L), Some("a")), (Some(1L), None), (Some(1L), Some("b"))),
        Seq((Some(0L), Some(1L))), 2)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("duplicate id 1")), e.toString)
  }

  test("coreness rounds match a local H-index iteration on seeded random symmetric graphs") {
    for (seed <- 1L to 8L) {
      val (n, und) = randomGraph(seed)
      val sym = und ++ und.map(_.swap)
      // a null node id and a repeated one
      val nodes = (0L until n).map(Option(_)) ++ Seq(None, Some(0L))
      val iters = 1 + (seed % 3).toInt
      val parts = if (seed % 2 == 1) Some(4) else None
      assert(hIndexRun(nodes, sym, iters, parts) === localHIndex(nodes, sym, iters), s"seed $seed")
    }
  }

  test("labelPropagation and coreness match the local implementations when the edges span several partitions") {
    val nodes = (0L until wideN).map(Option(_))
    val edges = wideEdges.map(e => (Option(e._1), Option(e._2)))
    val labels = nodes.map(id => id -> id.filter(_ % 3 == 0).map(i => s"l${i % 4}"))
    val got = labelRun(labels, edges, 3)
    val want = localLabels(labels, edges, 3)
    assert(got.size == want.size && got.toMap == want.toMap, "label propagation differs")
    val sym = edges ++ edges.map(_.swap)
    val core = hIndexRun(nodes, sym, 3)
    val wantCore = localHIndex(nodes, sym, 3)
    val off = nodes.filter(id => core.get(id) != wantCore.get(id))
    assert(core.size == wantCore.size && off.isEmpty,
      s"${off.size} core values differ, e.g. ${off.take(3).map(id => (id, core.get(id), wantCore.get(id)))}")
  }

  test("pageRank releases its operator-managed persists inside a CacheScope bracket") {
    val nodes = (0L to 9L)
    val edges = nodes.map(a => (a, (a + 1) % 10))
    // delta-based: the session is shared across suites, so assert no
    // NEW storage survives the bracket rather than global emptiness
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.withReleased {
      Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), 2).count()
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"bracket leaked RDDs: $leaked")
  }
}
