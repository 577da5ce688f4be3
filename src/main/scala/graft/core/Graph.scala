package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-based graph algorithms over plain (src, dst) edge frames — no
  * graph library, just the shuffles Spark already optimizes.
  *
  * [[pageRank]] is damped PageRank by power iteration in INTEGER
  * fixed-point arithmetic: ranks live as int64 multiples of 1e-12
  * (`Scale`), per-edge contributions use integer division (`div`),
  * and the damping mix is `(15·base + 85·recv) div 100`. Every
  * operation is exact int64 arithmetic, so the result is a pure
  * function of (nodes, edges, iters) — independent of partitioning,
  * join order, and float-sum order — and a SQL engine replaying the
  * same iterations reproduces it bit-for-bit (the DuckDB oracle
  * unrolls them as CTE generations, like the q125 logistic-regression
  * training replay).
  *
  * Scale shape per iteration: contributions = edges ⋈ ranks on src
  * (one hash shuffle of the edge table), received mass = groupBy dst
  * (second shuffle, map-side partial sums), dangling mass = one-row
  * aggregate broadcast back via crossJoin, then the rank frame
  * left-joins the received sums. Nothing corpus-sized is collected or
  * broadcast; per-iteration cost is two shuffles of the edge list —
  * the canonical distributed PageRank shape. Only the node COUNT (one
  * scalar) is computed driver-side, once. Iteration builds lineage
  * depth `O(iters)`; for large `iters` callers should persist or
  * checkpoint every few rounds (the near-dup-centrality use runs 5,
  * where plan depth is a non-issue).
  */
object Graph {

  /** Target edge rows per cached partition for the iterative
    * operators' scans (see [[sizedEdgeCache]]).
    */
  private val EdgeRowsPerPartition = 1L << 18

  /** Size-adaptive edge cache for the iterative operators. The edge
    * frame is scanned 1-3× PER ROUND, so its cached partition count
    * multiplies into every iteration's task count: an upstream pair
    * list that was verify-parallelized hands us 32+ byte-tiny
    * partitions, and 8 H-index rounds then schedule ~1000 near-empty
    * tasks (measured +0.6 s on q161 locally). Persist + one count (the
    * first round would materialize the cache anyway), then — only when
    * the row count says the inherited layout overshoots — re-lay the
    * cache as ceil(n / 2^18) ROUND-ROBIN partitions. Round-robin, not
    * keyed: pinning HashPartitioning(join key, N) on the cache was
    * A/B-measured in round 12 at +2.0 s on coreness (it forces every
    * iteration stage to that count, defeating AQE's coalescing); a
    * compact unkeyed cache leaves each round's shuffles free to
    * AQE-coalesce while the scans stay proportional to the data.
    */
  private def sizedEdgeCache(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // INTERNAL-row cache (the shortCircuit representation): the count
    // below materializes it — work the first iteration would have paid
    // anyway — and a NARROW coalesce over the cached blocks re-lays the
    // scan without a second cache or any shuffle: each of the `want`
    // tasks reads its share of cached partitions from local memory.
    val rdd = CacheScope.persistRows(edges)
    val n = rdd.count()
    val maxP = spark.sparkContext.defaultParallelism.toLong
    val want = math.min(n / EdgeRowsPerPartition + 1, math.max(1L, maxP)).toInt
    val laid =
      if (want >= maxP || rdd.getNumPartitions <= want) rdd
      else rdd.coalesce(want)
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
      spark, laid, edges.schema)
  }

  /** Fixed-point scale: ranks are int64 multiples of 1e-12. */
  val Scale: Long = 1000000000000L

  /** Damping = DampNum/DampDen (the classic 0.85, kept rational so the
    * mix is integer-exact).
    */
  val DampNum = 85L
  val DampDen = 100L

  /** Damped PageRank over `edges` restricted to the `nodes` universe.
    *
    * @param nodes one column `id` — the full node set, INCLUDING
    *   isolated nodes (they keep teleport + dangling mass).
    * @param edges columns `src`, `dst`; parallel edges each carry a
    *   contribution (dedup first for simple-graph semantics).
    * @param iters power-iteration count (fixed, not convergence-based,
    *   so replay engines agree on the step count).
    * @return (id, rank_fx int64 at 1e-12 scale, rank double rounded to
    *   1e-9 for reading — the fx column is the exact value).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"pageRank requires iters >= 1, got $iters")
    val n = nodes.select(col("id")).distinct()
    // The edge frame is referenced once per iteration and each rank
    // frame THREE times by its successor (contribution join, dangling
    // aggregate, final left join). Dataset-persisting the ranks fixes
    // the runtime recompute but NOT the logical plan: each generation
    // still embeds its predecessor's tree 3×, so analysis/optimization
    // walks 3^iters copies — measured 51 s of pure driver planning at
    // 5 iterations over the sf0.1 near-dup graph. [[shortCircuit]]
    // rebases every generation on its persisted RDD instead (the
    // GraphX-style checkpoint move), keeping the plan constant-size
    // per round. All persists release via CacheScope.
    // size-adaptive round-robin cache — see [[sizedEdgeCache]] (keyed
    // pre-partitioning was A/B-rejected in round 12: +2.0 s coreness)
    val e = sizedEdgeCache(edges.select(col("src"), col("dst")))
    // The one driver-side scalar: |V|. base = teleport share per node;
    // the div truncation loses < N·1e-12 of total mass — the price of
    // integer exactness.
    val nCount = n.count()
    require(nCount > 0, "pageRank requires a non-empty node set")
    val base = Scale / nCount
    // Out-degrees ride WITH the rank frame (one left join at init, not
    // one per iteration): rank rows are (id, fx, od).
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val r0 = n
      .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), lit(base).as("fx"), coalesce(col("od"), lit(0L)).as("od"))
    val ranks = (1 to iters).foldLeft(shortCircuit(r0)) { (r, _) =>
      val contrib = e
        .join(r.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("fx div od").as("c"))
      val recv = contrib.groupBy(col("id")).agg(sum(col("c")).as("recv"))
      // Dangling mass: rank stuck on out-degree-0 nodes, redistributed
      // uniformly. One row; the crossJoin broadcasts a scalar.
      val dang = r.filter(col("od") === 0L)
        .agg(coalesce(sum(col("fx")), lit(0L)).as("dang"))
      shortCircuit(r.join(recv, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (lit((DampDen - DampNum) * base) +
            lit(DampNum) * (coalesce(col("recv"), lit(0L)) +
              expr(s"dang div ${nCount}L"))).as("_mix"),
          col("od"))
        .select(col("id"), expr(s"_mix div ${DampDen}L").as("fx"), col("od")))
    }
    // Readable double via the q81 fixed-point idiom: one exact int64→
    // double conversion (fx < 2^53), floor, one final division — both
    // engines compute the identical double.
    ranks.select(col("id"), col("fx").as("rank_fx"),
      (floor(col("fx").cast("double") / lit(1000.0)) / lit(1e6)).as("rank"))
  }

  /** Personalized PageRank (random walk with restart): teleport and
    * dangling mass return ONLY to the `seeds`, so rank measures
    * proximity to the seed set — the "related documents" explorer
    * over a similarity graph (and the seeded variant of [[pageRank]],
    * same int64 fixed-point discipline: seed base = `Scale div |S|`,
    * dangling share = `dang div |S|` at seeds, zero elsewhere).
    */
  def pageRankPersonalized(
      nodes: DataFrame,
      edges: DataFrame,
      seeds: DataFrame, // one column `id` ⊆ nodes
      iters: Int): DataFrame = {
    require(iters >= 1, s"pageRankPersonalized requires iters >= 1, got $iters")
    val n = nodes.select(col("id")).distinct()
    val sd = seeds.select(col("id")).distinct()
    // size-adaptive round-robin cache — see [[sizedEdgeCache]] (keyed
    // pre-partitioning was A/B-rejected in round 12: +2.0 s coreness)
    val e = sizedEdgeCache(edges.select(col("src"), col("dst")))
    val nSeeds = sd.count()
    require(nSeeds > 0, "pageRankPersonalized requires a non-empty seed set")
    val base = Scale / nSeeds
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val r0 = n
      .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .join(sd.withColumn("_s", lit(1)), Seq("id"), "left")
      .select(col("id"),
        when(col("_s").isNotNull, base).otherwise(0L).as("fx"),
        coalesce(col("od"), lit(0L)).as("od"),
        when(col("_s").isNotNull, 1L).otherwise(0L).as("b"))
    val ranks = (1 to iters).foldLeft(shortCircuit(r0)) { (r, _) =>
      val contrib = e
        .join(r.withColumnRenamed("id", "src"), "src")
        .filter(col("fx") > 0L)
        .select(col("dst").as("id"), expr("fx div od").as("c"))
      val recv = contrib.groupBy(col("id")).agg(sum(col("c")).as("recv"))
      val dang = r.filter(col("od") === 0L)
        .agg(coalesce(sum(col("fx")), lit(0L)).as("dang"))
      shortCircuit(r.join(recv, Seq("id"), "left")
        .crossJoin(broadcast(dang))
        .select(col("id"),
          (lit(DampDen - DampNum) * lit(base) * col("b") +
            lit(DampNum) * (coalesce(col("recv"), lit(0L)) +
              col("b") * expr(s"dang div ${nSeeds}L"))).as("_mix"),
          col("od"), col("b"))
        .select(col("id"), expr(s"_mix div ${DampDen}L").as("fx"),
          col("od"), col("b")))
    }
    ranks.select(col("id"), col("fx").as("rank_fx"),
      (floor(col("fx").cast("double") / lit(1000.0)) / lit(1e6)).as("rank"))
  }

  /** Clamped label propagation (Zhu & Ghahramani '02 shape) over an
    * edge list: nodes with a non-null initial label are SEEDS and keep
    * it; every round each node takes the majority label of its
    * in-neighbors (tie → lexicographically smallest label), keeping
    * its previous label when no labeled neighbor exists. Integer votes
    * + deterministic tie-break ⇒ engine-replayable. Per round: one
    * edge⋈labels shuffle, one (node, label) count, one max join —
    * the same two-shuffle budget as a PageRank step.
    *
    * @param labels (id, lab nullable) — the full node universe.
    * @return (id, lab) after `iters` rounds (nullable: nodes never
    *   reached by any labeled neighbor stay null).
    */
  def labelPropagation(
      labels: DataFrame,
      edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"labelPropagation requires iters >= 1, got $iters")
    // size-adaptive round-robin cache — see [[sizedEdgeCache]] (keyed
    // pre-partitioning was A/B-rejected in round 12: +2.0 s coreness)
    val e = sizedEdgeCache(edges.select(col("src"), col("dst")))
    val seeds = labels.select(col("id"), col("lab").as("_seed"))
    val l0 = labels.select(col("id"), col("lab"))
    val result = (1 to iters).foldLeft(shortCircuit(l0)) { (l, _) =>
      val votes = e
        .join(l.withColumnRenamed("id", "src"), "src")
        .filter(col("lab").isNotNull)
        .groupBy(col("dst").as("id"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val mx = votes.groupBy(col("id")).agg(max(col("c")).as("mc"))
      val best = votes.join(mx, Seq("id"))
        .filter(col("c") === col("mc"))
        .groupBy(col("id")).agg(min(col("lab")).as("_new"))
      shortCircuit(l
        .join(best, Seq("id"), "left")
        .join(seeds, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("_seed"), col("_new"), col("lab")).as("lab")))
    }
    result
  }

  /** Per-node degree + triangle counts over an undirected pair list —
    * the near-dup-graph structure report (dense triangle-rich
    * components are template families; high-degree low-triangle nodes
    * are hub boilerplate). Triangles are counted by DEGREE-ORDERED
    * ORIENTATION (Suri & Vassilvitskii, WWW'11): each edge points
    * from its (degree, id)-smaller endpoint to the larger, wedges
    * form only at a node's OUT-edges, and the closing edge is probed
    * against the undirected pair set. The orientation is acyclic and
    * total, so every triangle materializes exactly once — and wedge
    * volume is Σ out-deg² ≤ O(m^1.5) instead of Σ deg² (the hub-node
    * explosion a naive wedge join hits on power-law graphs).
    *
    * @param nodes one column `id` (isolated nodes report 0/0).
    * @param pairs (doc_a < doc_b) distinct undirected edges.
    * @return (id, degree, triangles).
    */
  def triangleStats(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val und = pairs.select(col("doc_a").as("a"), col("doc_b").as("b")).distinct()
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // orient by (degree, id): the join is degree-keyed and the edge
    // list is its own dictionary — two vocab-keyed joins, no broadcast
    // of anything corpus-sized
    val k = deg.select(col("id"), col("degree").as("_k"))
    val oriented = und
      .join(k.withColumnRenamed("id", "a").withColumnRenamed("_k", "ka"), "a")
      .join(k.withColumnRenamed("id", "b").withColumnRenamed("_k", "kb"), "b")
      .select(
        when(col("ka") < col("kb") || (col("ka") === col("kb") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("ka") < col("kb") || (col("ka") === col("kb") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    // e1.dst < e2.dst orders the wedge tips by id, so the closing-edge
    // probe key (x, y) is already in und's (a < b) convention
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("x"), col("e2.dst").as("y"))
    val triangles = wedges
      .join(und, col("x") === col("a") && col("y") === col("b"))
      .select(col("u"), col("x"), col("y"))
    val perNode = triangles
      .select(explode(array(col("u"), col("x"), col("y"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    nodes.select(col("id")).distinct()
      .join(deg, Seq("id"), "left")
      .join(perNode, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Coreness (k-core number) of every node by H-index iteration
    * (Lü et al., "The H-index of a network node", Nature Physics
    * 2016): start from degree and repeatedly replace each node's
    * value with the H-index of its neighbors' values — the largest h
    * such that at least h neighbors currently hold ≥ h. The sequence
    * is monotone non-increasing and its fixpoint IS the coreness; the
    * update is idempotent at the fixpoint, so any fixed `iters` at or
    * beyond convergence yields the exact core numbers, and two engines
    * replaying the same count always agree (the pageRank replay
    * discipline — fixed rounds, not a convergence test).
    *
    * Scale shape per round: one edge⋈values hash join (edge-sized
    * shuffle) + one per-node sort window for the H-index + one node-
    * sized left join — comparable to a PageRank step; no collect, no
    * broadcast of anything graph-sized. Peeling-based k-core needs
    * O(max-degeneracy) SEQUENTIAL peels; H-index iteration converges
    * in a handful of rounds on sparse dedup graphs and each round is
    * fully parallel — that is why it is the distributed formulation.
    *
    * @param nodes one column `id` — full universe (isolated ⇒ 0).
    * @param edges (src, dst), SYMMETRIZED by the caller (each
    *   undirected edge in both directions), parallel edges deduped.
    * @param iters fixed H-index rounds; converged-and-beyond is exact.
    * @return (id, coreness).
    */
  def coreness(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"coreness requires iters >= 1, got $iters")
    // size-adaptive round-robin cache — see [[sizedEdgeCache]] (keyed
    // pre-partitioning was A/B-rejected in round 12: +2.0 s coreness)
    val e = sizedEdgeCache(edges.select(col("src"), col("dst")))
    val n = nodes.select(col("id")).distinct()
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val c0 = n.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("c"))
    val result = (1 to iters).foldLeft(shortCircuit(c0)) { (c, _) =>
      val nbr = e
        .join(c.withColumnRenamed("id", "dst").withColumnRenamed("c", "cd"), "dst")
        .select(col("src"), col("cd"))
      // H-index per node: neighbors sorted by value desc, h =
      // max(min(rank, value)) — tie order among equal values cannot
      // change the result, so row_number needs no tiebreak column.
      val w = Window.partitionBy(col("src")).orderBy(col("cd").desc)
      val h = nbr
        .withColumn("rnk", row_number().over(w).cast("long"))
        .groupBy(col("src").as("id"))
        .agg(max(least(col("rnk"), col("cd"))).as("h"))
      shortCircuit(n.join(h, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0L)).as("c")))
    }
    result.select(col("id"), col("c").as("coreness"))
  }

  /** Rebase an iteration result on its own persisted RDD: the returned
    * frame's logical plan is a flat scan of that RDD, so a recurrence
    * referencing it N times costs N short subtrees, not N copies of
    * the whole upstream tree (without this, k self-referencing
    * generations give a 3^k-node plan and analysis time explodes —
    * the Dataset-API analog of GraphX's iteration checkpointing).
    * Lazy: nothing runs until the first action; the RDD persist makes
    * later references reuse, and the bracket releases it. After
    * release the frame recomputes from lineage like any unpersisted
    * cache.
    */
  private def shortCircuit(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(
      df.sparkSession, CacheScope.persistRows(df), df.schema)
}
