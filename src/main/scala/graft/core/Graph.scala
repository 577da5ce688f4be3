package graft.core

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Scale shape per iteration: before round 1 the edges are grouped
  * ONCE into a `src → Array[dst]` adjacency under a `HashPartitioner`,
  * and the rank rows `(id, fx, od, b)` are laid out with the same
  * partitioner, so no round re-shuffles either side (Shark's
  * co-partitioned iterated join). A round is one `zipPartitions` of
  * adjacency and ranks emitting `fx div od` per edge, one
  * `reduceByKey` of the received mass onto that partitioner (map-side
  * partial sums; the round's only shuffle), and one `zipPartitions` of
  * ranks and received mass applying the integer mix. The round's one
  * job materializes the new generation and returns its dangling mass as
  * per-partition sums collected to the driver, where the next round
  * reads it as a scalar. Nothing corpus-sized is collected or
  * broadcast; the node count comes from the job that lays out
  * generation 0. Each generation is released once its successor has
  * materialized, and the last round runs inside the caller's action.
  */
object Graph {

  /** Target edge rows per partition for the iterative operators (see
    * [[partitionsFor]]).
    */
  private val EdgeRowsPerPartition = 1L << 18

  /** Partition count for an iterative operator's edge-sized data: one
    * per 2^18 rows, at most the session's parallelism. Every round
    * repeats every task, so a layout inherited from a wide upstream
    * stage would schedule byte-tiny tasks round after round.
    */
  private def partitionsFor(spark: SparkSession, rows: Long): Int =
    math.min(rows / EdgeRowsPerPartition + 1,
      math.max(1L, spark.sparkContext.defaultParallelism.toLong)).toInt

  /** Size-adaptive edge cache for the DataFrame-iterated operators. The
    * edge frame is scanned 1-3× PER ROUND, so its cached partition count
    * multiplies into every iteration's task count: an upstream pair
    * list that was verify-parallelized hands us 32+ byte-tiny
    * partitions, and 8 H-index rounds then schedule ~1000 near-empty
    * tasks (measured +0.6 s on q161 locally). Persist + one count (the
    * first round would materialize the cache anyway), then — only when
    * the row count says the inherited layout overshoots — re-lay the
    * cache as [[partitionsFor]] ROUND-ROBIN partitions. Round-robin, not
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
    val want = partitionsFor(spark, rdd.count())
    val laid =
      if (want >= spark.sparkContext.defaultParallelism || rdd.getNumPartitions <= want) rdd
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
    *   contribution (dedup first for simple-graph semantics). An edge
    *   to an id outside `nodes` (or to a null) counts toward its
    *   source's out-degree and its share is lost; an edge from one
    *   carries nothing.
    * @param iters power-iteration count (fixed, not convergence-based,
    *   so replay engines agree on the step count).
    * @return (id, rank_fx int64 at 1e-12 scale, rank double rounded to
    *   1e-9 for reading — the fx column is the exact value).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"pageRank requires iters >= 1, got $iters")
    powerIteration(nodes, edges, None, iters)
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
    powerIteration(nodes, edges, Some(seeds), iters)
  }

  /** One node of a power-iteration generation: rank `fx` at [[Scale]],
    * out-degree `od` (every edge leaving the node, whatever its dst) and
    * teleport weight `b` (1 in the teleport set, else 0). A null `id`
    * never equals an edge end: that node neither sends nor receives.
    */
  private final case class Rank(id: java.lang.Long, fx: Long, od: Long, b: Long)

  /** The power iteration behind both PageRanks. `seeds = None` is the
    * teleport-to-every-node case: b = 1 everywhere and |S| = |V|.
    */
  private def powerIteration(nodes: DataFrame, edges: DataFrame,
      seeds: Option[DataFrame], iters: Int): DataFrame = {
    val spark = nodes.sparkSession
    val idType = nodes.schema("id").dataType
    (Seq(nodes -> "id", edges -> "src", edges -> "dst") ++ seeds.map(_ -> "id")).foreach { case (df, c) =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(c).dataType),
        s"PageRank ids must be integral; column $c is ${df.schema(c).dataType.simpleString}")
    }
    // |S| before any graph work; the PageRank case counts its nodes in
    // the layout job below
    val seedCount = seeds.map(_.select(col("id")).distinct().count())
    require(seedCount.forall(_ > 0), "pageRankPersonalized requires a non-empty seed set")

    val flat = CacheScope.persistRows(
      edges.select(col("src").cast(LongType), col("dst").cast(LongType)))
    val part = new HashPartitioner(partitionsFor(spark, flat.count()))
    // src → (od, non-null dsts): a null-dst edge counts toward its
    // source's out-degree and carries its share nowhere; a null-src
    // edge leaves no node
    val adj = CacheScope.persistRdd(flat
      .flatMap { r =>
        if (r.isNullAt(0)) None
        else Some(r.getLong(0) ->
          (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))))
      }
      .groupByKey(part)
      .mapValues(ds => (ds.size.toLong, ds.iterator.filter(_ != null).map(_.longValue).toArray)))

    // Node ids and seed ids (tagged true) take one shuffle onto the
    // adjacency's partitioner. Equal ids meet in one partition, so the
    // per-partition sets are the global distinct sets.
    def ids(df: DataFrame, seed: Boolean): RDD[(java.lang.Long, Boolean)] =
      df.select(col("id").cast(LongType)).queryExecution.toRdd.map { r =>
        (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))) -> seed
      }
    val teleportAll = seeds.isEmpty
    val tagged = seeds.foldLeft(ids(nodes, seed = false))(_ union ids(_, seed = true))
    // generation 0 with fx unscaled (b); |V| is known only once it ran
    val lay = CacheScope.persistRdd(adj.zipPartitions(tagged.partitionBy(part)) { (out, in) =>
      val od = mutable.LongMap.empty[Long]
      out.foreach { case (s, (d, _)) => od(s) = d }
      val node = mutable.LongMap.empty[Unit]
      val seed = mutable.LongMap.empty[Unit]
      var nullNode = false
      in.foreach {
        case (null, isSeed) => if (!isSeed) nullNode = true
        case (id, isSeed) => (if (isSeed) seed else node)(id) = ()
      }
      node.keysIterator.map { id =>
        Rank(id, 0L, od.getOrElse(id, 0L), if (teleportAll || seed.contains(id)) 1L else 0L)
      } ++ (if (nullNode) Iterator(Rank(null, 0L, 0L, if (teleportAll) 1L else 0L)) else Iterator.empty)
    })
    val (nNodes, nDanglingTeleport) = lay
      .map(r => (1L, if (r.od == 0L) r.b else 0L))
      .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    flat.unpersist(blocking = false)
    val nSeeds = seedCount.getOrElse(nNodes)
    require(nSeeds > 0, "pageRank requires a non-empty node set")
    // base = teleport share per seed; the div truncation loses
    // < |S|·1e-12 of total mass — the price of integer exactness
    val base = Scale / nSeeds
    val teleport = (DampDen - DampNum) * base

    var ranks: RDD[Rank] = lay.map(r => r.copy(fx = r.b * base))
    var dang = nDanglingTeleport * base
    var stale = lay
    for (k <- 1 to iters) {
      val prev = ranks
      val share = dang / nSeeds
      val recv = adj.zipPartitions(prev) { (out, rs) =>
        val c = mutable.LongMap.empty[Long]
        rs.foreach(r => if (r.id != null && r.fx > 0L && r.od > 0L) c(r.id) = r.fx / r.od)
        out.flatMap { case (s, (_, ds)) =>
          c.get(s).fold(Iterator.empty[(Long, Long)])(x => ds.iterator.map(_ -> x))
        }
      }.reduceByKey(part, _ + _)
      val next = prev.zipPartitions(recv) { (rs, in) =>
        val got = mutable.LongMap.empty[Long]
        in.foreach { case (id, x) => got(id) = x }
        rs.map { r =>
          val x = if (r.id == null) 0L else got.getOrElse(r.id, 0L)
          r.copy(fx = (teleport * r.b + DampNum * (x + r.b * share)) / DampDen)
        }
      }
      // every round but the last: one job materializes the generation,
      // sums its dangling mass per partition, and frees its predecessor
      if (k < iters) {
        CacheScope.persistRdd(next)
        dang = next.map(r => if (r.od == 0L) r.fx else 0L).fold(0L)(_ + _)
        stale.unpersist(blocking = false)
        stale = next
      }
      ranks = next
    }
    // Readable double via the q81 fixed-point idiom: one exact int64→
    // double conversion (fx < 2^53), floor, one final division — both
    // engines compute the identical double.
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(spark,
      ranks.map(r => InternalRow(r.id, r.fx)),
      StructType(Seq(StructField("id", LongType), StructField("rank_fx", LongType, nullable = false))))
      .select(col("id").cast(idType).as("id"), col("rank_fx"),
        (floor(col("rank_fx").cast("double") / lit(1000.0)) / lit(1e6)).as("rank"))
  }

  /** Clamped label propagation (Zhu & Ghahramani '02 shape) over an
    * edge list: nodes with a non-null initial label are SEEDS and keep
    * it; every round each node takes the majority label of its
    * in-neighbors (tie → lexicographically smallest label), keeping
    * its previous label when no labeled neighbor exists. Integer votes
    * + deterministic tie-break ⇒ engine-replayable. Per round: one
    * edge⋈labels shuffle, one (node, label) count, one max join —
    * two shuffles per round.
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
    * sized left join; no collect, no
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
