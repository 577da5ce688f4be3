package graft.core

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph algorithms over plain (src, dst) edge frames — no graph
  * library, just Spark shuffles.
  *
  * The four iterated operators ([[pageRank]], [[pageRankPersonalized]],
  * [[labelPropagation]], [[coreness]]) are message, gather and apply
  * functions of ONE vertex-iteration primitive, [[Adjacency]]. Before
  * round 1 the edges are grouped ONCE into a `sender → receivers`
  * adjacency under a `HashPartitioner`, and the node states are laid
  * out with the same partitioner, so no round re-shuffles either side
  * (Shark's co-partitioned iterated join). A round is one
  * `zipPartitions` of adjacency and states sending each node's message
  * along its out-edges, one gather shuffle of the messages onto that
  * partitioner (the round's only shuffle), and one `zipPartitions` of
  * states and gathered messages applying the update. Every round but
  * the last is materialized by one job, which may return a scalar the
  * next round reads (PageRank's dangling mass); the stale generation is
  * then released, and the last round runs inside the caller's action.
  * Nothing corpus-sized is collected or broadcast. Node and edge ids
  * are integral; a null id never equals an edge end.
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
  * training replay). Its gather is a `reduceByKey` (map-side partial
  * sums); label propagation and coreness gather with `groupByKey`.
  */
object Graph {

  private type Id = java.lang.Long

  /** Target edge rows per partition for the iterative operators (see
    * [[partitionsFor]]).
    */
  private val EdgeRowsPerPartition = 1L << 18

  /** Partition count for an iterative operator's edge-sized data: one
    * per 2^18 rows, at most the session's parallelism. Every round
    * repeats every task, so a layout inherited from a wide upstream
    * stage would schedule byte-tiny tasks round after round.
    */
  private def partitionsFor(spark: org.apache.spark.sql.SparkSession, rows: Long): Int =
    math.min(rows / EdgeRowsPerPartition + 1,
      math.max(1L, spark.sparkContext.defaultParallelism.toLong)).toInt

  /** Fixed-point scale: ranks are int64 multiples of 1e-12. */
  val Scale: Long = 1000000000000L

  /** Damping = DampNum/DampDen (the classic 0.85, kept rational so the
    * mix is integer-exact).
    */
  val DampNum = 85L
  val DampDen = 100L

  /** `(doc_a, doc_b)` pairs as a symmetric `(src, dst)` edge list, each
    * pair in both directions — the near-duplicate graph the iterated
    * operators run on.
    */
  def symmetric(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** Column `c` of `df` as int64, after checking that it is integral. */
  private def integral(df: DataFrame, c: String): Column = {
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(df.schema(c).dataType),
      s"graph ids must be integral; column $c is ${df.schema(c).dataType.simpleString}")
    col(c).cast(LongType)
  }

  /** The rows of `df` keyed by its `id` column (a null id stays null),
    * each carrying `v` of the row, whose columns are `id` then `more`.
    */
  private def byId[V](df: DataFrame, more: Column*)(v: InternalRow => V): RDD[(Id, V)] =
    df.select(integral(df, "id") +: more: _*).queryExecution.toRdd.map { r =>
      (if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))) -> v(r)
    }

  /** The vertex-iteration primitive: the `from → to` edges of `edges`
    * grouped once into `sender → (out-degree, receivers)` under [[part]].
    * A null-receiver edge counts toward its sender's out-degree and
    * carries nothing; a null-sender edge leaves no node.
    */
  private final class Adjacency(edges: DataFrame, from: String, to: String) {
    // persisted: counted (the partition count), then grouped
    private val flat = CacheScope.persistRows(
      edges.select(integral(edges, from), integral(edges, to)))
    val part = new HashPartitioner(partitionsFor(edges.sparkSession, flat.count()))
    // persisted: the layout and every round's send read the grouped edges
    private val out: RDD[(Long, (Long, Array[Long]))] = CacheScope.persistRdd(flat
      .flatMap { r =>
        if (r.isNullAt(0)) None
        else Some(r.getLong(0) ->
          (if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))))
      }
      .groupByKey(part)
      .mapValues(ds => (ds.size.toLong, ds.iterator.filter(_ != null).map(_.longValue).toArray)))
    /** Persisted RDDs that the next materializing job makes stale. */
    private var stale: Seq[RDD[_]] = Seq(flat)

    /** Generation 0: `rows` shuffled onto [[part]], so every copy of an
      * id meets in one partition, where `init` turns them into states,
      * given the out-degree of an id (0 for a null or edgeless one).
      */
    def layout[V: ClassTag, S](rows: RDD[(Id, V)])(
        init: (Id => Long, Iterator[(Id, V)]) => Iterator[(Id, S)]): RDD[(Id, S)] = {
      // persisted: generation 0, read by the first round and its job
      val lay = CacheScope.persistRdd(out.zipPartitions(rows.partitionBy(part)) { (es, in) =>
        val od = mutable.LongMap.empty[Long]
        es.foreach { case (s, (d, _)) => od(s) = d }
        init(id => if (id == null) 0L else od.getOrElse(id, 0L), in)
      })
      stale :+= lay
      lay
    }

    /** `iters` rounds from `s0`. In a round every node with a `send`
      * message sends it to its receivers, `gather` shuffles the messages
      * onto [[part]], and `apply(z, state, gathered)` updates each node,
      * where `z` is what `job` returned on the previous generation (`z0`
      * before round 1). `job` materializes every generation but the last.
      */
    def iterate[S, M: ClassTag, G](s0: RDD[(Id, S)], iters: Int, z0: Long)(
        send: S => Option[M], gather: RDD[(Long, M)] => RDD[(Long, G)],
        apply: (Long, S, Option[G]) => S, job: RDD[(Id, S)] => Long): RDD[(Id, S)] = {
      def round(state: RDD[(Id, S)], z: Long): RDD[(Id, S)] = {
        val sent = out.zipPartitions(state) { (es, ss) =>
          val m = mutable.LongMap.empty[M]
          ss.foreach { case (id, s) => if (id != null) send(s).foreach(m(id) = _) }
          es.flatMap { case (s, (_, ds)) =>
            m.get(s).fold(Iterator.empty[(Long, M)])(x => ds.iterator.map(_ -> x))
          }
        }
        state.zipPartitions(gather(sent)) { (ss, in) =>
          val got = mutable.LongMap.empty[G]
          in.foreach { case (id, g) => got(id) = g }
          ss.map { case (id, s) => id -> apply(z, s, if (id == null) None else got.get(id)) }
        }
      }
      var state = s0
      var z = z0
      for (_ <- 1 until iters) {
        // each generation is read by its `job` and by the next round
        state = CacheScope.persistRdd(round(state, z))
        z = job(state)
        stale.foreach(_.unpersist(blocking = false))
        stale = Seq(state)
      }
      round(state, z)
    }
  }

  /** The operators' one exit: `(id, value)` states as a frame, `id`
    * cast back to the caller's id type.
    */
  private def frame[S](nodes: DataFrame, state: RDD[(Id, S)], value: StructField)(
      v: S => Any): DataFrame =
    org.apache.spark.sql.GraftBridge.internalCreateDataFrame(nodes.sparkSession,
      state.map { case (id, s) => InternalRow(id, v(s)) },
      StructType(Seq(StructField("id", LongType), value)))
      .select(col("id").cast(nodes.schema("id").dataType).as("id"), col(value.name))

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
    * teleport weight `b` (1 in the teleport set, else 0).
    */
  private final case class Rank(fx: Long, od: Long, b: Long)

  /** The power iteration behind both PageRanks. `seeds = None` is the
    * teleport-to-every-node case: b = 1 everywhere and |S| = |V|.
    */
  private def powerIteration(nodes: DataFrame, edges: DataFrame,
      seeds: Option[DataFrame], iters: Int): DataFrame = {
    // |S| before any graph work; the PageRank case counts its nodes in
    // the layout job below
    val seedCount = seeds.map(s => s.select(integral(s, "id")).distinct().count())
    require(seedCount.forall(_ > 0), "pageRankPersonalized requires a non-empty seed set")
    val adj = new Adjacency(edges, "src", "dst")
    // node ids and seed ids (tagged true) take one shuffle; generation 0
    // gets its fx once the layout job has counted |V|. A null seed id
    // teleports nothing.
    val teleportAll = seeds.isEmpty
    val tagged = seeds.foldLeft(byId(nodes)(_ => false))(_ union byId(_)(_ => true))
    val lay = adj.layout(tagged) { (od, in) =>
      in.toSeq.groupBy(_._1).iterator.collect { case (id, tags) if tags.exists(!_._2) =>
        id -> Rank(0L, od(id), if (teleportAll || (id != null && tags.exists(_._2))) 1L else 0L)
      }
    }
    val (nNodes, nDanglingTeleport) = lay
      .map { case (_, r) => (1L, if (r.od == 0L) r.b else 0L) }
      .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    val nSeeds = seedCount.getOrElse(nNodes)
    require(nSeeds > 0, "pageRank requires a non-empty node set")
    // base = teleport share per seed; the div truncation loses
    // < |S|·1e-12 of total mass — the price of integer exactness
    val base = Scale / nSeeds
    val teleport = (DampDen - DampNum) * base
    val ranks = adj.iterate[Rank, Long, Long](lay.mapValues(r => r.copy(fx = r.b * base)), iters,
      nDanglingTeleport * base)(
      r => if (r.fx > 0L && r.od > 0L) Some(r.fx / r.od) else None,
      _.reduceByKey(adj.part, _ + _),
      (dang, r, x) =>
        r.copy(fx = (teleport * r.b + DampNum * (x.getOrElse(0L) + r.b * (dang / nSeeds))) / DampDen),
      // the dangling mass the next round shares out
      _.map { case (_, r) => if (r.od == 0L) r.fx else 0L }.fold(0L)(_ + _))
    // Readable double via the q81 fixed-point idiom: one exact int64→
    // double conversion (fx < 2^53), floor, one final division — both
    // engines compute the identical double.
    frame(nodes, ranks, StructField("rank_fx", LongType, nullable = false))(_.fx)
      .select(col("id"), col("rank_fx"),
        (floor(col("rank_fx").cast("double") / lit(1000.0)) / lit(1e6)).as("rank"))
  }

  /** Clamped label propagation (Zhu & Ghahramani '02 shape) over an
    * edge list: nodes with a non-null initial label are SEEDS and keep
    * it; every round each node takes the majority label of its
    * in-neighbors, one vote per edge (tie → the smallest label in
    * Spark's ordering of the label type), keeping its previous label
    * when no labeled neighbor exists. Integer votes + deterministic
    * tie-break ⇒ engine-replayable.
    *
    * @param labels (id, lab nullable) — the full node universe, one row
    *   per non-null id (a duplicate is refused); `lab` of any orderable
    *   type. Rows with a null id keep their label and send nothing.
    * @return (id, lab) after `iters` rounds (nullable: nodes never
    *   reached by any labeled neighbor stay null).
    */
  def labelPropagation(
      labels: DataFrame,
      edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"labelPropagation requires iters >= 1, got $iters")
    val labType = labels.schema("lab").dataType
    val adj = new Adjacency(edges, "src", "dst")
    // state: (seed, current label); internal label values, copied out
    // of the scan's reused row buffers
    val l0 = adj.layout(byId(labels, col("lab"))(r =>
        if (r.isNullAt(1)) null else InternalRow.copyValue(r.get(1, labType)))) { (_, in) =>
      val seen = mutable.LongMap.empty[Unit]
      in.map { case (id, lab) =>
        require(id == null || seen.put(id, ()).isEmpty, s"labelPropagation: duplicate id $id")
        id -> (lab != null, lab)
      }
    }
    val result = adj.iterate[(Boolean, Any), Any, Iterable[Any]](l0, iters, 0L)(
      s => Option(s._2),
      _.groupByKey(adj.part),
      (_, s, votes) => if (s._1) s else votes.fold(s) { vs =>
        val ord = PhysicalDataType.ordering(labType)
        // runs of equal labels in ascending order; maxBy keeps the first
        // (smallest) of the largest runs
        val runs = vs.toSeq.sorted(ord).foldLeft(List.empty[(Any, Int)]) {
          case ((l, n) :: t, x) if ord.equiv(l, x) => (l, n + 1) :: t
          case (acc, x) => (x, 1) :: acc
        }
        (false, runs.reverse.maxBy(_._2)._1)
      },
      _.count())
    frame(labels, result, StructField("lab", labType))(_._2)
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
    * Each round is fully parallel, while peeling-based k-core needs
    * O(max-degeneracy) SEQUENTIAL peels; H-index iteration converges in
    * a handful of rounds on sparse dedup graphs — that is why it is the
    * distributed formulation.
    *
    * @param nodes one column `id` — full universe (isolated ⇒ 0).
    * @param edges (src, dst), SYMMETRIZED by the caller (each
    *   undirected edge in both directions), parallel edges deduped.
    *   A node's starting degree counts the edges that end at it,
    *   including those from null and non-node srcs; on a symmetric
    *   list that is its degree.
    * @param iters fixed H-index rounds; converged-and-beyond is exact.
    * @return (id, coreness).
    */
  def coreness(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"coreness requires iters >= 1, got $iters")
    // a src takes the H-index of its dsts' values: values flow dst → src
    val adj = new Adjacency(edges, "dst", "src")
    val c0 = adj.layout(byId(nodes)(_ => ())) { (od, in) =>
      in.map(_._1).distinct.map(id => id -> od(id))
    }
    val result = adj.iterate[Long, Long, Iterable[Long]](c0, iters, 0L)(
      c => Some(c),
      _.groupByKey(adj.part),
      // neighbors sorted by value desc, h = max(min(rank, value))
      (_, _, vs) => vs.fold(0L)(_.toSeq.sorted(Ordering[Long].reverse)
        .iterator.zipWithIndex.map { case (v, i) => math.min(i + 1L, v) }.max),
      _.count())
    frame(nodes, result, StructField("coreness", LongType, nullable = false))(identity)
  }
}
