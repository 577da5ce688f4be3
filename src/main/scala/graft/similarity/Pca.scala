package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distributed PCA over an embedding column — the
  * compression step of a large-scale embedding pipeline
  * (reduce 1024-dim encoder outputs to the top-r directions before
  * ANN indexing; 4-16x less storage and dot-product work per probe).
  *
  * Scale shape: ONE pass over the corpus accumulates the d×d second
  * moments per partition in local integer arrays (`mapPartitions` —
  * no per-row d² explosion ever hits the shuffle); each partition
  * emits exactly d² moment rows, the global reduce is one
  * `groupBy(i,j)` over d²·partitions tiny rows, and the eigensolve
  * runs on the driver over the d×d result (d is hundreds at most —
  * the corpus never shuffles, nothing corpus-sized is collected).
  * Projection is a broadcast matrix multiply, map-side.
  *
  * Numeric determinism: components are quantized to an integer grid
  * (`floor(x·scale + 0.5)` — the same expression DuckDB evaluates, so
  * the grid is IEEE-identical), all moment sums are exact integers
  * (Long per partition, DECIMAL(38,0) across partitions), and the
  * covariance is one final double division of exact numerators — the
  * oracle replays every cell bit-for-bit.
  */
object Pca {

  /** Exact integer covariance moments: one row per (i, j) dimension
    * pair with the summed quantized products `sp = Σ q_i·q_j`, the
    * first moments `si = Σ q_i`, `sj = Σ q_j`, the row count `n`,
    * and the finished covariance
    * `cov = (n·sp − si·sj) / (n² · scale²)` (population covariance
    * of the quantized values, descaled).
    */
  def covarianceMatrix(df: DataFrame, embCol: String,
      scale: Long = 1000000L): DataFrame =
    covarianceFromMoments(covarianceMoments(df, embCol, scale), scale)

  /** The mergeable moment table behind [[covarianceMatrix]]: exact
    * DECIMAL(38,0) sums per (i, j) — `sp = Σ q_i·q_j`, `si`, `sj`,
    * `n`. Moments are ADDITIVE, so a standing statistics table folds
    * a new ingestion batch with [[appendMoments]] instead of
    * re-scanning 100 TB of history (the same stance as the
    * incremental connected-components fold); persist this table, not
    * the covariance, and derive covariance/components on demand.
    */
  def covarianceMoments(df: DataFrame, embCol: String,
      scale: Long = 1000000L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val partials = df.select(col(embCol).cast("array<double>"))
      .as[Seq[Double]]
      .mapPartitions { rows =>
        var d = -1
        var n = 0L
        var s: Array[Long] = null
        var sp: Array[Array[Long]] = null
        rows.foreach { v =>
          if (d < 0) {
            d = v.length
            s = new Array[Long](d)
            sp = Array.ofDim[Long](d, d)
          }
          require(v.length == d, s"ragged embedding: ${v.length} vs $d")
          val q = new Array[Long](d)
          var i = 0
          while (i < d) {
            q(i) = math.floor(v(i) * scale + 0.5).toLong
            s(i) += q(i)
            i += 1
          }
          i = 0
          while (i < d) {
            val qi = q(i)
            val row = sp(i)
            var j = 0
            while (j < d) { row(j) += qi * q(j); j += 1 }
            i += 1
          }
          n += 1
        }
        if (d < 0) Iterator.empty
        else (for (i <- 0 until d; j <- 0 until d)
          yield (i, j, sp(i)(j), s(i), s(j), n)).iterator
      }.toDF("i", "j", "sp", "si", "sj", "n")

    val dec = DecimalType(38, 0)
    partials.groupBy(col("i"), col("j")).agg(
      sum(col("sp").cast(dec)).as("sp"),
      sum(col("si").cast(dec)).as("si"),
      sum(col("sj").cast(dec)).as("sj"),
      sum(col("n").cast(dec)).as("n"))
  }

  /** Fold a batch's moments into a standing moment table — exact
    * DECIMAL addition per (i, j) cell, so
    * `appendMoments(moments(A), moments(B)) == moments(A ∪ B)`
    * bit-for-bit (spec-checked). d² rows per side; nothing
    * corpus-sized moves.
    */
  def appendMoments(standing: DataFrame, batch: DataFrame): DataFrame =
    standing.unionByName(batch)
      .groupBy(col("i"), col("j")).agg(
        sum(col("sp")).as("sp"),
        sum(col("si")).as("si"),
        sum(col("sj")).as("sj"),
        sum(col("n")).as("n"))

  /** Finish moments into covariance cells:
    * `cov = (n·sp − si·sj) / (n² · scale²)` — one double division of
    * exact numerators (the oracle-replayable step).
    */
  def covarianceFromMoments(moments: DataFrame, scale: Long = 1000000L): DataFrame =
    moments.select(col("i"), col("j"),
      ((col("n") * col("sp") - col("si") * col("sj")).cast("double")
        / (col("n").cast("double") * col("n").cast("double")
          * lit(scale.toDouble) * lit(scale.toDouble))).as("cov"))

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * driver-side (the matrix is d×d; the corpus stays distributed).
    * Returns (eigenvalues desc, eigenvectors as rows) with each
    * vector's sign normalized so its largest-magnitude component is
    * positive (eigenvectors are only defined up to sign; pinning it
    * makes results reproducible across runs and partitionings).
    */
  def symmetricEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) rotate(a, v, p, q)
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val vals = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col = Array.tabulate(d)(r => v(r)(i))
      // sign pin: largest-|x| component positive (first on tie)
      var best = 0
      var j = 1
      while (j < d) { if (math.abs(col(j)) > math.abs(col(best))) best = j; j += 1 }
      if (col(best) < 0) col.map(-_) else col
    }.toArray
    (vals, vecs)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private def rotate(a: Array[Array[Double]], v: Array[Array[Double]],
      p: Int, q: Int): Unit = {
    val d = a.length
    val apq = a(p)(q)
    val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
    val t = {
      val sign = if (theta >= 0) 1.0 else -1.0
      sign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
    }
    val c = 1.0 / math.sqrt(t * t + 1.0)
    val s = t * c
    var k = 0
    while (k < d) {
      val akp = a(k)(p); val akq = a(k)(q)
      a(k)(p) = c * akp - s * akq
      a(k)(q) = s * akp + c * akq
      k += 1
    }
    k = 0
    while (k < d) {
      val apk = a(p)(k); val aqk = a(q)(k)
      a(p)(k) = c * apk - s * aqk
      a(q)(k) = s * apk + c * aqk
      k += 1
    }
    k = 0
    while (k < d) {
      val vkp = v(k)(p); val vkq = v(k)(q)
      v(k)(p) = c * vkp - s * vkq
      v(k)(q) = s * vkp + c * vkq
      k += 1
    }
  }

  /** Top-r principal components of the corpus' covariance: collects
    * the d² covariance cells (bounded by the DIMENSION, never the
    * corpus), eigensolves on the driver. Returns r rows of d
    * components, eigenvalue-descending.
    */
  def principalComponents(cov: DataFrame, r: Int): Array[Array[Double]] = {
    val cells = cov.select(col("i"), col("j"), col("cov")).collect()
    val d = cells.map(_.getInt(0)).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach(row => m(row.getInt(0))(row.getInt(1)) = row.getDouble(2))
    val (_, vecs) = symmetricEigen(m)
    vecs.take(r)
  }

  /** Project embeddings onto the given components (broadcast r×d
    * matrix, map-side dot products — no shuffle): output
    * (idCol, projection array<double> of length r).
    */
  def project(df: DataFrame, idCol: String, embCol: String,
      components: Array[Array[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(components)
    df.select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        val comps = bc.value
        rows.map { case (id, v) =>
          val out = new Array[Double](comps.length)
          var r = 0
          while (r < comps.length) {
            val c = comps(r)
            var s = 0.0
            var i = 0
            while (i < c.length) { s += c(i) * v(i); i += 1 }
            out(r) = s
            r += 1
          }
          (id, out.toSeq)
        }
      }.toDF(idCol, "proj")
  }
}
