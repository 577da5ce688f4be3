package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed PCA: exact covariance moments, partitioning
  * invariance, Jacobi eigensolve recovery of a known dominant
  * direction, orthonormal components, map-side projection.
  */
class PcaSpec extends SparkSpec {

  private def covMap(df: org.apache.spark.sql.DataFrame): Map[(Int, Int), Double] =
    Pca.covarianceMatrix(df, "emb").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap

  test("covarianceMatrix matches a local exact computation and is partitioning-independent") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val data = (0 until 120).map(_ => Seq.fill(4)(rnd.nextDouble() * 2 - 1))
    val df = data.map(Tuple1(_)).toDF("emb")
    val one = covMap(df.repartition(1))
    val many = covMap(df.repartition(7))
    assert(one === many, "integer moments must be exactly merge-order independent")
    // local replay on the same integer grid
    val q = data.map(v => v.map(x => math.floor(x * 1e6 + 0.5).toLong))
    val n = q.size.toLong
    for (i <- 0 until 4; j <- 0 until 4) {
      val sp = q.map(r => r(i) * r(j)).sum
      val si = q.map(_(i)).sum
      val sj = q.map(_(j)).sum
      val expect = (BigInt(n) * BigInt(sp) - BigInt(si) * BigInt(sj)).toDouble /
        (n.toDouble * n.toDouble * 1e6 * 1e6)
      assert(math.abs(one((i, j)) - expect) < 1e-12, s"cell ($i,$j)")
    }
    // symmetry for free
    assert(one((0, 3)) === one((3, 0)))
  }

  test("appendMoments: standing + batch == full recompute, bit-for-bit (incremental PCA)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val a = (0 until 80).map(_ => Seq.fill(5)(rnd.nextDouble() - 0.5))
    val b = (0 until 33).map(_ => Seq.fill(5)(rnd.nextDouble() * 2))
    def df(rows: Seq[Seq[Double]]) = rows.map(Tuple1(_)).toDF("emb").repartition(3)
    val folded = Pca.appendMoments(
      Pca.covarianceMoments(df(a), "emb"),
      Pca.covarianceMoments(df(b), "emb"))
    val full = Pca.covarianceMoments(df(a ++ b), "emb")
    def m(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getDecimal(2), r.getDecimal(3), r.getDecimal(4), r.getDecimal(5)))).toMap
    assert(m(folded) === m(full), "moments must be exactly additive")
    // and the finished covariance is identical too
    val covF = Pca.covarianceFromMoments(folded).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    val covR = Pca.covarianceMatrix(df(a ++ b), "emb").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(covF === covR)
  }

  test("symmetricEigen: exact on a hand-computed 2x2, orthonormal on random symmetric") {
    // [[2, 1], [1, 2]] -> eigenvalues 3, 1; vectors (1,1)/sqrt2, (1,-1)/sqrt2
    val (vals, vecs) = Pca.symmetricEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals(0) - 3.0) < 1e-12 && math.abs(vals(1) - 1.0) < 1e-12)
    val r2 = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(r2, r2)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    assert(vecs(1).zip(Array(r2, -r2)).forall { case (a, b) => math.abs(a - b) < 1e-9 }
      || vecs(1).zip(Array(-r2, r2)).forall { case (a, b) => math.abs(a - b) < 1e-9 })
    // random symmetric 6x6: V orthonormal, A v = lambda v
    val rnd = new scala.util.Random(7)
    val m = Array.ofDim[Double](6, 6)
    for (i <- 0 until 6; j <- i until 6) {
      val v = rnd.nextDouble() - 0.5; m(i)(j) = v; m(j)(i) = v
    }
    val (ev, eV) = Pca.symmetricEigen(m)
    for (a <- 0 until 6; b <- 0 until 6) {
      val dot = eV(a).zip(eV(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9, s"orthonormality ($a,$b)")
    }
    for (k <- 0 until 6) {
      val av = (0 until 6).map(i => (0 until 6).map(j => m(i)(j) * eV(k)(j)).sum)
      av.zip(eV(k)).foreach { case (x, v) =>
        assert(math.abs(x - ev(k) * v) < 1e-8, s"eigenpair $k")
      }
    }
    assert(ev.sliding(2).forall(p => p(0) >= p(1)), "eigenvalues must sort descending")
  }

  test("principalComponents recovers a planted dominant direction; projection concentrates variance") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(3)
    val d = 8
    val u = {
      val raw = Array.tabulate(d)(i => math.sin(i + 1.0))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    // x = t*u + small noise, t in [-1, 1]
    val data = (0 until 400).map { k =>
      val t = rnd.nextDouble() * 2 - 1
      Seq.tabulate(d)(i => t * u(i) + (rnd.nextDouble() - 0.5) * 0.02)
    }
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "emb")
      .repartition(5)
    val comps = Pca.principalComponents(Pca.covarianceMatrix(df, "emb"), 2)
    val align = comps(0).zip(u).map { case (a, b) => a * b }.sum
    assert(math.abs(align) > 0.995, s"top component must align with the planted direction, got $align")
    // projection: first coordinate carries nearly all the variance
    val proj = Pca.project(df, "id", "emb", comps)
      .select(col("proj")).as[Seq[Double]].collect()
    def variance(xs: Seq[Double]): Double = {
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    val v0 = variance(proj.map(_(0)).toSeq)
    val v1 = variance(proj.map(_(1)).toSeq)
    assert(v0 > 50 * v1, s"variance must concentrate in the top component: $v0 vs $v1")
    // projection row count and width
    assert(proj.length === 400 && proj.head.length === 2)
  }
}
