package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-probe data builder (tooling, not a query): writes a K×
  * replica of an existing sf dir with key offsets, so the bench can be
  * run at a scale where 8-core vs 32-core actually separates (at sf0.1
  * the c8/c32 ratio is ≈1.06 — the whole bench sits on the local
  * job-scheduling floor and no parallelism claim is falsifiable; the
  * round-12 verdict asked for exactly this probe).
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/scaledata/sf1 10"
  *
  * Replication rules, chosen so per-operator WORK scales linearly like
  * a real bigger corpus rather than degenerately:
  *  - fact/entity tables replicate with per-copy key offsets (ids stay
  *    unique; join fan-outs keep their per-key multiplicity);
  *  - document TEXT gets a per-copy token suffix on every word, so
  *    shingle vocabularies are disjoint across copies — near-dup pair
  *    structure scales ×K (10 verbatim copies would instead put every
  *    doc in a 10-duplicate family and blow the pair volume up ×K²,
  *    which no real corpus growth does);
  *  - embeddings keep the probe side fixed (vec_id < 10 stay only in
  *    copy 0) while the corpus side scales — the realistic ANN shape;
  *  - dimension tables (region, nation) copy verbatim.
  *
  * The output is for TIMING runs only — the DuckDB oracle set stays
  * sf0.01 and nothing here touches /root/testdata.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args(2).toInt
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def copies(df: DataFrame)(xform: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => xform(df, i)).reduce(_.unionByName(_))

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    // key offset stride per copy: far above any id-shift a declared
    // query applies as a fixture (q245/q255 add 2-4e7 to event ids —
    // a small stride would collide shifted copy-k ids with copy-k+1)
    val C = 1000000000000L
    wr(copies(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * C)) }, "customer")
    wr(copies(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(i * C)) }, "supplier")
    wr(copies(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(i * C)) }, "part")
    wr(copies(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * C))
        .withColumn("o_custkey", col("o_custkey") + lit(i * C)) }, "orders")
    wr(copies(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * C))
        .withColumn("l_partkey", col("l_partkey") + lit(i * C))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * C)) }, "lineitem")
    wr(copies(rd("events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + lit(i * C))
        .withColumn("user_id", col("user_id") + lit(i * C)) }, "events")
    wr(copies(rd("documents")) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * C))
        .withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1x$i")) }, "documents")
    wr(copies(rd("embeddings")) { (d, i) =>
      (if (i == 0) d else d.filter(col("vec_id") >= 10))
        .withColumn("vec_id", col("vec_id") + lit(i * C)) }, "embeddings")
    spark.stop()
    println(s"[scaleup] wrote ${k}x of $src to $out")
  }
}
