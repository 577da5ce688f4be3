package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist
import graft.dedup.Dedup
import graft.text.TextFunctions

/** Corpus-curation operators: deterministic sampling and the composed
  * end-to-end filter chain a training-data pipeline runs before
  * tokenization.
  *
  * Scale notes (100 TB): hash sampling is map-only — no RNG state, no
  * shuffle, no per-partition order dependence — and is reproducible
  * across engines, runs, and cluster sizes (the key derives from
  * CONTENT, so adding executors or reordering splits cannot change the
  * sample). `curateCorpus` composes only bounded-key joins (content
  * hash, shingle postings) and semi/anti joins; nothing quadratic.
  */
object Curation {

  /** 60-bit md5-derived sample key of `id` — uniform on [0, 2^60),
    * identical to DuckDB's `('0x'||substr(md5(id::VARCHAR),1,15))::BIGINT`
    * (same engine-agnostic derivation as SketchOps.md5Top60).
    */
  def hashSampleKey(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("long")

  /** The `fraction` → key-threshold mapping shared with the oracles. */
  def sampleThreshold(fraction: Double): Long =
    (fraction * (1L << 60).toDouble).toLong

  /** EXACT-size weighted sample without replacement (Efraimidis &
    * Spirakis 2006's A-ES, on the content-keyed uniform instead of an
    * RNG): each row draws `u = (hashKey + 1) / 2^60 ∈ (0, 1]` and
    * ranks by `ln(u) / w` descending — the classic `u^(1/w)` order in
    * log space — so the top-k IS a weighted sample without
    * replacement of exactly k rows. Complements [[stratifiedHashSample]]
    * (per-row Bernoulli, size varies) and [[weightedHashSample]]
    * (per-row keep-probability): here the SIZE is exact and weights
    * bias inclusion. Deterministic: no RNG state, reproducible across
    * engines/partitionings; keys round to 6dp (the repo's cross-
    * engine ln rule) with id tiebreak. Rows with `w <= 0` or NULL
    * cannot be sampled and are dropped.
    *
    * Scale shape: map-only key computation + global top-k
    * (TakeOrderedAndProject — per-partition heaps of k, never a full
    * sort).
    */
  def weightedSampleExact(df: DataFrame, idCol: String,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1)
    val key = freshName(df, "_wkey")
    val u = (hashSampleKey(col(idCol)).cast("double") + lit(1.0)) /
      lit((1L << 60).toDouble)
    df.filter(weight > 0)
      .withColumn(key, round(log(u) / weight, 6))
      .orderBy(col(key).desc, col(idCol))
      .limit(k)
      .drop(key)
  }

  /** PER-GROUP weighted priority sample (Duffield–Lund–Thorup priority
    * sampling, on the content-keyed uniform): each row's priority is
    * `w/u` with `u = (hashKey + 1) / 2^60`; the k HIGHEST priorities
    * per group are the sample — equivalently, rank ASCENDING by
    * `key = (hashKey + 1) / w` and keep rank <= k. Unlike
    * [[weightedSampleExact]]'s `ln(u)/w` (a transcendental, rounded to
    * the repo's 6dp cross-engine grid), this key is ONE int64→double
    * conversion and ONE IEEE division — bit-identical in any IEEE-754
    * engine, so the oracle replays ranks exactly, and the per-group
    * form gives every stratum its own exact-size weighted sample in
    * one pass. Rows with `w <= 0` or NULL cannot be sampled.
    *
    * Scale shape: map-only key, then a rank window per group — Spark's
    * WindowGroupLimit pushes the `rank <= k` cap into per-partition
    * heaps before the shuffle, so the exchange carries O(groups · k),
    * not the corpus.
    *
    * `sample_rank` is the declared OUTPUT column (replacing a
    * same-named input is the contract, as with [[shuffleShards]]'s
    * shard/shard_pos); the internal key column is collision-safe.
    */
  def prioritySamplePerGroup(
      df: DataFrame, idCol: String, groupCol: String,
      weight: Column, k: Int): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    val key = freshName(df, "_pkey")
    val u = (hashSampleKey(col(idCol)) + lit(1L)).cast("double")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(key).asc, col(idCol).asc)
    df.filter(weight > 0)
      .withColumn(key, u / weight.cast("double"))
      .withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
      .drop(key)
  }

  /** Weighted deterministic sample: keep a row with probability
    * `baseFraction · weight` (clamped to [0, 1]) — the selection step
    * of importance-weighted data curation (e.g. keep-probability ∝ a
    * DSIR weight or quality score), with [[hashSampleKey]]'s properties:
    * content-keyed, engine-reproducible, stable under partitioning and
    * corpus growth. Map-only. Exactness note: the threshold is one
    * double multiply + compare (IEEE-identical across engines) —
    * no transcendentals, so the DuckDB oracle replays the decision
    * bit-for-bit.
    */
  def weightedHashSample(
      df: DataFrame, idCol: String, weight: Column,
      baseFraction: Double): DataFrame = {
    require(baseFraction >= 0.0)
    val threshold = least(greatest(weight * baseFraction, lit(0.0)), lit(1.0)) *
      lit((1L << 60).toDouble)
    df.filter(hashSampleKey(col(idCol)).cast("double") < threshold)
  }

  /** Deterministic train/val/test split: every row is labeled with
    * the name of the hash-key interval its id falls in. Content-keyed
    * like [[hashSampleKey]], so the assignment is a pure function of the
    * id: stable across runs, engines, partitionings AND corpus growth
    * — a document never migrates between splits when new data
    * arrives, the property that keeps a held-out set held out for the
    * lifetime of a 100 TB corpus. One map-only projection; `weights`
    * must sum to 1 (cumulative thresholds over the 2^60 key space,
    * assignment by first interval containing the key).
    */
  def splitByHash(
      df: DataFrame, idCol: String, splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0.0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must be non-negative and sum to 1")
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _).tail.map(sampleThreshold)
    val key = hashSampleKey(col(idCol))
    val label = splits.map(_._1).zip(thresholds)
      .foldLeft(when(lit(false), lit(""))) {
        case (acc, (name, th)) => acc.when(key < lit(th), lit(name))
      }
      // float-rounding edge: keys at/above the last threshold land in
      // the final split rather than NULL
      .otherwise(lit(splits.last._1))
    df.withColumn("split", label)
  }

  /** Stratified deterministic sample: per-stratum fractions with a
    * default for unlisted strata. One map-only filter — the per-stratum
    * threshold is a CASE over the stratum column, so no split/union and
    * no extra pass per stratum.
    */
  def stratifiedHashSample(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    val threshold = fractions.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, f)) =>
        acc.when(col(strataCol) === stratum, lit(sampleThreshold(f)))
    }.otherwise(lit(sampleThreshold(defaultFraction)))
    df.filter(hashSampleKey(col(idCol)) < threshold)
  }

  /** Deterministic global training shuffle: every row gets a shard
    * (`hashKey mod numShards`) and a position within its shard
    * (ascending hash key, id tiebreak) — the reproducible random order
    * a training run reads. Content-keyed like [[hashSampleKey]]: the
    * permutation is a pure function of the ids, identical across
    * engines, runs, and cluster sizes.
    *
    * Scale shape: one exchange on the shard key plus the per-shard
    * sort every shard FILE needs anyway before writing; no driver-side
    * state. Choose numShards ≳ the write parallelism you want.
    */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `shard`/`shard_pos` are the declared OUTPUT columns (replacing
    // same-named inputs is the contract); the key is internal → fresh
    val key = freshName(df, "_key")
    val w = Window.partitionBy(col("shard")).orderBy(col(key), col(idCol))
    df.withColumn(key, hashSampleKey(col(idCol)))
      .withColumn("shard", pmod(col(key), lit(numShards.toLong)).cast("int"))
      .withColumn("shard_pos", (row_number().over(w) - 1).cast("long"))
      .drop(key)
  }

  /** Materialize a corpus as on-disk training shards: the terminal
    * step after curation/mixing. Rows land in `shard=<n>/` parquet
    * directories, each file internally ordered by the deterministic
    * shuffle position ([[shuffleShards]]) so a loader that reads shard
    * files in name order replays the exact content-keyed permutation —
    * across engines, runs, and cluster sizes.
    *
    * Scale shape: one exchange on the shard key; the per-shard sort is
    * the write order every shard file needs anyway;
    * `maxRecordsPerFile` bounds file sizes so a 100 TB corpus becomes
    * uniformly-sized loader work items.
    */
  def writeTrainingShards(
      df: DataFrame, idCol: String, path: String,
      numShards: Int, maxRecordsPerFile: Long = 1000000L): Unit =
    shuffleShards(df, idCol, numShards)
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("shard_pos"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)

  /** Read a [[writeTrainingShards]] directory back. The `shard`
    * partition column and the stored `shard_pos` come back with the
    * rows, so `orderBy(shard, shard_pos)` IS the deterministic replay
    * order a training loader consumes — and, being content-keyed, it
    * equals [[shuffleShards]] recomputed on the same ids exactly
    * (spec: CurationSpec round-trip; query: q222's manifest join).
    */
  def readTrainingShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)

  /** Per-source verification record of a shard directory against the
    * corpus it claims to materialize — the check a training job runs
    * BEFORE consuming 100 TB of shards: row counts, the q184
    * content fingerprint (order-free modular sum of per-doc content
    * hashes), and an ORDER-SENSITIVE fingerprint (each hash weighted
    * by its 1-based replay position) that catches drops, duplicates,
    * and reorderings alike. `manifest_ok` per source = all three agree
    * with the declared corpus put through the same deterministic
    * shuffle in memory — disk round-trip vs pure computation.
    */
  def verifyShardManifest(
      shards: DataFrame, declared: DataFrame,
      idCol: String, sourceCol: String, textCol: String,
      numShards: Int): DataFrame = {
    val h = conv(substring(md5(col(textCol)), 1, 15), 16, 10).cast("long")
    val M = "2305843009213693951"
    def manifest(df: DataFrame) = df
      .select(col(sourceCol).as("source"), h.as("h"),
        col("shard"), col("shard_pos"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr(s"CAST(sum(CAST(h AS DECIMAL(38,0))) % $M AS LONG)")
          .as("fingerprint"),
        expr(s"CAST(sum(CAST(h AS DECIMAL(38,0)) * (shard * 100000L + shard_pos + 1L)) % $M AS LONG)")
          .as("order_fp"))
    val got = manifest(shards)
    val want = manifest(shuffleShards(declared, idCol, numShards))
      .select(col("source"), col("n_docs").as("n_docs_w"),
        col("fingerprint").as("fingerprint_w"), col("order_fp").as("order_fp_w"))
    got.join(want, Seq("source"), "full_outer")
      .select(col("source"), col("n_docs"), col("fingerprint"), col("order_fp"),
        // a source absent on either side is a FALSE, not a NULL
        coalesce(col("n_docs") === col("n_docs_w") &&
          col("fingerprint") === col("fingerprint_w") &&
          col("order_fp") === col("order_fp_w"), lit(false)).as("manifest_ok"))
  }

  /** Sequence packing: assign documents (in ascending `idCol` order)
    * to fixed-capacity training sequences by running token count —
    * doc d lands in pack `floor(cumsum_before(d) / seqLen)` at offset
    * `cumsum_before(d) mod seqLen` (boundary-agnostic GPT-style
    * concat packing). Returns (id, wc, pack_id, pack_offset).
    *
    * Scale shape — a DISTRIBUTED PREFIX SUM, not a single-partition
    * window: range-partition by id, sort within each partition, run a
    * partition-LOCAL running sum (one streaming mapPartitions pass —
    * no re-shuffle; a `Window.partitionBy(pid)` here would make Spark
    * hash-exchange the whole corpus again because it cannot see the
    * rows are already partition-local), then add per-partition base
    * offsets computed from the partition totals. The only driver-side
    * data is one row per partition (bounded by the partition count,
    * not the corpus); the offsets ship back as a task broadcast. The
    * result is partitioning-independent: cumsum_before(d) depends only
    * on the global id order.
    */
  def packSequences(
      docs: DataFrame,
      idCol: String,
      tokenCountCol: Column,
      seqLen: Long,
      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.TaskContext
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.LongType
    val base = docs.select(col(idCol), tokenCountCol.cast("long").as("wc"))
    val parts =
      (if (numPartitions > 0) base.repartitionByRange(numPartitions, col(idCol))
       else base.repartitionByRange(col(idCol)))
        .sortWithinPartitions(col(idCol))
    // partition totals -> exclusive prefix offsets (one row per
    // partition after the map-side partial; empty partitions contribute
    // 0 and keep ids aligned)
    val totals = parts.groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col("wc")).as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val maxPid = if (totals.isEmpty) -1 else totals.keys.max
    var acc = 0L
    val bases = (0 to maxPid).map { p =>
      val o = (p, acc); acc += totals.getOrElse(p, 0L); o
    }.toMap
    val basesBc = parts.sparkSession.sparkContext.broadcast(bases)
    val outSchema = parts.schema.add("cum_before", LongType, nullable = false)
    val wcIdx = parts.schema.fieldIndex("wc")
    val withCum = parts.mapPartitions { rows =>
      var run = basesBc.value.getOrElse(TaskContext.getPartitionId(), 0L)
      rows.map { r =>
        val out = Row.fromSeq(r.toSeq :+ run)
        run += r.getLong(wcIdx)
        out
      }
    }(Encoders.row(outSchema))
    withCum.select(col(idCol), col("wc"),
      expr(s"cum_before div ${seqLen}L").as("pack_id"),
      pmod(col("cum_before"), lit(seqLen)).as("pack_offset"))
  }

  /** End-to-end corpus curation — the composition run before training:
    *
    *  1. exact dedup: one survivor (min id) per distinct content hash;
    *  2. near-dup collapse: n-gram Jaccard pairs (>= tau) over the
    *     exact survivors, every doc paired with a smaller doc drops
    *     (greedy min-keeper, exact for clusters of diameter <= 2 —
    *     see Dedup.collapsePairs);
    *  3. quality gate: language-ID == `lang` and composite quality
    *     score >= `minQuality`.
    *
    * Returns surviving `(id, lang_pred, quality, wc)` rows. Every stage
    * is a bounded-key join or a map-only filter; the near-dup stage is
    * the inverted-index Jaccard join (never |D|^2).
    */
  def curateCorpus(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      tau: Double = 0.5,
      minQuality: Double = 0.5,
      lang: String = "en"): DataFrame = {
    val survivors = Dedup.exactDedupSurvivors(docs, idCol, textCol)
      .select(col("survivor_id").as(idCol))
    // persisted: BOTH the pair generation and the final anti-join
    // consume the exact survivors, and the two consumers sit under
    // different action subtrees (the chain probe inside collapsePairs
    // fires first), so without the cache the scan + content-hash
    // aggregate + semi-join run twice end to end
    val exactKept = persist(docs.join(survivors, Seq(idCol), "left_semi"))
    val pairs = Dedup.jaccardPairs(exactKept, idCol, textCol, n, tau)
    val drops = Dedup.collapsePairs(pairs).select(col("drop").as(idCol))
    val kept = exactKept.join(drops, Seq(idCol), "left_anti")
    kept.select(
      col(idCol),
      TextFunctions.langId(col(textCol)).as("lang_pred"),
      TextFunctions.qualityScore(col(textCol)).as("quality"),
      TextFunctions.tokenCountWs(col(textCol)).cast("long").as("wc"))
      .filter(col("lang_pred") === lang && col("quality") >= minQuality)
  }

  /** Deterministic data mixing: compose a corpus from weighted sources
    * at target proportions. The achievable budget is capped by the
    * scarcest source (`B = min_s n_s / w_s` — no source oversamples),
    * each source then keeps fraction `w_s · B / n_s` of its rows via
    * the content-keyed hash sample — the SlimPajama-style mixture
    * stage, reproducible across engines, runs, and cluster sizes.
    * Sources absent from `weights` are excluded; a WEIGHTED source
    * absent from the corpus is a zero-row scarcest source, so the
    * budget — and the output — collapse to empty rather than silently
    * emitting a wrong mixture.
    *
    * Scale shape: one count aggregate over the source key (map-side
    * partials), a source-count-row fraction table broadcast back, one
    * map-only filter. No RNG state, no repartition.
    */
  def mixCorpus(
      df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double]): DataFrame =
    mixCorpusBy(df, idCol, sourceCol, weights, lit(1L))

  /** [[mixCorpus]] weighted by token counts instead of row counts —
    * the budget real mixture specs are written in (a source of long
    * documents contributes proportionally fewer DOCS for the same
    * token share). `sizeCol` is each row's mass (e.g.
    * `TextFunctions.tokenCountWs(col("text"))`); proportions and the
    * scarcest-source budget are computed over summed mass, selection
    * stays the content-keyed hash threshold (so the kept TOKEN share
    * of each source is the target in expectation, exact as documents
    * shrink relative to their source — the same guarantee docs-count
    * mixing gives per row). Same scale shape: one keyed aggregate, a
    * broadcast fraction table, one map-only filter.
    */
  def mixCorpusBy(
      df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], sizeCol: Column): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0))
    val spark = df.sparkSession
    val wdf = spark.createDataFrame(weights.toSeq).toDF("src", "w")
    val sizes = wdf
      .join(df.groupBy(col(sourceCol).as("src"))
          .agg(sum(sizeCol).cast("double").as("n")),
        Seq("src"), "left")
      .withColumn("n", coalesce(col("n"), lit(0.0)))
      .withColumn("cap", col("n") / col("w"))
    val budget = sizes.agg(min(col("cap")).as("b"))
    val fracs = sizes.crossJoin(broadcast(budget))
      .select(col("src").as(sourceCol),
        // a zero-row source would divide 0/0 under ANSI; its fraction
        // is definitionally 0 (nothing to keep)
        when(col("n") === 0.0, lit(0.0))
          .otherwise(least(lit(1.0), col("w") * col("b") / col("n"))).as("f"))
    df.join(broadcast(fracs), Seq(sourceCol))
      .filter(hashSampleKey(col(idCol)) <
        floor(col("f") * lit((1L << 60).toDouble)).cast("long"))
      .drop("f")
  }

  /** Per-source corpus report — the dataset-card stats pass run before
    * and after every curation stage: document/token volume, exact-dup
    * rate, mean quality, language spread. One row per source.
    *
    * Engine-exact: quality is summed as DECIMAL (order-independent —
    * qualityScore emits exact 1e-6 multiples), token sums are integer,
    * and each mean divides once at the end, truncated via
    * floor(x·1e6)/1e6 — round-half behavior differs across engines at
    * boundary values (the qualityScore convention), floor does not.
    * Scale shape: a single
    * source-keyed aggregate with map-side partials; the two exact
    * count-distincts (content fp, lang) are the standard two-phase
    * distinct aggregation — swap in `approx_count_distinct` when the
    * per-source distinct cardinality itself is 10^9+.
    */
  def corpusReport(
      df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String): DataFrame = {
    val wc = TextFunctions.tokenCountWs(col(textCol)).cast("long")
    val q = TextFunctions.qualityScore(col(textCol)).cast("decimal(16,6)")
    df.select(col(sourceCol).as("source"), md5(col(textCol)).as("fp"),
        wc.as("wc"), q.as("q"), col(langCol).as("lang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        // NULL-text rows count in n_docs but md5/token/quality skip
        // them — rates and means divide by the non-null count, or
        // they'd overstate dup_rate and dilute the averages
        count(col("fp")).as("_n_text"),
        countDistinct(col("fp")).as("n_distinct"),
        sum(col("wc")).as("n_tokens"),
        sum(col("q")).as("_qsum"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("_denom", when(col("_n_text") > 0, col("_n_text").cast("double")))
      .select(col("source"), col("n_docs"), col("n_distinct"),
        (floor((lit(1.0) - col("n_distinct").cast("double") / col("_denom")) * 1e6) / 1e6)
          .as("dup_rate"),
        col("n_tokens"),
        (floor(col("n_tokens").cast("double") / col("_denom") * 1e6) / 1e6)
          .as("avg_tokens"),
        (floor(col("_qsum").cast("double") / col("_denom") * 1e6) / 1e6)
          .as("avg_quality"),
        col("n_langs"))
  }

  /** The full dataset card — one row per source combining
    * [[corpusReport]]'s volume/dup/quality/language stats with the
    * quality quartiles (mergeable [[graft.functions.QuantileSketchAgg
    * quantile sketch]]) and the distinct-shingle count (mergeable
    * [[graft.functions.KmvSketchAgg KMV sketch]]) — the per-release
    * summary a published corpus ships. Three grain-separated
    * aggregates (doc-grain stats, doc-grain quartiles, shingle-grain
    * distinct), each with map-side partials; the |sources|-row frames
    * join broadcast-small. At 100 TB persist the projected (source,
    * text-derived) frame once if the triple scan matters.
    */
  def datasetCard(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String, kmvK: Int = 16384): DataFrame = {
    val report = corpusReport(df, idCol, textCol, sourceCol, langCol)
    val quart = df.select(col(sourceCol).as("source"),
        TextFunctions.qualityScore(col(textCol)).as("q"))
      .groupBy(col("source"))
      .agg(graft.functions.AggregateFunctions.quantileSketch(
        col("q"), 4096, Seq(0.25, 0.5, 0.75)).as("qs"))
      .select(col("source"),
        col("qs").getItem(0).getField("v").as("q25"),
        col("qs").getItem(1).getField("v").as("q50"),
        col("qs").getItem(2).getField("v").as("q75"))
    val sh = df.select(col(sourceCol).as("source"),
        explode(TextFunctions.shingles(col(textCol), 3)).as("sh"))
      .groupBy(col("source"))
      .agg(size(graft.functions.AggregateFunctions.kmvMinima(col("sh"), kmvK))
        .cast("long").as("n_shingles"))
    report.join(quart, Seq("source")).join(sh, Seq("source"))
  }

  /** Pairwise corpus overlap: exact shingle-set Jaccard between every
    * pair of sources — the "did crawl B re-scrape crawl A" diagnostic
    * that decides whether two corpus snapshots need cross-corpus dedup
    * (Dedup.jaccardPairsAgainst) before mixing.
    *
    * Scale shape: the corpus collapses to distinct (source, shingle)
    * pairs FIRST (a map-side-combined aggregate — the heavy text scan
    * happens once); intersections then come from ONE shingle-keyed
    * aggregate whose per-shingle source set explodes into at most
    * |sources|² pairs — no self-join, so the (source, shingle) table
    * shuffles once, not twice. Sources number in the hundreds when
    * corpora are crawl snapshots, so the per-shingle bound is the
    * small constant that keeps this safe at 100 TB. Source sizes
    * (|sources| rows) ride a broadcast. Pairs with an empty
    * intersection are omitted (same on both engines).
    */
  def corpusOverlap(
      df: DataFrame, textCol: String, sourceCol: String, n: Int = 3): DataFrame = {
    val ss = df.select(col(sourceCol).as("source"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .distinct()
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = ss.groupBy(col("sh")).agg(collect_set(col("source")).as("__srcs"))
      .select(explode(col("__srcs")).as("src_a"), col("__srcs"))
      .select(col("src_a"), explode(col("__srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("_sza"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("_szb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("_sza") + col("_szb") - col("inter")), 6).as("jaccard"))
  }

  /** Snapshot diff between two corpus versions — the dataset-card
    * changelog a versioned training corpus publishes per release:
    * per id, `added` (only in B), `removed` (only in A), `changed`
    * (content hash differs), `unchanged`. One full-outer hash join on
    * the id over md5 fingerprints (text never crosses the shuffle).
    */
  def corpusDiff(a: DataFrame, b: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val fa = a.select(col(idCol).as("__id"), md5(col(textCol)).as("__fa"))
    val fb = b.select(col(idCol).as("__id"), md5(col(textCol)).as("__fb"))
    fa.join(fb, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") =!= col("__fb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** [[corpusOverlap]] at 100 TB: per-source KMV sketches instead of
    * the distinct (source, shingle) shuffle. ONE aggregate ships k
    * longs per source per partition (map-side partials; the shingle
    * universe never crosses the wire), the |sources|·k result is
    * bounded by the SOURCE count — collected like the k-means
    * centroid rows — and every pairwise Jaccard combines two sketches
    * driver-side. With `k > |distinct shingles per source|` the
    * sketches are complete hash sets and the output EQUALS
    * [[corpusOverlap]] row-for-row (the oracle regime); past that,
    * standard KMV estimates with ~1/√k relative error (spec-checked).
    * Zero-intersection pairs are omitted, as in the exact form.
    */
  def corpusOverlapApprox(
      df: DataFrame, textCol: String, sourceCol: String,
      n: Int = 3, k: Int = 16384): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sketches = df.select(col(sourceCol).as("source"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .groupBy(col("source"))
      .agg(graft.functions.AggregateFunctions.kmvMinima(col("sh"), k).as("mins"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val pairs = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (sa, ma) = sketches(i)
      val (sb, mb) = sketches(j)
      val exact = ma.length < k && mb.length < k
      val setA = ma.toSet
      val setB = mb.toSet
      // Spark's round(): BigDecimal HALF_UP on the double value — use
      // the identical rounding so the exact regime matches
      // corpusOverlap (and the oracle) to the last bit
      def r6(x: Double): Double =
        BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (exact) {
        val inter = setA.intersect(setB).size.toLong
        val union = (ma.length + mb.length - inter).toDouble
        (sa, sb, inter, r6(inter / union))
      } else {
        // k smallest of the union (both arrays already unsigned-asc);
        // J ≈ |X ∩ A ∩ B| / |X|, inter ≈ J · D(A ∪ B)
        val flipped = (ma ++ mb).map(_ ^ java.lang.Long.MIN_VALUE).distinct.sorted
        val x = flipped.take(k).map(_ ^ java.lang.Long.MIN_VALUE)
        val interX = x.count(h => setA.contains(h) && setB.contains(h))
        val jac = interX.toDouble / x.length
        val dUnion = graft.functions.KmvSketchAgg.estimateDistinct(x, k)
        (sa, sb, math.round(jac * dUnion), r6(jac))
      }
    }
    pairs.filter(_._3 > 0L).toDF("src_a", "src_b", "inter", "jaccard")
  }

  /** Deterministic per-group cap (the Gopher-style "at most N documents
    * per domain" gate): within every group keep EXACTLY the `cap` rows
    * with the smallest content hash keys (id tiebreak; whole group when
    * it is under cap) — a reproducible uniform choice, like
    * [[stratifiedHashSample]] but with an exact count. Rows with a NULL
    * group key form their own capped group, not a dropped one.
    *
    * Scale shape: `row_number <= cap` over a hash-key-ordered window is
    * rewritten by Spark into a map-side `WindowGroupLimit` — every map
    * partition emits at most `cap` rows per group BEFORE the exchange
    * (PlanSpec-asserted), so a billion-row hot domain ships
    * O(partitions · cap) rows to the window, never its raw size, and
    * the result stays exact — no probabilistic pre-filter needed.
    */
  def capPerGroup(
      df: DataFrame, idCol: String, groupCol: String, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 1)
    // collision-free temp names: withColumn REPLACES an identically-
    // named input column in place, which would corrupt caller data
    val key = freshName(df, "_key")
    val rk = freshName(df, "_rk")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(key), col(idCol))
    df.withColumn(key, hashSampleKey(col(idCol)))
      .withColumn(rk, row_number().over(w))
      .filter(col(rk) <= cap)
      .drop(key, rk)
  }

  /** Collision-free temp name — the shared helper ([[graft.core.Names]]). */
  private def freshName(df: DataFrame, base: String): String =
    graft.core.Names.fresh(df, base)

  /** Sliding-window document chunking — the tokenize-and-chunk pass
    * that turns documents into training/RAG sequences: word windows of
    * `window` starting every `stride` words, plus a snap-to-end final
    * window so the tail is always covered (every chunk is full-size;
    * docs shorter than `window` yield exactly their whole text).
    * Returns (doc_id, chunk_id 1-based, start_pos 1-based, chunk_text,
    * n_words).
    *
    * Map-only per-document explode — no shuffle, no state; chunk count
    * per doc is len/stride, so output scales linearly with corpus
    * token count.
    */
  def chunkDocuments(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1)
    df.select(col(idCol).as("doc_id"),
        graft.text.TextFunctions.tokens(col(textCol)).as("t"))
      .withColumn("last", greatest(size(col("t")) - window + 1, lit(1)))
      .withColumn("starts",
        array_union(sequence(lit(1), col("last"), lit(stride)), array(col("last"))))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(starts, s -> struct(s as start, concat_ws(' ', slice(t, s, $window)) as txt))"))
          .as(Seq("i0", "c")))
      .select(col("doc_id"),
        (col("i0") + 1).cast("long").as("chunk_id"),
        col("c.start").cast("long").as("start_pos"),
        col("c.txt").as("chunk_text"),
        size(split(col("c.txt"), " ")).cast("long").as("n_words"))
  }

  /** Boundary-aware document chunking: greedy non-overlapping cuts
    * every `window` tokens, with each cut SNAPPED BACK to the latest
    * sentence separator (a token matching `sepPattern`, default
    * `.`/`!`/`?`-terminated) within `tolerance` tokens — the
    * mid-sentence-cut fix real packing pipelines apply; past the
    * tolerance the hard cut stands, so a separator-free document
    * chunks exactly like [[chunkDocuments]] with stride=window. The
    * next chunk starts right after the snapped cut (no token is lost
    * or duplicated); the final partial chunk is never snapped.
    *
    * Scale shape: map-only like the fixed-grid form — the greedy cut
    * list folds per document with one `aggregate` HOF over token
    * positions (no window function, no shuffle, no per-chunk rescan),
    * then explodes to (doc_id, chunk_id, start_pos, chunk_text,
    * n_words). Data-dependent cut points are inherently sequential
    * PER DOCUMENT; the fold keeps that sequence inside one row's
    * evaluation, so documents still chunk embarrassingly parallel.
    */
  def chunkDocumentsSnapped(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, tolerance: Int,
      sepPattern: String = "[.!?]$"): DataFrame = {
    require(window >= 1, "window must be positive")
    require(tolerance >= 0 && tolerance < window,
      "tolerance must be in [0, window) — snapping may only shrink a chunk")
    val sep = sepPattern.replace("'", "''")
    // fold state: lc = last cut position, ls = latest separator seen,
    // cuts = emitted cut positions. At i = lc + window the cut lands on
    // ls when ls is inside (lc, i] and within tolerance of i, else on i
    // (hard cut). ls refreshes BEFORE the cut test so a separator at
    // the cut point itself snaps cleanly; stale ls values invalidate
    // via the ls > lc guard (lc only grows).
    def e(stLc: String, ls1: String, i: String) =
      s"IF($ls1 > $stLc AND $i - $ls1 <= $tolerance, $ls1, $i)"
    val ls1 = s"IF(element_at(t, int(i)) rlike '$sep', i, st.ls)"
    val foldExpr =
      s"""IF(size(t) < 1, cast(array() as array<bigint>),
        aggregate(
          sequence(bigint(1), bigint(size(t))),
          struct(bigint(0) as lc, bigint(0) as ls,
                 cast(array() as array<bigint>) as cuts),
          (st, i) -> struct(
            IF(i - st.lc = $window, ${e("st.lc", ls1, "i")}, st.lc) as lc,
            $ls1 as ls,
            IF(i - st.lc = $window,
               concat(st.cuts, array(${e("st.lc", ls1, "i")})),
               st.cuts) as cuts),
          st -> IF(bigint(size(t)) > st.lc,
                   concat(st.cuts, array(bigint(size(t)))), st.cuts)))"""
    df.select(col(idCol).as("doc_id"),
        graft.text.TextFunctions.tokens(col(textCol)).as("t"))
      .withColumn("cuts", expr(foldExpr))
      .select(col("doc_id"), col("t"),
        posexplode(expr(
          """transform(cuts, (c, i) ->
               struct(IF(i = 0, bigint(1), element_at(cuts, i) + 1) as s,
                      c as e))"""))
          .as(Seq("i0", "ch")))
      .select(col("doc_id"),
        (col("i0") + 1).cast("long").as("chunk_id"),
        col("ch.s").as("start_pos"),
        expr("concat_ws(' ', slice(t, int(ch.s), int(ch.e - ch.s + 1)))")
          .as("chunk_text"),
        (col("ch.e") - col("ch.s") + lit(1L)).as("n_words"))
  }

  /** Dedup-aware inverse-propensity sampling weights: every document
    * weighs `1 / |its near-dup cluster|` (singletons 1.0) — the
    * keep-everything alternative to collapsing: content duplicated k
    * ways contributes one unit of total sampling mass instead of k,
    * without destroying any row (the correction epoch-sampling
    * pipelines apply when provenance must survive). Cluster total
    * mass is exactly 1 per cluster; one IEEE division per row, no
    * float sums.
    *
    * @return (idCol, grp, cluster_size, w).
    */
  def dedupWeights(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = Dedup.connectedComponents(
      pairs.select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("doc_id", idCol)
    val labeled = df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component_id"), col(idCol)).as("grp"))
    val sizes = labeled.groupBy(col("grp")).agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("grp"))
      .select(col(idCol), col("grp"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("w"))
  }

  /** Pairwise source Jensen–Shannon divergence over word
    * distributions (add-one smoothed) — the stylometric
    * source-similarity matrix a mixture design reads before assigning
    * weights: near-zero JS = redundant sources, high JS = genuinely
    * distinct registers. Symmetric, bounded by ln 2.
    *
    * Scale shape: one word-count aggregate, then each posting row
    * fans out to the |S|−1 other sources (rows = |S|·postings — |S|
    * is small and bounded, the corpus is not re-scanned per pair);
    * words absent from BOTH sides of a pair contribute exactly 0
    * under shared smoothing, so the union-posting enumeration is
    * complete. Per-(pair, word) terms are computed once (ordered
    * duplicates collapse by max — both orders produce the identical
    * value), rounded to 1e-9, and summed as DECIMAL — the PSI idiom:
    * no float-sum order anywhere.
    *
    * @return (source_a < source_b, js) with js floored to 1e-6.
    */
  def sourceDivergence(
      df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val cnt = df.select(col(sourceCol).as("src"),
        explode(graft.text.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("src"), col("w")).agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val vocab = cnt.agg(countDistinct(col("w")).as("v"))
    val rows = cnt.select(col("src").as("sa"), col("w"), col("c").as("ca"))
      .crossJoin(broadcast(tot.select(col("src").as("sb"), col("n").as("nb"))))
      .filter(col("sa") =!= col("sb"))
      .join(cnt.select(col("src").as("sb"), col("w"), col("c").as("cb0")),
        Seq("sb", "w"), "left")
      .join(broadcast(tot.select(col("src").as("sa"), col("n").as("na"))), "sa")
      .crossJoin(broadcast(vocab))
    val pa = (col("ca") + lit(1)).cast("double") / (col("na") + col("v"))
    val qb = (coalesce(col("cb0"), lit(0L)) + lit(1)).cast("double") / (col("nb") + col("v"))
    val m = (pa + qb) / lit(2.0)
    val terms = rows.select(
      least(col("sa"), col("sb")).as("source_a"),
      greatest(col("sa"), col("sb")).as("source_b"),
      col("w"),
      round(lit(0.5) * pa * log(pa / m) + lit(0.5) * qb * log(qb / m), 9)
        .cast(org.apache.spark.sql.types.DecimalType(28, 9)).as("term"))
    terms.groupBy(col("source_a"), col("source_b"), col("w"))
      .agg(max(col("term")).as("t"))
      .groupBy(col("source_a"), col("source_b"))
      .agg((floor(sum(col("t")).cast("double") * 1e6) / 1e6).as("js"))
  }

  /** Temperature-scaled mixture weights: per-source sampling weight
    * `w_s ∝ n_s^0.5` — the sub-linear upsampling (multilingual/
    * multi-source temperature sampling at τ = 1/2) that keeps small
    * sources from drowning while still respecting volume. Feed the
    * weights into [[mixCorpus]]/[[mixCorpusBy]].
    *
    * Engine-exact: sqrt is IEEE-correctly-rounded in every engine
    * (unlike pow, whose libm rounding varies), each √n quantizes to
    * the int64 `floor(√n·1e6)` grid, the normalizer is an exact int64
    * sum, and the weight is one integer division — no float-sum order
    * anywhere. One count aggregate, |sources| rows total.
    *
    * @return (source, n_docs, sfx, w) — w in ppm-resolution doubles,
    *   summing to ≤ 1 (floor truncation).
    */
  def temperatureWeights(df: DataFrame, sourceCol: String): DataFrame = {
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("sfx",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
    val total = counts.agg(sum(col("sfx")).as("t"))
    counts.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("sfx"),
        (expr("(sfx * 1000000L) div t").cast("double") / lit(1e6)).as("w"))
  }

  /** Leakage-free train/test split: resolve near-dup `pairs` into
    * connected components, then hash the component ROOT for the split
    * decision — an entire near-dup cluster lands on one side, so the
    * test split can never hold a near-copy of a training document
    * (the contamination a doc-level hash split permits whenever a
    * near-dup family straddles the cut). Unpaired docs are their own
    * singleton group, making the assignment STABLE under corpus
    * growth: new unrelated docs never flip existing ones.
    *
    * @param pairs (doc_a, doc_b) near-dup pairs (any detector).
    * @param testNibbles first-md5-hex-digit values sent to test —
    *   |testNibbles|/16 is the expected test fraction.
    * @return (idCol, grp, split∈{train,test}); grp is the component
    *   id (min member) or the doc's own id for singletons.
    */
  def leakageFreeSplit(
      df: DataFrame, idCol: String, pairs: DataFrame,
      testNibbles: Seq[String] = Seq("c", "d", "e", "f")): DataFrame = {
    val comp = Dedup.connectedComponents(
      pairs.select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("doc_id", idCol)
    df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component_id"), col(idCol)).as("grp"))
      .withColumn("split",
        when(substring(md5(col("grp").cast("string")), 1, 1)
          .isin(testNibbles: _*), "test").otherwise("train"))
  }

  /** Content-defined chunking: boundaries where the md5 of the
    * trailing `window`-token gram lands in the 1-in-16 mask (first
    * hex nibble '0'), so a chunk edge is a pure function of LOCAL
    * content — insert or delete tokens anywhere and every boundary
    * beyond `window` tokens past the edit re-aligns, unlike fixed-grid
    * chunking where one insertion shifts every later chunk (the
    * rolling-hash cut of LBFS/rsync/dedup storage, Muthitacharoen et
    * al., SOSP'01, re-expressed at token granularity). Mean chunk
    * length = 16 tokens; a doc with no boundary is one chunk.
    *
    * Map-only: boundary positions and chunk slices compute per row
    * with array HOFs (no shuffle, no window); the cross-engine
    * contract is md5-on-the-gram-string, replayed verbatim by the
    * DuckDB oracle. Production CDC adds min/max chunk-size clamps;
    * those make boundaries STATEFUL (a forced cut shifts later ones),
    * so the unclamped form is the replayable core and clamping is a
    * caller-side post-pass on the emitted cut list.
    *
    * @return (doc_id, chunk_id 1-based, chunk_text, chunk_fp md5,
    *   n_words) — empty trailing chunks (boundary at the last token)
    *   are dropped.
    */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 4): DataFrame = {
    require(window >= 1, "window must be positive")
    val w = window
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        graft.text.TextFunctions.tokens(col(textCol)).as("t"))
      .withColumn("bpos", expr(
        s"""IF(size(t) < $w, cast(array() as array<int>),
             filter(sequence(int($w), size(t)),
               i -> substring(md5(concat_ws(' ', slice(t, i - ${w - 1}, $w))), 1, 1) = '0'))"""))
      .withColumn("bounds",
        expr("concat(array(0), bpos, array(size(t)))"))
      .select(col("doc_id"),
        posexplode(expr(
          """filter(
               transform(sequence(1, size(bounds) - 1),
                 k -> concat_ws(' ',
                   slice(t, element_at(bounds, k) + 1,
                         element_at(bounds, k + 1) - element_at(bounds, k)))),
               c -> c != '')""")).as(Seq("i0", "chunk_text")))
      .select(col("doc_id"),
        (col("i0") + 1).cast("long").as("chunk_id"),
        col("chunk_text"),
        md5(col("chunk_text")).as("chunk_fp"),
        size(split(col("chunk_text"), " ")).cast("long").as("n_words"))
  }

  /** CCNet-style language-model quality scoring (Wenzek et al. 2020,
    * arXiv:1911.00359 — there via KenLM): per-document unigram
    * cross-entropy under the corpus' OWN unigram model with add-one
    * smoothing, `-(1/n) Σ_w log P(w)`. Common boilerplate-ish words
    * score low (head), rare-garbage-heavy docs score high (tail) —
    * compose with [[perplexityBucket]] cutoffs for CCNet's
    * head/middle/tail split. Returns (doc_id, n_tokens, xent).
    *
    * Engine-exact: per-word log-probs round to 6 decimals and sum as
    * DECIMAL (order-independent); the final per-doc mean divides once
    * and floor-truncates to 6dp. Scale shape: identical to
    * [[dsirLogWeights]] — one vocab-keyed count aggregate, a 1-row
    * totals broadcast, a postings join back, a doc-keyed sum.
    */
  /** Exploded (doc_id[, is_t], w) words, vocab-keyed counts, and the
    * 1-row totals — the shared scaffold of the unigram scorers
    * ([[dsirLogWeights]], [[crossEntropyScores]]). The log-prob
    * expressions stay with their operators (DSIR rounds the
    * DIFFERENCE of two logs once; cross-entropy rounds its single
    * log), but the explode/count/broadcast shape and the add-one
    * smoothing denominators live here so a change to one scorer
    * cannot silently miss the other.
    */
  private def unigramModel(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Option[Column]): (DataFrame, DataFrame, DataFrame) = {
    val cols = Seq(col(idCol).as("doc_id")) ++ isTarget.map(_.as("is_t")).toSeq :+
      explode(graft.text.TextFunctions.tokens(col(textCol))).as("w")
    val words = df.select(cols: _*)
    val counts =
      if (isTarget.isDefined)
        words.groupBy(col("w")).agg(count(lit(1)).as("c_all"),
          sum(when(col("is_t"), 1L).otherwise(0L)).as("c_t"))
      else words.groupBy(col("w")).agg(count(lit(1)).as("c_all"))
    val totals =
      if (isTarget.isDefined)
        counts.agg(sum(col("c_all")).as("n_all"), sum(col("c_t")).as("n_t"),
          count(lit(1)).as("v"))
      else counts.agg(sum(col("c_all")).as("n_all"), count(lit(1)).as("v"))
    (words, counts, totals)
  }

  def crossEntropyScores(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (words, counts, totals) = unigramModel(df, idCol, textCol, None)
    val logps = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        round(log((col("c_all") + 1).cast("double") / (col("n_all") + col("v")).cast("double")), 6)
          .cast("decimal(16,6)").as("lp"))
    words.join(logps, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp")).as("slp"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(-col("slp").cast("double") / col("n_tokens") * 1e6) / 1e6).as("xent"))
  }

  /** Interpolated bigram cross-entropy (the CCNet/KenLM filter one
    * order up from [[crossEntropyScores]]): each transition scores
    * `ln(λ·P_mle(w2|w1) + (1-λ)·P_add1(w2))` — the bigram MLE backed
    * off to the add-one unigram, so unseen transitions never hit
    * log(0). Returns (doc_id, n_bigrams, xent_bi); docs with fewer
    * than two tokens have no transitions and no row.
    *
    * Engine-exact: counts are exact ints, each transition's log rounds
    * to 6 decimals and sums as DECIMAL (order-independent), the final
    * mean divides once and floor-truncates — the [[crossEntropyScores]]
    * discipline with one more aggregate.
    *
    * Scale shape: bigram pairs derive MAP-SIDE from the token array
    * (slice+zip, no window sort, no self-join); the model is two
    * vocab-keyed count aggregates (observed bigrams + unigrams) folded
    * into one (w1, w2, lp) stats table that occurrences join
    * postings-style; totals ride a 1-row broadcast.
    */
  /** Map-side (doc_id, w1, w2) transition rows — slice+zip over the
    * token array, no window sort, no self-join. Shared by the bigram
    * scorers.
    */
  private def bigramPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.text.TextFunctions.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  def bigramCrossEntropyScores(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame = {
    val pairs = bigramPairs(df, idCol, textCol)
    // persisted: the totals and both stats joins read it — without the
    // cache q103's sf1 wall rose (median 3.84 → 4.22 s in 4 alternating
    // runs), though its jobs fell 13 → 9
    val uni = persist(
      df.select(explode(graft.text.TextFunctions.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c")))
    val totals = uni.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val stats = bi
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"),
        round(log(
          lit(lambda) * (col("c12").cast("double") / col("c1").cast("double")) +
            lit(1.0 - lambda) *
              ((col("c2") + 1).cast("double") / (col("n") + col("v")).cast("double"))), 6)
          .cast("decimal(16,6)").as("lp"))
    pairs.join(stats, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp")).as("slp"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(-col("slp").cast("double") / col("n_bigrams") * 1e6) / 1e6).as("xent_bi"))
  }

  /** PMI collocation mining: the top-`k` adjacent word pairs by
    * pointwise mutual information `ln(P(w1w2) / (P(w1)·P(w2)))` among
    * bigrams seen at least `minCount` times — the collocation
    * extractor (Church & Hanks 1990) a corpus-analysis pass runs to
    * surface multiword units and template phrases worth tracking.
    *
    * Scale shape: map-side bigram pairs (slice+zip, no window), one
    * bigram aggregate and one unigram aggregate, vocab-keyed joins,
    * totals as a one-row broadcast; the `minCount` filter prunes the
    * observed-bigram table BEFORE the joins. Engine-exact: counts are
    * int64, the single PMI expression runs in one fixed op order and
    * floors to 1e-6.
    *
    * @return (w1, w2, c12, pmi) top-k by (pmi desc, w1, w2).
    */
  def collocations(
      df: DataFrame, idCol: String, textCol: String,
      minCount: Int, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val pairs = bigramPairs(df, idCol, textCol)
    val uni = df.select(explode(graft.text.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // persisted: the totals and the filtered join both read it, and
    // without the cache q149's shuffle read rose (23 → 36 KB at sf0.1);
    // `uni` is cheaper to recompute than to cache
    val bi = persist(pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val totals = uni.agg(sum(col("c")).as("nu"))
      .crossJoin(bi.agg(sum(col("c12")).as("nb")))
    bi.filter(col("c12") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        (floor(log(
          (col("c12").cast("double") * col("nu") * col("nu")) /
            (col("nb").cast("double") * col("c1") * col("c2"))) * 1e6) / 1e6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Interpolated Kneser-Ney bigram cross-entropy — the smoothing the
    * KenLM models CCNet actually ships use (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 4.25, bigram order): absolute-discount
    * the bigram MLE and back off to the CONTINUATION probability (how
    * many distinct left-contexts a word follows, not how often it
    * occurs — "Francisco" is frequent but follows only "San", so its
    * continuation mass is tiny where add-one smoothing overweights
    * it). Scoring the training corpus itself, every transition is
    * observed, so the discounted term is always positive. Returns
    * (doc_id, n_bigrams, xent_kn); docs under two tokens have no row.
    *
    * P(w2|w1) = (c12 - d)/c1 + (d·N1+(w1·)/c1) · (N1+(·w2)/|types|)
    *
    * Engine-exact: every statistic is an exact integer count; each
    * transition's ln rounds to 6dp DECIMAL and sums exactly. Scale
    * shape: identical to [[bigramCrossEntropyScores]] — the model
    * table derives from ONE observed-bigram aggregate (its three
    * context statistics are rollups of it), joined postings-style.
    */
  def kneserNeyBigramScores(
      df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "absolute discount must be in (0,1)")
    val pairs = bigramPairs(df, idCol, textCol)
    // persisted: the four rollups below and the stats join read it in
    // one plan, but their inferred null filters differ, so no exchange
    // is reused and each re-runs the bigram explode — without the cache
    // q111's sf1 wall rose (median 4.75 → 6.34 s, 8 alternating runs)
    val bi = persist(pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val left = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val types = bi.agg(count(lit(1)).as("types"))
    val stats = bi.join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        round(log(
          (col("c12").cast("double") - lit(discount)) / col("c1").cast("double") +
            (lit(discount) * col("n1f").cast("double") / col("c1").cast("double")) *
              (col("n1b").cast("double") / col("types").cast("double"))), 6)
          .cast("decimal(16,6)").as("lp"))
    pairs.join(stats, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lp")).as("slp"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(-col("slp").cast("double") / col("n_bigrams") * 1e6) / 1e6).as("xent_kn"))
  }

  /** CCNet head/middle/tail assignment from fixed cross-entropy
    * cutoffs (derived offline, like CCNet's per-language percentile
    * tables) — a map-only CASE, no global sort/ntile at scale.
    */
  def perplexityBucket(xent: Column, headBelow: Double, middleBelow: Double): Column =
    when(xent < headBelow, lit("head"))
      .when(xent < middleBelow, lit("middle"))
      .otherwise(lit("tail"))

  /** EXACT stratified train/val/test split: within each stratum, rows
    * rank by the content hash key (ties by id) and cut at
    * floor(n_s·frac) boundaries — exact per-stratum proportions, the
    * split a FROZEN benchmark snapshot wants. [[splitByHash]] stays
    * the growing-corpus path (map-only, growth-stable, but
    * proportions only approximate per stratum); this costs one rank
    * window per stratum and re-deals assignments when the corpus
    * changes. Appends a `split` column.
    */
  def stratifiedSplit(
      df: DataFrame, idCol: String, strataCol: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac <= 1,
      "fractions must be positive and sum to at most 1")
    require(!df.columns.contains("split"),
      "input already carries a 'split' column; drop or rename it first " +
        "(silently clobbering previous assignments loses them)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashSampleKey(col(idCol)), col(idCol))
    val wn = Window.partitionBy(col(strataCol))
    val rk = freshName(df, "_rk")
    val n = freshName(df, "_n")
    // thresholds as COLUMN arithmetic (lit + lit), so both engines
    // fold the same double addition — a Scala-side sum can differ in
    // the last bit from the SQL fold
    df.withColumn(rk, row_number().over(w))
      .withColumn(n, count(lit(1)).over(wn))
      .withColumn("split",
        when(col(rk) <= floor(col(n) * lit(trainFrac)), lit("train"))
          .when(col(rk) <= floor(col(n) * (lit(trainFrac) + lit(valFrac))), lit("val"))
          .otherwise(lit("test")))
      .drop(rk, n)
  }

  /** Per-source quality calibration: the composite quality score
    * standardized WITHIN each source (z = (q - mean_s)/std_s) — a
    * fixed threshold tuned on one domain misfires on another (code
    * scores low on stopword ratio, encyclopedic text high on
    * everything), while one z-threshold transfers. Returns
    * (doc_id, source, quality, zq).
    *
    * Engine-exact: quality is the 6dp-floored composite; per-source
    * moments sum its DECIMAL(18,6) cast (and the decimal SQUARE — a
    * double square would round before the sum) exactly, then one
    * fixed-order double expression per row; z rounds to 6dp.
    * Degenerate sources (zero variance) pin z = 0.
    *
    * Scale shape: one source-keyed moment aggregate (map-side
    * partials, |sources| rows) broadcast back onto the corpus — the
    * standardization itself is map-only, no second corpus shuffle.
    */
  def qualityZScores(
      df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val q = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      graft.text.TextFunctions.qualityScore(col(textCol)).as("quality"))
    val qd = col("quality").cast("decimal(18,6)")
    val stats = q.groupBy(col("source").as("_src")).agg(
      sum(qd).as("s"), sum(qd * qd).as("ssq"), count(lit(1)).as("n"))
    // null-SAFE join: unlabeled docs (NULL source) form their own
    // stats group and must not silently vanish through an inner
    // equi-join that never matches NULL = NULL
    q.join(broadcast(stats), col("source") <=> col("_src"))
      .withColumn("_mean", col("s").cast("double") / col("n"))
      .withColumn("_var",
        (col("ssq").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) / col("n"))
      .select(col("doc_id"), col("source"), col("quality"),
        when(col("_var") <= 0.0, lit(0.0))
          .otherwise(round((col("quality") - col("_mean")) / sqrt(col("_var")), 6))
          .as("zq"))
  }

  /** At-most-N-TOKENS-per-group gate — [[capPerGroup]] in the budget
    * unit corpora are actually specced in: rows are taken in the
    * deterministic hash order and a group keeps a row while the
    * running token total BEFORE it is under the budget (so one row may
    * overshoot, never undershoot — a zero-overshoot rule would
    * permanently starve a group whose next doc exceeds the remainder).
    * One running-sum window per group — the only wide operation.
    * Returns the surviving rows.
    */
  def capTokensPerGroup(
      df: DataFrame, idCol: String, groupCol: String,
      sizeCol: Column, maxTokens: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxTokens >= 1)
    val key = freshName(df, "_key")
    val cum = freshName(df, "_cum")
    // greatest(sizeCol, 0): a NULL-text row's size() is -1 under legacy
    // sizeOfNull and would DEDUCT from the running budget, while the
    // oracle's len(string_split(NULL)) is NULL and drops out of its
    // window sum — clamp to 0 so both engines charge such rows nothing.
    df.withColumn(key, hashSampleKey(col(idCol)))
      .withColumn(cum,
        coalesce(sum(greatest(sizeCol, lit(0L))).over(
          Window.partitionBy(col(groupCol)).orderBy(col(key), col(idCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col(cum) < maxTokens)
      .drop(key, cum)
  }

  /** Per-source quality PERCENTILES — the rank-based sibling of
    * [[qualityZScores]]: each doc's quality mapped to its exact
    * within-source percent rank ((rank-1)/(n-1), ties share a rank),
    * distribution-free where z-scores assume rough normality. Returns
    * (doc_id, source, quality, q_pct). One rank window per stratum;
    * the count window shares its exchange.
    */
  def qualityPercentiles(
      df: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      graft.text.TextFunctions.qualityScore(col(textCol)).as("quality"))
    val w = Window.partitionBy(col("source")).orderBy(col("quality"))
    val wn = Window.partitionBy(col("source"))
    // floor, not round: the repo's cross-engine rule — Spark's
    // BigDecimal HALF_UP and DuckDB's float rounding diverge at
    // boundary fractions like 41/640 = 0.0640625
    q.withColumn("_rk", rank().over(w))
      .withColumn("_n", count(lit(1)).over(wn))
      .select(col("doc_id"), col("source"), col("quality"),
        (floor((col("_rk") - 1).cast("double") /
          greatest(col("_n") - 1, lit(1)).cast("double") * 1e6) / 1e6).as("q_pct"))
  }

  /** Population Stability Index per group between two corpus
    * snapshots — the drift monitor a continuously-ingesting training
    * pipeline runs before trusting a new crawl batch: bucket a score
    * into `nBuckets` fixed cells per (group, side), smooth with the
    * standard +0.5 Laplace count (zero-count cells stay finite), and
    * sum `(p_a − p_b) · ln(p_a / p_b)` over cells. PSI < 0.1 is
    * conventionally "no shift", > 0.25 "major shift".
    *
    * Scale shape: one count aggregate over (group, side, bucket) —
    * map-side partials make the shuffle |groups|·|buckets|·2 rows —
    * then a broadcast-sized spine join fills empty cells; nothing
    * corpus-sized moves twice. Engine-exact: every PSI term is
    * rounded to 6 decimals and summed as DECIMAL, so the per-group
    * total is order-independent (each term is ≥ 0 — (p_a−p_b) and
    * ln(p_a/p_b) always share a sign — so HALF_UP and
    * round-away-from-zero agree).
    *
    * Input: `bucketCol` must already be an integer bucket in
    * [0, nBuckets); `sideCol` values "a"/"b". Output:
    * (group, n_a, n_b, psi).
    */
  def populationStability(
      df: DataFrame, groupCol: String, sideCol: String,
      bucketCol: String, nBuckets: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(groupCol).as("grp"), col(sideCol).as("side"),
        col(bucketCol).cast("int").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("grp"), col("bucket"))
      .agg(sum(when(col("side") === "a", col("c")).otherwise(0L)).as("ca"),
        sum(when(col("side") === "b", col("c")).otherwise(0L)).as("cb"))
    val spine = df.select(col(groupCol).as("grp")).distinct()
      .crossJoin(broadcast((0 until nBuckets).toDF("bucket")))
    val filled = spine.join(counts, Seq("grp", "bucket"), "left")
      .na.fill(0L, Seq("ca", "cb"))
    val totals = filled.groupBy(col("grp"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val half = lit(nBuckets * 0.5)
    val withP = filled.join(totals, Seq("grp"))
      .withColumn("pa", (col("ca") + lit(0.5)) / (col("na").cast("double") + half))
      .withColumn("pb", (col("cb") + lit(0.5)) / (col("nb").cast("double") + half))
      .withColumn("term",
        round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(16, 6)))
    withP.groupBy(col("grp"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("term")).cast("double").as("psi"))
      .select(col("grp").as(groupCol), col("n_a"), col("n_b"), col("psi"))
  }

  /** The full CCNet resample: LM-score, bucket at the fixed cutoffs,
    * keep each bucket at its own rate via the content-keyed hash
    * sample — the perplexity-stratified subsample CCNet emits (keep
    * the head, thin the middle, sliver of tail for diversity).
    * Returns kept (doc_id, n_tokens, xent, bucket).
    *
    * Scale shape: [[crossEntropyScores]]' vocab-keyed model + postings
    * join, then a map-only CASE for the bucket and a map-only hash
    * threshold for the keep — the stratified sampling itself adds ZERO
    * shuffles, and the keep decision is reproducible across engines,
    * runs, and cluster sizes (no RNG state).
    */
  def perplexityResample(
      df: DataFrame, idCol: String, textCol: String,
      headBelow: Double, middleBelow: Double,
      headRate: Double = 1.0, middleRate: Double = 0.5,
      tailRate: Double = 0.1): DataFrame = {
    val scored = crossEntropyScores(df, idCol, textCol)
      .withColumn("bucket", perplexityBucket(col("xent"), headBelow, middleBelow))
    val rate = when(col("bucket") === "head", lit(headRate))
      .when(col("bucket") === "middle", lit(middleRate))
      .otherwise(lit(tailRate))
    scored.filter(hashSampleKey(col("doc_id")) <
      floor(rate * lit((1L << 60).toDouble)).cast("long"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169):
    * score every document by how much more likely its words are under
    * a unigram model of the TARGET domain than under the corpus model,
    * `sum_w log(P_t(w) / P_c(w))` with add-one smoothing — the
    * domain-targeted data-selection signal. Positive = more
    * target-like than the corpus average; compose with
    * [[weightedHashSample]]/top-k for the actual resampling pass.
    *
    * Engine-exact: each word's log-ratio is rounded to 6 decimals and
    * summed as DECIMAL, so the per-doc total is order-independent (the
    * double-sum ordering trap the determinism rules ban).
    *
    * Scale shape: two passes over exploded words — one vocab-keyed
    * count aggregate (map-side partials; vocab ≪ corpus), one
    * postings-style join of word → log-ratio back to occurrences, then
    * a doc-keyed sum. The totals row is a 1-row broadcast, never a
    * driver collect.
    */
  def dsirLogWeights(
      df: DataFrame, idCol: String, textCol: String,
      isTarget: Column): DataFrame = {
    val (words, counts, totals) = unigramModel(df, idCol, textCol, Some(isTarget))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        round(
          log((col("c_t") + 1).cast("double") / (col("n_t") + col("v")).cast("double"))
            - log((col("c_all") + 1).cast("double") / (col("n_all") + col("v")).cast("double")),
          6).cast("decimal(16,6)").as("lw"))
    words.join(ratios, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lw")).as("sumw"), count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("sumw").cast("double").as("log_weight"),
        col("n_tokens"))
  }

  /** Quantile normalization across sources: each doc's score is
    * replaced by the GLOBAL order statistic at the doc's within-source
    * quantile — after it, every source has (up to discretization) the
    * same score distribution, so a cross-source quality threshold
    * means the same thing everywhere (the microarray-normalization
    * trick applied to curation scores; complements qualityZScores,
    * which only matches mean/variance, not shape).
    *
    * Exact mapping rule: within-source rank r of m maps to global
    * position ceil(r·N/m) (integer arithmetic), and the normalized
    * value is the global rank-g order statistic under the identical
    * (score, id) total order.
    *
    * Scale shape: one per-source rank window (hash exchange on
    * source), one partition-parallel global numbering
    * ([[graft.core.GlobalRanks]] — no single-task global window), and
    * one long-keyed join of position → order statistic. Nothing
    * collects; the only driver value is the total row count the
    * numbering pass already produces.
    */
  def quantileNormalize(
      scored: DataFrame,
      idCol: String,
      sourceCol: String,
      scoreCol: String): DataFrame = {
    // persisted: the global numbering makes three passes (boundary
    // sketch, per-bucket counts, the ranked output) and the per-source
    // window two more — without the cache each pass re-evaluates the
    // caller's score expression (q166 feeds a full quality-score
    // pipeline), and the rank-bucket fold would inline it per boundary
    // (the q167 duplication hazard, see GlobalRanks).
    val base = persist(scored.select(col(idCol), col(sourceCol), col(scoreCol)))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col(scoreCol).asc, col(idCol).asc)
    val wm = org.apache.spark.sql.expressions.Window.partitionBy(col(sourceCol))
    val sr = base
      .withColumn("__r", row_number().over(ws).cast("long"))
      .withColumn("__m", count(lit(1)).over(wm))
    val (ranked, total) = graft.core.GlobalRanks.withGlobalRowNumber(
      base, col(scoreCol), descending = false,
      tieBreak = Seq(col(idCol)), out = "__grn")
    val gl = ranked.select(col("__grn"), col(scoreCol).as("norm_score"))
    sr
      .withColumn("__g", expr(s"(__r * ${total}L + __m - 1) div __m"))
      .join(gl, col("__g") === col("__grn"))
      .select(col(idCol), col(sourceCol), col(scoreCol), col("norm_score"))
  }
}
