package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkSpec

/** Physical-plan quality gates: the properties that make these plans
  * survive a 100×–1000× scale-up are asserted, not assumed —
  * predicate pushdown reaching the parquet scan, column pruning,
  * dimension broadcasts, and the absence of cartesian products in the
  * pair-generation pipelines.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02: range + LIKE predicates push down to the parquet scan") {
    val p = plan("q02_filter_ranges")
    assert(p.contains("PushedFilters:"), "no pushdown section")
    assert(p.contains("Or(And(GreaterThanOrEqual(o_orderkey,1000)"),
      "range predicate did not reach the scan")
    assert(p.contains("StringStartsWith(o_orderpriority,1-"),
      "LIKE prefix did not reach the scan")
  }

  test("q02: scan reads only the projected columns") {
    val p = plan("q02_filter_ranges")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_orderdate") && !readSchema.contains("o_custkey"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q32: dimension joins are broadcast — no shuffle of the fact side for the join") {
    val p = plan("q32_broadcast_dict")
    assert(p.contains("BroadcastHashJoin"), "dimension join not broadcast")
    assert(!p.contains("SortMergeJoin"), "fact side is being shuffled for a dim join")
  }

  test("pair-generation pipelines contain no cartesian product") {
    Seq("q23_jaccard_pairs", "q24_minhash_lsh", "q25_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plan contains a nested-loop join")
    }
  }

  test("q01: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q01_agg_groupby")
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "no partial aggregation before the shuffle")
  }

  test("q10/q30: dedup runs as aggregate, not a sorted window") {
    Seq("q10_dedup_final", "q30_any_inner_join").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q still uses a window for dedup")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate") ||
        p.contains("ObjectHashAggregate"), s"$q dedup is not an aggregate")
    }
  }

  test("q05: ANY-join dedup ships a slim struct — no full-row duplicate across the shuffle") {
    // pickByKey with plain-column tiebreaks must pack only the non-key
    // columns once; the old shape nested the whole row next to the
    // order columns (every tiebreak column crossed the shuffle twice).
    val p = plan("q05_any_left_join")
    assert(!p.contains("__row"), "full-row struct still crosses the dedup shuffle")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      "ANY-join dedup lost its map-side partial aggregation")
  }

  test("q27: brute-force ANN broadcasts the query side, never shuffles the corpus for scoring") {
    val p = plan("q27_ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "queries not broadcast against the corpus scan")
  }

  test("q48/q50: LSH pairs and the curation chain join on bounded keys only") {
    // q26 (cosinePairsExact) is the one documented cross-join variant;
    // the default scale paths must never degenerate to one.
    Seq("q48_neardup_lsh", "q50_corpus_curation").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan contains a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plan contains a nested-loop join")
    }
  }

  test("q49: hash sampling is map-only — no join, no aggregate, no shuffle before the sort") {
    val p = plan("q49_hash_sample")
    assert(!p.contains("Join"), "sampling should not join")
    assert(!p.contains("HashAggregate"), "sampling should not aggregate")
    // exactly the one range-partitioning exchange the final ORDER BY needs
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "sampling filter introduced an extra shuffle")
  }

  test("q52: probe postings broadcast — the corpus side never shuffles for the join") {
    val p = plan("q52_decontamination")
    assert(p.contains("BroadcastHashJoin"), "probe postings not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus postings are being shuffled for the contamination join")
    assert(p.contains("partial_count"),
      "overlap count lost its map-side partial aggregation")
  }

  test("q53: prefix sum is one range exchange + a partition-local pass — no window re-shuffle") {
    val p = plan("q53_sequence_pack")
    assert(!p.contains("Exchange hashpartitioning"),
      "packing re-shuffles the corpus (window hash exchange)")
    assert(!p.contains("Window"), "packing still uses a window operator")
    // the operator's own range partition + the query's determinism ORDER BY
    assert(p.linesIterator.count(_.contains("Exchange rangepartitioning")) <= 2,
      "extra range exchange in the packing pipeline")
  }

  test("q55: cross-corpus dedup joins on shingle keys only — no cartesian, no broadcast of a corpus") {
    val p = plan("q55_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "incremental dedup degenerated to an all-pairs join")
    assert(p.contains("ShuffledHashJoin"),
      "candidate join should be shuffle_hash (neither corpus broadcasts at scale)")
  }

  test("q56: training shuffle is one shard exchange + the per-shard sort") {
    val p = plan("q56_shard_shuffle")
    assert(!p.contains("Join"), "shard assignment should not join")
    // shard hash exchange + the determinism ORDER BY range exchange
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      "extra shuffle in the shard pipeline")
  }

  test("q58: vocabulary aggregates with map-side partials on the vocab key") {
    val p = plan("q58_vocabulary")
    assert(p.contains("partial_count"),
      "vocabulary counts lost map-side partial aggregation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q59: dup spans is one gram exchange + a window — no join, no second gram scan") {
    val p = plan("q59_dup_spans")
    assert(!p.contains("Join"), "span duplication should be decided in-place, not by a join")
    assert(p.contains("Window"), "cross-doc test should be a window over the gram partition")
    // formatted explain lists each node twice (tree + "(n) Node" details)
    assert(p.linesIterator.count(_.matches("""\(\d+\) Generate.*""")) == 1,
      "gram explosion runs more than once")
    // gram hash exchange + the determinism ORDER BY range exchange
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      "extra shuffle in the span pipeline")
  }

  test("q62: semdedup pairs join on the cluster key — corpus never cross-joins itself") {
    val p = plan("q62_semdedup")
    assert(!p.contains("CartesianProduct"), "corpus self-join degenerated to a cartesian")
    assert(p.contains("ShuffledHashJoin"),
      "within-cluster pair join should be shuffle_hash (neither side broadcasts at scale)")
    // the only nested-loops are the bounded nlist-row centroid
    // broadcasts (corpus × 16 rows — linear): the static plan lists
    // the shared assignment subtree under each self-join side AND
    // under the cell-size aggregate and its 1-row auto-salt mean
    // (8 listings), but they are one subtree — exchange reuse
    // executes it once
    assert(p.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 8)
  }

  test("semDedup cell salting keeps the bounded-key join shape — no cartesian, no corpus broadcast") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
    val salted = graft.similarity.Similarity.semDedup(emb, tau = 0.45, nlist = 4,
      saltCellRows = 1, maxSalts = 7)
    val p = salted.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), "salted pair join degenerated to a cartesian")
    assert(p.contains("ShuffledHashJoin"),
      "salted pair join should stay shuffle_hash on the (cell, salt) key")
    // nested-loops stay the bounded centroid broadcasts (one shared
    // subtree, statically listed once per self-join side and once per
    // cell-size branch); the cell-size table (≤ nlist rows) joins as
    // a broadcast HASH join
    assert(p.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 4,
      "something corpus-sized is nested-loop joined in the salted plan")
  }

  test("q63: dsir weights aggregate with map-side partials; only the 1-row totals broadcast nests") {
    val p = plan("q63_dsir_weights")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "vocab counts lost map-side partial aggregation")
    assert(p.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "something besides the 1-row totals is nested-loop joined")
  }

  test("q61: pii redaction is map-only — no join, no aggregate, one determinism sort") {
    val p = plan("q61_pii_redact")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      "redaction should be a pure scan-project pipeline")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "extra shuffle in the redaction pipeline")
  }

  test("q64: chunking explodes once, joins nothing") {
    val p = plan("q64_chunking")
    assert(!p.contains("Join"), "chunking should not join")
    assert(p.linesIterator.count(_.matches("""\(\d+\) Generate.*""")) == 1,
      "chunk explosion runs more than once")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "extra shuffle in the chunking pipeline")
  }

  test("q65: mixing broadcasts the fraction table — corpus never shuffles for the join") {
    val p = plan("q65_data_mixing")
    assert(p.contains("BroadcastHashJoin"), "fraction table not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus is being shuffled to meet the source-fraction table")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "source sizes lost map-side partial aggregation")
  }

  test("q51: repetition stats aggregate with map-side partials, no cartesian") {
    val p = plan("q51_repetition")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "repetition counts lost map-side partial aggregation")
  }

  test("q70: surgical decontamination broadcasts the probe grams — corpus grams never shuffle for the match") {
    val p = plan("q70_scrub_contaminated")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "probe gram set is not a broadcast semi join")
    assert(!p.contains("SortMergeJoin"),
      "corpus gram side is being shuffled to meet the probe set")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q71/q72: corpus report and BPE pairs aggregate with map-side partials, no cartesian") {
    Seq("q71_corpus_report", "q72_bpe_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plan crosses the corpus with itself")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q lost map-side partial aggregation")
    }
  }

  test("q73: quality collapse joins on bounded keys only — no cartesian from the score join") {
    val p = plan("q73_quality_collapse")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "score/edge joins degenerated to a cross product")
  }

  test("q75: blocklist gate is a map-only pruned scan — no join, no shuffle before the sort") {
    val p = plan("q75_blocklist")
    assert(!p.contains("Join") && !p.contains("Aggregate"),
      "blocklist gate should be a pure scan-filter pipeline")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "extra shuffle in the blocklist pipeline")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("n_chars"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q74: LM cross-entropy keeps q63's shape — partial aggs, only the 1-row totals nests") {
    val p = plan("q74_lm_xent")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "vocab counts lost map-side partial aggregation")
    assert(p.linesIterator.count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*""")) <= 1,
      "something besides the 1-row totals is nested-loop joined")
  }

  test("q67: line dedup windows over line HASHES — the text never crosses the dup shuffle") {
    val p = plan("q67_line_dedup")
    assert(p.contains("Window"), "cross-doc line test should be a window")
    // the exchange feeding the window partitions on the md5 key, not
    // the raw line, so boilerplate-heavy corpora shuffle 32-char
    // hashes; the line text itself stays in the doc-keyed branch
    assert(p.contains("hashpartitioning(lh"),
      "duplication window does not partition on the line hash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q68: token mixing keeps the broadcast-fraction map-only shape of q65") {
    val p = plan("q68_token_mix")
    assert(p.contains("BroadcastHashJoin"), "fraction table not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus is being shuffled to meet the source-fraction table")
    assert(p.contains("partial_sum"),
      "token mass lost map-side partial aggregation")
  }

  test("q76: hash split is map-only — no join, no aggregate, one determinism sort") {
    val p = plan("q76_hash_split")
    assert(!p.contains("Join"), "split labeling should not join")
    assert(!p.contains("HashAggregate"), "split labeling should not aggregate")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "extra shuffle in the split pipeline")
  }

  test("q77: two-stage ANN broadcasts queries and shortlist — the corpus never shuffles for a join") {
    val p = plan("q77_ann_refine")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus is being shuffled to meet the query/shortlist side")
    assert(p.contains("BroadcastHashJoin"),
      "shortlist rerank should be a map-side broadcast hash join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q78/q79: rule gate and weighted sample are map-only — no join, no aggregate") {
    Seq("q78_gopher_rules", "q79_weighted_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q should not join")
      assert(!p.contains("HashAggregate"), s"$q should not aggregate")
      assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
        s"$q grew an extra shuffle beyond the determinism sort")
    }
  }

  test("q69: per-group cap prunes to cap rows per group map-side, no join at all") {
    val p = plan("q69_source_cap")
    assert(p.contains("Window"), "cap rank should be a window")
    // Spark rewrites row_number <= k into WindowGroupLimit: the
    // map-side instance is the scale property (each map partition
    // emits at most cap rows per group before the shuffle, so a
    // billion-row hot domain ships O(partitions * cap) rows). Whether
    // a second reduce-side instance appears is a version-specific
    // optimizer detail — assert the prune exists, not the node count.
    assert(p.linesIterator.count(_.matches("""\(\d+\) WindowGroupLimit.*""")) >= 1,
      "rank filter did not become a map-side group limit")
    assert(!p.contains("Join"), "per-group cap should not join anything")
  }

  test("q84: as-of join is join-free — union + carry-forward window, no range join") {
    val p = plan("q84_asof_join")
    assert(p.contains("Window"), "as-of carry-forward should be a window")
    assert(p.contains("Union"), "both sides should union into one pass")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must not plan as a join — a range-condition join melts down on hot keys")
  }

  test("q82: sessionize windows share one user_id exchange (no per-window reshuffle)") {
    val p = plan("q82_sessionize")
    // lag + running-sum + rollup: the only hash exchanges are the
    // window partitioning and the (user_id, session_id) rollup.
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange hashpartitioning.*""")) <= 2,
      "sessionization grew extra shuffles:\n" + p)
    assert(!p.contains("Join"))
  }

  test("q81: BM25 stats and dfs ride broadcasts; corpus shuffles only on doc_id") {
    val p = plan("q81_bm25")
    assert(p.contains("BroadcastHashJoin"), "df join should broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a shuffle join for the <= |query|-row df side is wrong at any scale")
    assert(!p.contains("CartesianProduct"))
  }

  test("q83: NB training/scoring contains no cartesian product") {
    val p = plan("q83_nb_lang")
    assert(!p.contains("CartesianProduct"),
      "vocab x class grid must be broadcast-nested-loop, not cartesian")
  }

  test("q88: interval join is a hash join on (key, bucket) — no nested-loop range join") {
    val p = plan("q88_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range condition must ride a bucketized equi-join, not a nested loop")
  }

  test("q98/q99: winsorize bounds broadcast; gap fill has no cartesian blow-up") {
    val p98 = plan("q98_winsorize")
    assert(p98.contains("BroadcastHashJoin"),
      "the 5-row bounds side must broadcast, never shuffle the events for the clamp join")
    val p99 = plan("q99_gapfill")
    assert(!p99.contains("CartesianProduct"),
      "the 1-row span must reach the scaffold as a broadcast, not a cartesian")
  }

  test("q86: funnel is one sorted pass — chained windows, no per-stage self-join") {
    val p = plan("q86_funnel")
    assert(p.contains("Window"))
    assert(!p.contains("Join"),
      "k-stage funnel must not become k event-table self-joins")
    assert(p.linesIterator.count(_.trim.matches("""\(\d+\) Sort .*""")) <= 2,
      "stage windows should share one sort (plus the output order):\n" + p)
  }

  test("q101: maximal spans self-join on the 32-char gram hash, never text; diagonal merge is one window") {
    val p = plan("q101_maximal_spans")
    assert(!p.contains("CartesianProduct"), "gram join degenerated to a cartesian")
    assert(p.contains("Window"), "diagonal run merge should be gaps-and-islands, not a join")
    // the join keys on the md5 hash so gram text never crosses the wire
    assert(p.contains("md5"), "grams should be hash-keyed before the shuffle")
  }

  test("q103: bigram pairs derive map-side — no window sort before the model join") {
    val p = plan("q103_bigram_xent")
    assert(!p.contains("CartesianProduct"), "only the 1-row totals may nest")
    // pair extraction is slice+zip inside a Generate, not lag-over-window
    assert(!p.contains("Window"), "bigrams must not need a per-doc window sort")
  }

  test("q104: fingerprint dedup is aggregate-only — no join anywhere") {
    val p = plan("q104_media_phash")
    assert(!p.contains("Join"), "perceptual collapse must be one fp-keyed aggregate")
    assert(!p.contains("CartesianProduct"))
  }

  test("q108: fuzzy candidates join on the variant hash — no cartesian, verify after the join") {
    val p = plan("q108_fuzzy_match")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("md5"), "variants should be hash-keyed before the shuffle")
    assert(p.contains("levenshtein"), "exact verify must be in the plan")
  }

  test("q110: the sketch is one ObjectHashAggregate pair — partials merge, no sort-based fallback") {
    val p = plan("q110_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate should plan as ObjectHashAggregate")
    assert(!p.contains("Join"))
  }

  test("q111/q112: model tables derive from rollups; only 1-row/stats broadcasts nest") {
    val kn = plan("q111_kneser_ney")
    assert(!kn.contains("CartesianProduct"))
    assert(!kn.contains("Window"), "KN stats must not need a window sort")
    val z = plan("q112_quality_zscore")
    assert(!z.contains("CartesianProduct"))
    assert(z.contains("BroadcastHashJoin") || z.contains("BroadcastExchange"),
      "per-source stats must broadcast back onto the corpus")
  }

  test("q113/q114: split is two windows over one exchange; normalization is map-only") {
    val sp = plan("q113_stratified_split")
    assert(!sp.contains("Join"))
    assert(sp.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      "rank + count windows must share the stratum exchange (plus output sort)")
    val tn = plan("q114_text_normalize")
    assert(!tn.contains("Join") && !tn.contains("Window"))
    assert(tn.contains("nfc_normalize") && tn.contains("strip_accents"))
  }

  test("q115/q118: novelty is one in-place window; batch novelty builds its hash on the batch side") {
    val nv = plan("q115_ngram_novelty")
    assert(!nv.contains("Join"), "in-corpus novelty must not self-join")
    assert(nv.contains("Window") && nv.contains("md5"))
    val bn = plan("q118_batch_novelty")
    assert(bn.contains("ShuffledHashJoin"),
      "the small BATCH must be the hash build side — nothing reference-sized broadcasts")
    assert(!bn.contains("SortMergeJoin"))
  }

  test("q90: ntile is partition-parallel — no unpartitioned window anywhere in the plan") {
    val df = graft.SparkEntry.queries("q90_ntile")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the bucket-partitioned row_number window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "q90 still funnels the ranking through one unpartitioned WindowExec")
    }
  }

  test("q106: canonicalization is map-side; the only wide ops are the cap window and output sort") {
    val p = plan("q106_url_host_cap")
    assert(!p.contains("Join"), "canonicalize/host-extract must not join")
    assert(p.contains("Window"), "the per-host cap should be a rank window")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2,
      "host cap should cost one hash exchange plus the output range sort")
  }

  test("q122: index probe is broadcast-only — pruned scans, no shuffle joins, no cartesian") {
    // build once here (plan() would re-run the write each call)
    val docs = graft.Tables.load(spark, dir, "documents")
    val tmp = scratch("lshplan")
    graft.dedup.LshIndex.write(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0),
      "doc_id", "text", tmp, numPartitions = 16)
    val probed = graft.core.CacheScope.withReleased {
      val df = graft.dedup.LshIndex.probe(spark, tmp,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
        "doc_id", "text", tau = 0.5)
      df.count()
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    assert(probed.contains("PartitionFilters") && probed.contains("pb"),
      "bucket scan not partition-pruned")
    assert(probed.contains("sb"), "signature scan not partition-pruned")
    assert(probed.contains("BroadcastHashJoin"), "batch side must broadcast")
    assert(!probed.contains("CartesianProduct") && !probed.contains("BroadcastNestedLoopJoin"))
  }

  test("q124: snapped chunking is map-only — the one exchange is the output sort") {
    val p = plan("q124_chunk_snapped")
    assert(!p.contains("Join"), "per-doc fold must not join")
    assert(!p.contains("Window"), "per-doc fold must not window")
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "snapped chunking should cost only the output range sort")
  }

  test("q125: classifier featurization aggregates with map-side partials, no cartesian") {
    // the fit runs eagerly inside the query builder; assert on the
    // SCORING plan it returns
    val p = plan("q125_lr_quality")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "feature counts must combine map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("Join"), "scoring is a map-only projection over featurization")
  }

  test("q127/q128: audio decode is a narrow map — no join, no window, one agg-free pipeline") {
    Seq("q127_audio_meta", "q128_audio_fp").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: codec path must not join")
      assert(!p.contains("Window"), s"$q: codec path must not window")
      assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
        s"$q: only the output sort may exchange")
    }
  }

  test("q129: the top-k heap is an ObjectHashAggregate pair with map-side partials — no per-group sort") {
    val p = plan("q129_topk_by")
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate should plan as ObjectHashAggregate")
    assert(p.contains("partial_topk_by"),
      "top-k partials must combine map-side (≤ k rows per group leave each partition)")
    assert(!p.contains("Window"), "the whole point: no row_number window sort")
  }

  test("q130/q135: sketches aggregate with map-side partials, nothing corpus-sized joins") {
    val p = plan("q130_quantile_sketch")
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_quantile_sketch"))
    assert(!p.contains("Join") && !p.contains("Window"))
  }

  test("q131: PCA moments are one mapPartitions pass + one d²-row aggregate — corpus never joins") {
    val p = plan("q131_embed_cov")
    assert(!p.contains("Join"), "moment accumulation must not join")
    assert(p.contains("partial_sum"), "d² moment rows must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q133/q134: drift counts combine map-side; HTML extraction is map-only") {
    val psi = plan("q133_psi_drift")
    assert(psi.contains("partial_count") || psi.contains("partial_sum"),
      "bucket counts must combine map-side")
    // the only nested-loop allowed is the broadcast cross with the
    // 10-row bucket spine — never a plain cartesian
    assert(!psi.contains("CartesianProduct"))
    val html = plan("q134_html_extract")
    assert(!html.contains("Join") && !html.contains("Window"),
      "the strip chain is scan-side")
    assert(html.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "only the output sort may exchange")
  }

  test("q142: containment pair generation joins postings — no cartesian, no nested loop") {
    val p = plan("q142_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "containment candidates must come from the postings equi-join")
    assert(p.contains("ShuffledHashJoin"), "postings join lost the shuffle_hash hint")
  }

  test("q145: CDC boundary cut is map-only — no join, no window before the rollup") {
    val p = plan("q145_cdc_chunks")
    assert(!p.contains("Window"), "chunking must not use a window")
    // the only joins allowed are the source-attach and rollup path;
    // the chunk computation itself is HOF-only (no cartesian anywhere)
    assert(!p.contains("CartesianProduct"))
  }

  test("q149: collocations carry no window; totals ride one broadcast nested loop of 1 row") {
    val p = plan("q149_collocations")
    assert(!p.contains("Window"), "PMI path must be window-free")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "bigram/unigram counts must combine map-side")
  }

  test("q151: CMS is an ObjectHashAggregate pair — grid-sized partials, no sort-based agg") {
    val p = plan("q151_cms_sketch")
    assert(p.contains("ObjectHashAggregate"), "CMS must run as an object hash aggregate")
    assert(p.contains("partial_cms_sketch") || p.contains("cms_sketch"),
      "cms_sketch partials missing from the plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q152: the multi-pattern scan is map-only — scan, generate, one output exchange") {
    val p = plan("q152_multi_contains")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      "only the output sort may exchange")
    // the automaton call sits in the Generate directly over the scan
    assert(p.contains("multi_contains"), "kernel missing from the Generate")
  }

  test("q141: no cartesian; PageRank's result scans its rounds' RDD (bounded plan)") {
    val p = plan("q141_neardup_pagerank")
    assert(!p.contains("CartesianProduct"))
    // the rounds run as RDDs, so the final plan is a scan of the last
    // round's output, not the jaccard pipeline replayed per round
    assert(p.contains("Scan ExistingRDD"),
      "the PageRank result must scan the rounds' RDD")
    assert(p.linesIterator.size < 400,
      s"q141 plan exploded to ${p.linesIterator.size} lines — rounds planned as frames?")
  }

  test("q160: incremental state merge aggregates with map-side partials, no join, no window") {
    val p = plan("q160_delta_agg")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "no partial aggregation before the merge exchange")
    assert(!p.contains("Window"), "delta-agg should carry no window")
    assert(!p.contains("Join"), "delta-agg should carry no join — merge is a union + aggregate")
  }

  test("q161: coreness result scans its rounds' RDD (bounded plan, no cartesian)") {
    val p = plan("q161_kcore")
    assert(p.contains("Scan ExistingRDD"),
      "the coreness result must scan the rounds' RDD")
    assert(p.linesIterator.size < 400,
      s"q161 plan exploded to ${p.linesIterator.size} lines")
    assert(!p.contains("CartesianProduct"))
  }

  test("q162/q167/q171: exact global ranking plans carry no unpartitioned corpus window") {
    Seq("q162_zorder", "q167_calibration", "q171_curriculum_shards").foreach { q =>
      val p = plan(q)
      // GlobalRanks windows partition by the derived bucket; the only
      // acceptable empty partition specs are over bounded frames
      // (none of these queries has one)
      val bad = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains("partitionBy=[]")).toList
      assert(bad.isEmpty, s"$q has unpartitioned windows: $bad")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("q163: multi-query retrieval is ONE corpus pass — stats/df/query maps ride broadcasts") {
    val p = plan("q163_retrieval_eval")
    // corpus tokenize feeds the posting via one scan of documents text;
    // the per-query fan-out and df join must be broadcasts
    assert(p.contains("BroadcastHashJoin"), "query/df maps should broadcast")
    assert(!p.contains("CartesianProduct"))
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(scans <= 3, s"q163 scans documents $scans times (runs + truth expected)")
  }

  test("q164: lexical stats are two explode-count chains — no window, no cartesian") {
    val p = plan("q164_lexical_stats")
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "unit histograms must combine map-side")
  }

  test("q168: evidence join is pair-keyed — no cartesian, per-pair top-k window only") {
    val p = plan("q168_dup_evidence")
    assert(!p.contains("CartesianProduct"))
    val bad = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("partitionBy=[]")).toList
    assert(bad.isEmpty, s"unpartitioned window: $bad")
  }

  test("q170: linkage blocking is equi-join only — no cartesian, no nested loop") {
    val p = plan("q170_record_linkage")
    assert(!p.contains("CartesianProduct"), "blocking must be equi-joins")
    assert(!p.contains("BroadcastNestedLoopJoin"), "blocking must be equi-joins")
  }

  test("q172: cohort algebra joins only the 5 bitmap rows — events aggregate once") {
    val p = plan("q172_bitmap_cohort")
    // the only nested-loop join allowed is the 5x5 bitmap self-join
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("events"))
    assert(scans <= 2, s"events scanned $scans times — bitmaps not reused?")
    assert(p.contains("ObjectHashAggregate"),
      "bitmap_ids should aggregate via ObjectHashAggregate with partials")
  }

  test("q173/q174: decay and MAD fences keep windows partitioned and joins broadcast") {
    Seq("q173_decay_agg", "q174_mad_anomaly").foreach { q =>
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains("partitionBy=[]")).toList
      assert(bad.isEmpty, s"$q has unpartitioned windows: $bad")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!p.contains("SortMergeJoin"),
        s"$q joins should broadcast (1-row scalar / 5-row fences)")
    }
  }

  test("q175/q176/q178/q182: map-side keys, partitioned windows, no cartesian") {
    Seq("q175_padding_waste", "q176_burstiness", "q178_embed_pool",
      "q182_group_trend").foreach { q =>
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains("partitionBy=[]")).toList
      assert(bad.isEmpty, s"$q has unpartitioned windows: $bad")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("q180: SCD2 merge windows partition per key; history joins stay keyed") {
    val p = plan("q180_scd2_merge")
    val bad = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("partitionBy=[]")).toList
    assert(bad.isEmpty, s"unpartitioned windows: $bad")
    assert(!p.contains("CartesianProduct"))
  }

  test("q183/q185/q190: pair-chain compositions carry no cartesian") {
    Seq("q183_entity_resolution", "q185_containment_matrix",
      "q190_effective_size").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("q184: manifest is one aggregate — no join, no window") {
    val p = plan("q184_version_manifest")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "manifest must combine map-side")
  }

  test("q187: the day-spine range join broadcasts the spine (never a cartesian)") {
    val p = plan("q187_rolling_active")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the tiny day spine should broadcast into the range join")
  }

  test("q188/q189: rank-window blocking and forward as-of keep windows partitioned") {
    Seq("q188_sorted_blocking", "q189_asof_forward").foreach { q =>
      val p = plan(q)
      val bad = p.linesIterator.filter(l =>
        l.contains("Window") && l.contains("partitionBy=[]")).toList
      assert(bad.isEmpty, s"$q has unpartitioned windows: $bad")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("q181: fan-out estimator pushes the sample gate into both scans") {
    val p = plan("q181_join_fanout")
    assert(!p.contains("CartesianProduct"))
    // the md5 gate is a derived predicate — it must at least filter
    // before the aggregate (no full-table aggregate on either side)
    val filters = p.linesIterator.count(_.contains("Filter"))
    assert(filters >= 2, "sample gates missing from the per-side pipelines")
  }

  test("q191: probes broadcast into a map-side scan; the corpus never sort-merges") {
    val p = plan("q191_semantic_decon")
    // the probe fan-out is a BroadcastNestedLoopJoin BY DESIGN (tiny
    // eval set × corpus); what must never appear is a corpus-sized
    // shuffle join or cartesian
    assert(p.contains("BroadcastNestedLoopJoin"),
      "probe set should broadcast into the corpus scan")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "corpus is being shuffled for the probe join")
    // the argmax must combine map-side (a partial max of the best
    // struct per c_id), so only contaminated candidates cross the wire
    assert(p.contains("partial_max"), "argmax must combine map-side")
  }

  test("q192/q193: graph compositions keep windows partitioned; origin join broadcasts") {
    val p192 = plan("q192_mutual_knn")
    val bad = p192.linesIterator.filter(l =>
      l.contains("Window") && l.contains("partitionBy=[]")).toList
    assert(bad.isEmpty, s"q192 has unpartitioned windows: $bad")
    val p193 = plan("q193_dup_origin")
    assert(!p193.contains("CartesianProduct"), "q193 has a cartesian")
    assert(p193.contains("BroadcastHashJoin"),
      "cluster-origin join should broadcast the component-sized side")
  }

  test("q194: fertility report is one map-side-partial aggregate — no join, no window") {
    val p = plan("q194_tokenizer_fertility")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "fertility rollup must combine map-side")
  }

  test("q195: tagger bundle has no cartesian and combines map-side") {
    val p = plan("q195_quality_signals")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "rule bundle should be doc-keyed only")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-source rollup must combine map-side")
    val bad = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("partitionBy=[]")).toList
    assert(bad.isEmpty, s"unpartitioned windows: $bad")
  }

  test("q196: quantizer report never sort-merges — centroid and totals sides broadcast") {
    val p = plan("q196_cluster_balance")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "cell-size report shuffled a join it should broadcast")
  }

  test("q197/q198: set ops plan as aggregated key joins; cube is one Expand-fed aggregate") {
    val p197 = plan("q197_set_ops")
    assert(!p197.contains("CartesianProduct") && !p197.contains("BroadcastNestedLoopJoin"),
      "set ops must stay key joins")
    val p198 = plan("q198_cube")
    assert(p198.contains("Expand"), "cube should plan through Expand")
    assert(p198.contains("partial_sum") || p198.contains("partial_count"),
      "cube aggregate must combine map-side")
    assert(!p198.contains("Join"), "cube needs no join")
  }

  test("q199: zipf ranking windows are per-source; no cartesian") {
    val p = plan("q199_zipf_slope")
    val bad = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("partitionBy=[]")).toList
    assert(bad.isEmpty, s"unpartitioned windows: $bad")
    assert(!p.contains("CartesianProduct"))
  }

  test("q200: embedding health is one map-side-partial aggregate — no join, no window") {
    val p = plan("q200_embedding_health")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "health rollup must combine map-side")
  }

  test("q205: column profile is ONE scan — distincts fuse through Expand, no join") {
    val p = plan("q205_column_profile")
    assert(p.contains("Expand"), "multi-distinct must plan through Expand")
    assert(!p.contains("Join"), "profile must not join")
    // count scan DETAIL headers ("(n) Scan parquet"), not tree echoes
    assert(p.linesIterator.count(_.matches("""\(\d+\) Scan parquet.*""")) == 1,
      "profile must read the input exactly once")
  }

  test("q208: interval coalescing runs on one sort — no self-join, no cartesian") {
    val p = plan("q208_interval_merge")
    assert(!p.contains("Join"), "coalescing must not self-join")
    assert(!p.contains("CartesianProduct"))
    // both windows (running max + island sum) share one partitioning/order
    assert(p.linesIterator.count(l => l.contains(" Sort ")) <= 2,
      "the two windows must share the one (keys, start) sort")
  }

  test("q210: TF-IDF pairs join postings on the term key — no cartesian, map-side partials") {
    val p = plan("q210_tfidf_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "APSS must stay a postings equi-join")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "pair dot must combine map-side")
  }

  test("q211: attribution's range containment is a hash join on (user, bucket), never a nested loop") {
    val p = plan("q211_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval containment must bucket to an equi-join")
  }

  test("q204/q209/q212: tolerance asof, multi-probe, matryoshka stay join-shape clean") {
    Seq("q204_asof_tolerance", "q209_ann_multiprobe", "q212_matryoshka_recall")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q plans a cartesian")
      }
  }

  test("q213: the DECLARED keyless range join plans as an equi-join through the optimizer rule") {
    // the frame q213 returns: no width conf anywhere, the rule samples
    // the spine's widths itself
    val p = plan("q213_range_rule")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "IntervalJoinRewrite must turn the declared containment into a bucketed equi-join")
    assert(p.contains("__graft_ib"), "the rule's bucket key must appear in the plan")
  }

  test("q216: the DECLARED asof aggregation plans JOIN-FREE through AsofJoinRewrite") {
    // the frame q216 returns must plan the carry-window: no join
    // operator of any kind in the physical plan
    val p = plan("q216_declared_asof")
    assert(!p.contains("Join"),
      s"declared asof must plan join-free through the rewrite:\n$p")
    assert(p.contains("Window"), "expected the carry-forward window plan")
  }

  /** Scans of `name`'s returned frame that ZoneMapPruneRule pruned. */
  private def prunedScans(name: String): Int =
    graft.plans.ZoneMapPruneRuleSpec.prunedSizes(
      graft.SparkEntry.queries(name)(spark, dir)).size

  test("q226: the returned frame plans a zone-map-pruned scan") {
    assert(prunedScans("q226_zonemap_rule") === 1)
  }

  test("q224: releaseAll deletes the table the query staged") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stagedCopies() =
      tmpRoot.listFiles().filter(_.getName.startsWith("zonemap_q")).toSet
    val before = stagedCopies()
    assert(graft.SparkEntry.queries("q224_zonemap_scan")(spark, dir).count() > 0)
    val staged = stagedCopies() -- before
    assert(staged.size === 1 && graft.core.CacheScope.stagedLeft >= 1)
    graft.core.CacheScope.releaseAll(spark)
    assert(!staged.head.exists && graft.core.CacheScope.stagedLeft === 0)
  }

  test("q250: the returned frame plans a zone-map-pruned versioned scan") {
    assert(prunedScans("q250_versioned_autoprune") === 1)
  }

  test("q214: the sketch-merge frame join is a hash equi-join on the member day") {
    val p = plan("q214_rolling_kmv")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the flagship sketch-merge query must not plan a nested loop")
  }

  test("tripwire: NO query plans an unpartitioned Window (the r9 bench-tail WARN source)") {
    // Every deliberately-bounded single-partition window must carry the
    // non-foldable Windows.zeroKey partition key — an empty partition
    // spec in the OPTIMIZED plan both degrades at scale (all rows to
    // one task) and sprays "WindowExec: No Partition Defined" WARNs
    // over the driver's bounded output capture (which cost round 9 its
    // bench artifact). Checked over the optimized logical plan of all
    // declared queries, so a new query can't reintroduce the hazard.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, dir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries with unpartitioned windows: ${offenders.mkString(", ")}")
  }
}
