package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextFunctions

/** Dedup-family semantics on a hand-built corpus with planted exact
  * dups, near-dups (local edits), and unrelated noise.
  */
class DedupSpec extends SparkSpec {

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 0
      (3L, "a completely different document about spark query engines and shuffles here"),
      (4L, "yet another unrelated text mentioning parquet files and column pruning"),
      (5L, "short doc")) // < 3 words => single whole-text shingle
      .toDF("doc_id", "text")
  }

  test("exactDedupSurvivors groups identical content, min id survives") {
    val got = Dedup.exactDedupSurvivors(corpus, "doc_id", "text")
      .orderBy(col("survivor_id"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // doc 0+1 collapse (survivor 0, 2 copies); others singletons
    assert(got.toSeq === Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("jaccardPairs finds exact+near dup pairs and nothing else") {
    val got = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSeq === Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got.head._3 === 1.0) // exact dup pair
    assert(got(1)._3 > 0.5 && got(1)._3 < 1.0) // edited pair
  }

  test("jaccardPairs prefix+positional filters are lossless on seeded random corpora") {
    val s = spark
    import s.implicits._
    // random word soup with planted mutation families: the positional
    // (PPJoin) bound must never drop a true pair at ANY tau; seeded
    // loops stand in for scalacheck (offline bridge)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu")
    (0 until 12).foreach { seed =>
      val rng = new scala.util.Random(seed)
      def doc(len: Int): String =
        Seq.fill(len)(words(rng.nextInt(words.length))).mkString(" ")
      val bases = (0 until 12).map(i => (i.toLong, doc(6 + rng.nextInt(10))))
      // each base spawns 0-2 mutants (token replaced / appended)
      val mutants = bases.flatMap { case (id, text) =>
        (0 until rng.nextInt(3)).map { m =>
          val ts = text.split(" ").toVector
          val mutated =
            if (rng.nextBoolean()) ts.updated(rng.nextInt(ts.length),
              words(rng.nextInt(words.length)))
            else ts :+ words(rng.nextInt(words.length))
          (100L + id * 10 + m, mutated.mkString(" "))
        }
      }
      val docs = (bases ++ mutants).toDF("doc_id", "text")
      Seq(0.3, 0.5, 0.8).foreach { tau =>
        val fast = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, tau = tau)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val slow = Dedup.jaccardPairsByCount(docs, "doc_id", "text", n = 2, tau = tau)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(fast === slow, s"seed=$seed tau=$tau: filtered pairs diverged")
        // reference/batch split: the cross-corpus join finds exactly the
        // cross pairs, as (ref_id, new_id)
        val isRef = col("doc_id") % 2 === 0
        val against = Dedup.jaccardPairsAgainst(
            docs.filter(isRef), "doc_id", "text",
            docs.filter(!isRef), "doc_id", "text", n = 2, tau = tau)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val cross = slow.collect {
          case (a, b, j) if a % 2 == 0 && b % 2 != 0 => (a, b, j)
          case (a, b, j) if a % 2 != 0 && b % 2 == 0 => (b, a, j)
        }
        assert(against === cross, s"seed=$seed tau=$tau: cross-corpus pairs diverged")
      }
    }
  }

  test("prefix-filtered jaccardPairs equals the count-based twin on real data") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val prefix = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    val byCount = Dedup.jaccardPairsByCount(docs, "doc_id", "text", n = 3, tau = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    assert(prefix === byCount)
    assert(prefix.nonEmpty) // the fixture has planted near-dups
    // and at a different threshold, where prefix/size bounds bite harder
    val p9 = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.9)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    val c9 = Dedup.jaccardPairsByCount(docs, "doc_id", "text", n = 3, tau = 0.9)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    assert(p9 === c9)
  }

  test("minhashLshPairs output equals exact jaccardPairs on this corpus") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
    assert(lsh === exact)
  }

  test("md5Top60 matches the DuckDB hex-substring derivation") {
    import org.apache.spark.unsafe.types.UTF8String
    // DuckDB: SELECT ('0x' || substr(md5('abc'), 1, 15))::BIGINT
    //         -> 648541476951500027
    assert(graft.functions.SketchOps.md5Top60(UTF8String.fromString("abc"))
      === 648541476951500027L)
    // 60-bit range: always non-negative, below 2^60
    val h = graft.functions.SketchOps.md5Top60(UTF8String.fromString("xyz"))
    assert(h >= 0L && h < (1L << 60))
  }

  test("simhashPairs is a subset of exact pairs, catches identical sets") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(corpus, "doc_id", "text", n = 3, maxHamming = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim.subsetOf(exact))
    assert(sim.contains((0L, 1L))) // identical shingle sets => hamming 0
  }

  test("jaccardPairs maxShingleDocFreq cap drops only stop-shingle overlap") {
    // with a cap of 1, shingles shared by 2+ docs are dropped from the
    // candidate index, so even the exact-dup pair disappears
    val capped = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5,
      maxShingleDocFreq = Some(1))
    assert(capped.count() === 0)
  }

  test("collapsePairs maps every dropped doc to its smallest keeper") {
    val s = spark
    import s.implicits._
    val pairs = Seq((0L, 1L, 1.0), (0L, 2L, 0.9), (1L, 2L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.collapsePairs(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L), (0L, 2L)))
  }

  test("collapsePairs follows keeper chains to the root (diameter > 2)") {
    val s = spark
    import s.implicits._
    // a-b and b-c are pairs but a-c is NOT: c's keeper b is itself
    // dropped for a, so c must collapse to a; plus a 4-link chain
    // (10-11-12-13) exercising more than one pointer jump
    val pairs = Seq(
      (0L, 1L, 0.9), (1L, 2L, 0.9),
      (10L, 11L, 0.9), (11L, 12L, 0.9), (12L, 13L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.collapsePairs(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L), (0L, 2L),
      (10L, 11L), (10L, 12L), (10L, 13L)))
  }

  test("jaccardPairsAgainst: batch paired against a reference corpus") {
    val s = spark
    import s.implicits._
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated reference content here today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
      (12L, "something genuinely novel arrives in this batch"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairsAgainst(ref, "doc_id", "text",
        batch, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 10L), (1L, 11L)))
    // cross-corpus equals the full self-join restricted to cross pairs
    val full = Dedup.jaccardPairs(ref.unionByName(batch), "doc_id", "text",
        n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a <= 2 && b >= 10 }.toSet
    assert(pairs === full)
  }

  test("span scrub: duplicated-span words cut, overlaps merged, clean docs untouched") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 share the 3-gram "a b c" (positions 2 and 1); doc 3
    // shares nothing. Doc 1 also self-repeats "a b c" later — a gram
    // duplicated ACROSS docs cuts every occurrence, but a gram repeated
    // only within one doc does not count as cross-doc.
    val df = Seq(
      (1L, "x a b c y a b c"),
      (2L, "a b c z z z z z"),
      (3L, "entirely distinct words only here now"))
      .toDF("doc_id", "text")
    val spans = Dedup.docDuplicatedSpans(df, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spans === Set((1L, 2L), (1L, 6L), (2L, 1L)))
    val out = Dedup.scrubDuplicatedSpans(df, "doc_id", "text", n = 3, minDocs = 2)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out(0) === ((1L, "x y", 6L))) // both occurrences cut
    assert(out(1) === ((2L, "z z z z z", 3L)))
    assert(out(2) === ((3L, "entirely distinct words only here now", 0L)))
  }

  test("crossDocTest minDocs>2 (dense_rank path): pair-only grams spared, 3-doc grams cut") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b c x1 q q q"), // 'a b c' in docs 1,2,3; 'q q q' in doc 1 only
      (2L, "a b c x2 d e f"),
      (3L, "a b c x3 d e f"), // 'd e f' in docs 2,3 only
      (4L, "totally different words here"))
      .toDF("doc_id", "text")
    val spans3 = Dedup.docDuplicatedSpans(df, "doc_id", "text", n = 3, minDocs = 3)
      .select(col("gram")).distinct().collect().map(_.getString(0)).toSet
    // only the gram shared by >= 3 DISTINCT docs survives; the 2-doc
    // 'd e f' does not (dense_rank counts distinct docs, not rows)
    assert(spans3 === Set("a b c"))
    val spans2 = Dedup.docDuplicatedSpans(df, "doc_id", "text", n = 3, minDocs = 2)
      .select(col("gram")).distinct().collect().map(_.getString(0)).toSet
    assert(spans2.contains("d e f") && spans2.contains("a b c"))
  }

  test("collapsePairsBy keeps the best-scoring doc; chains follow to the best root") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 5L), (2L, 7L), (3L, 9L), (4L, 6L), (5L, 6L))
      .toDF("doc_id", "score")
    val got = Dedup.collapsePairsBy(pairs, scores)
      .orderBy(col("drop"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // chain 1-(2)-(3): 3 outranks all, both 1 and 2 collapse to it even
    // though (1,3) is not a pair; tie 4=5 → smaller id 4 keeps, 5 drops
    assert(got.toSeq === Seq((3L, 1L), (3L, 2L), (4L, 5L)))
  }

  test("dedupLines: boilerplate lines cut, order kept, unique docs untouched") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "intro one\ncookie banner\nbody of doc one"),
      (2L, "cookie banner\nbody of doc two\nall rights reserved"),
      (3L, "body of doc three\nall rights reserved"),
      (4L, "totally unique document")).toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text")
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      // 'cookie banner' (docs 1,2) and 'all rights reserved' (docs 2,3)
      // drop; every surviving line keeps its original order
      (1L, "intro one\nbody of doc one", 3L, 1L),
      (2L, "body of doc two", 3L, 2L),
      (3L, "body of doc three", 2L, 1L),
      (4L, "totally unique document", 1L, 0L)))
    // a WITHIN-doc repeated line is not boilerplate at minDocs=2
    val within = Dedup.dedupLines(
      Seq((9L, "same line\nsame line")).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(within.getString(1) === "same line\nsame line")
    // blank lines are ubiquitous, not boilerplate: never cut even when
    // every doc has one
    val blanks = Dedup.dedupLines(
      Seq((11L, "para one\n\npara two"), (12L, "other one\n\nother two"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(blanks(0).getString(1) === "para one\n\npara two")
    assert(blanks(1).getLong(3) === 0L)
    // minDocs=3 spares pairs, still cuts the 3-doc line
    val loose = Dedup.dedupLines(docs, "doc_id", "text", minDocs = 3)
    assert(loose.agg(sum(col("n_removed"))).head().getLong(0) === 0L)
    val three = docs.union(Seq((5L, "cookie banner\nextra")).toDF("doc_id", "text"))
    assert(Dedup.dedupLines(three, "doc_id", "text", minDocs = 3)
      .filter(col("n_removed") > 0).count() === 3L)
  }

  test("ngramNovelty: duplicated docs score 0, unique docs score 1, partial shares in between") {
    val got = Dedup.ngramNovelty(corpus, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(0L) === 0.0 && got(1L) === 0.0, "exact dups share every gram")
    assert(got(3L) === 1.0 && got(4L) === 1.0 && got(5L) === 1.0)
    assert(got(2L) > 0.0 && got(2L) < 1.0, "the edited near-dup shares most grams")
  }

  test("crossCorpusNovelty: batch copies of reference docs score 0, fresh content 1") {
    val s = spark
    import s.implicits._
    val ref = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "an unrelated reference document about query engines"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // verbatim known
      (2L, "completely novel words nobody wrote before anywhere"),
      (3L, "the quick brown fox discusses query engines")) // mixed
      .toDF("doc_id", "text")
    val got = Dedup.crossCorpusNovelty(batch, "doc_id", "text", ref, "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) === 0.0)
    assert(got(2L) === 1.0)
    assert(got(3L) > 0.0 && got(3L) < 1.0)
  }

  test("editDistancePairs finds substitution, insertion, AND deletion neighbors at k=1") {
    val s = spark
    import s.implicits._
    val names = Seq(
      (1L, "kitten"), (2L, "sitten"),  // substitution
      (3L, "kitte"),                   // deletion
      (4L, "kittten"),                 // insertion
      (5L, "zebra"))                   // unrelated
      .toDF("id", "name")
    val got = Dedup.editDistancePairs(names, "id", "name")
      .orderBy(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L)))
    // identical strings pair at distance 0
    val dup = Dedup.editDistancePairs(
      Seq((1L, "same"), (2L, "same")).toDF("id", "name"), "id", "name").head()
    assert((dup.getLong(0), dup.getLong(1), dup.getLong(2)) === ((1L, 2L, 0L)))
  }

  test("connectedComponents labels every node with its component min at any diameter") {
    val s = spark
    import s.implicits._
    // a 6-node path (diameter 5 — beyond the greedy collapse), a
    // triangle, and an isolated pair
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // path
      (20L, 21L), (21L, 22L), (20L, 22L),                          // triangle
      (30L, 31L))                                                  // pair
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L, 15L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L))
    // a 40-node path converges well inside the iteration guard
    val chain = (0L until 39L).map(i => (100L + i, 101L + i)).toDF("doc_a", "doc_b")
    val labs = Dedup.connectedComponents(chain)
      .collect().map(_.getLong(1)).distinct
    assert(labs.toSeq === Seq(100L))
    // the distributed label-propagation path (localLimit = 0 forces
    // it) produces the identical labeling
    val dist = Dedup.connectedComponents(pairs, localLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === got)
    val distChain = Dedup.connectedComponents(chain, localLimit = 0L)
      .collect().map(_.getLong(1)).distinct
    assert(distChain.toSeq === Seq(100L))
  }

  test("resolveChains local and distributed paths agree on deep keeper chains") {
    val s = spark
    import s.implicits._
    // 1<-2<-3<-...<-8 chain plus a flat pair — every drop must resolve
    // to root 1 (or 20)
    val mapping = ((1L to 7L).map(i => (i, i + 1)) :+ (20L, 21L))
      .toDF("keep", "drop")
    val local = Dedup.resolveChains(mapping)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val dist = Dedup.resolveChains(mapping, localLimit = 0L)
      .collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    val want = (2L to 8L).map(_ -> 1L).toMap + (21L -> 20L)
    assert(local === want)
    assert(dist === want)
    // regression: a 200-link chain must fully resolve on the local
    // path too (a fixed hop cap would emit a non-root survivor)
    val deep = (1L to 200L).map(i => (i, i + 1)).toDF("keep", "drop")
    val deepLocal = Dedup.resolveChains(deep)
      .collect().map(r => r.getLong(0)).distinct
    assert(deepLocal.toSeq === Seq(1L),
      "every drop in one chain must map to the single root")
  }

  test("maximalSharedSpans chains adjacent shared grams into ONE maximal span") {
    val s = spark
    import s.implicits._
    // docs 1/2 share a 9-word (3×n) run in different surroundings;
    // doc 3 shares only a 3-word run with each
    val run = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val docs = Seq(
      (1L, s"alpha beta $run gamma delta"),
      (2L, s"prefix words here $run suffix tail"),
      (3L, "unrelated stuff w1 w2 w3 totally different end"))
      .toDF("doc_id", "text")
    val got = Dedup.maximalSharedSpans(docs, "doc_id", "text", n = 3, minSpanWords = 3)
      .orderBy(col("doc_a"), col("doc_b"), col("start_a")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 2L, 3L, 4L, 9L), // one maximal span, not seven 3-gram fragments
      (1L, 3L, 3L, 3L, 3L),
      (2L, 3L, 4L, 3L, 3L)))
    // raising the floor past the short spans keeps only the long run
    assert(Dedup.maximalSharedSpans(docs, "doc_id", "text", n = 3, minSpanWords = 4)
      .count() === 1L)
  }

  test("maximal shared spans are word-exact when the run is not a gram multiple") {
    val s = spark
    import s.implicits._
    // stride-1 grams make starts and lengths word-exact: a 13-word run
    // with n=8 (13 = 1×8+5, not a multiple) reports start/length to the
    // word, with no ±(n-1) grid snap at either end
    val run13 = (1 to 13).map(i => s"s$i").mkString(" ")
    val got13 = Dedup.maximalSharedSpans(Seq(
        (1L, s"p1 p2 p3 p4 p5 $run13 t1 t2 t3 t4"),
        (2L, s"q1 q2 $run13 u1")).toDF("doc_id", "text"),
      "doc_id", "text", n = 8, minSpanWords = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got13.toSeq === Seq((1L, 2L, 6L, 3L, 13L)))
    // runs touching the document edges stay exact (no room to over- or
    // under-extend): shared 10-word run at doc start / doc end, n=4
    val run10 = (1 to 10).map(i => s"r$i").mkString(" ")
    val gotEdge = Dedup.maximalSharedSpans(Seq(
        (1L, s"$run10 x1 x2"),
        (2L, s"y1 y2 y3 $run10")).toDF("doc_id", "text"),
      "doc_id", "text", n = 4, minSpanWords = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(gotEdge.toSeq === Seq((1L, 2L, 1L, 4L, 10L)))
    // one-word extension shifts the report by exactly one word: the
    // run grows to 14 and the span follows it, not the gram grid
    val run14 = s"s0 $run13"
    val got14 = Dedup.maximalSharedSpans(Seq(
        (1L, s"p1 p2 p3 p4 $run14 t1 t2 t3 t4"),
        (2L, s"q1 q2 $run14 u1")).toDF("doc_id", "text"),
      "doc_id", "text", n = 8, minSpanWords = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got14.toSeq === Seq((1L, 2L, 5L, 3L, 14L)))
  }

  test("hammingPairs64: pigeonhole recall over every piece, exact popcount verify") {
    val s = spark
    import s.implicits._
    val base = 0x0123456789ABCDEFL
    val fps = Seq(
      (1L, base),
      (2L, base),                    // hamming 0
      (3L, base ^ 1L),               // 1 bit, lowest piece
      (4L, base ^ (1L << 63)),       // 1 bit, SIGN bit (unsigned shift path)
      (5L, base ^ 0x7L),             // 3 bits, one piece
      // one flipped bit in EACH 16-bit piece: hamming 4 from base (not
      // a pair, and not even a candidate — every piece differs), but
      // hamming 3 from doc 3, with which it SHARES piece 0 (both flip
      // bit 0) — the pigeonhole catch working across variants
      (6L, base ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))),
      (7L, -1L))                     // far from everything
      .toDF("media_id", "fp")
    val got = Dedup.hammingPairs64(fps, "media_id", "fp", maxHamming = 3)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (4,5) is hamming 4 (sign bit + three low bits) — correctly out
    assert(got.toSeq === Seq(
      (1L, 2L, 0L), (1L, 3L, 1L), (1L, 4L, 1L), (1L, 5L, 3L),
      (2L, 3L, 1L), (2L, 4L, 1L), (2L, 5L, 3L),
      (3L, 4L, 2L), (3L, 5L, 2L), (3L, 6L, 3L)))
    // maxHamming=0 degenerates to exact fingerprint match
    assert(Dedup.hammingPairs64(fps, "media_id", "fp", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    // the hot-bucket cap drops a degenerate family, like the LSH caps
    val hot = (1L to 6L).map(i => (i, 0L)).toDF("media_id", "fp")
    assert(Dedup.hammingPairs64(hot, "media_id", "fp", 3, Some(5)).count() === 0L)
    assert(Dedup.hammingPairs64(hot, "media_id", "fp", 3, None).count() === 15L)
  }

  test("dedupLines at paragraph granularity cuts a multi-line paragraph as one unit") {
    val s = spark
    import s.implicits._
    val boiler = "footer line one\nfooter line two"
    val docs = Seq(
      (1L, s"real content here\n\n$boiler"),
      (2L, s"different body text\n\n$boiler"),
      (3L, "just a unique paragraph"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupLines(docs, "doc_id", "text", sep = "\n\n")
      .orderBy(col("doc_id")).collect()
    assert(got(0).getString(1) === "real content here")
    assert(got(1).getString(1) === "different body text")
    assert(got(0).getLong(3) === 1L,
      "the repeated paragraph must cut as ONE unit, not per line")
    assert(got(2).getString(1) === "just a unique paragraph")
  }

  test("shingles kernel: distinct, short-doc collapse, set semantics") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a b c d", 3), ("x y", 3), ("a b a b a b", 2)).toDF("t", "n")
    val sh3 = df.filter(col("n") === 3)
      .select(TextFunctions.shingles(col("t"), 3).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(sh3(0) === Set("a b c", "b c d"))
    assert(sh3(1) === Set("x y")) // shorter than n => whole text
    val sh2 = df.filter(col("n") === 2)
      .select(TextFunctions.shingles(col("t"), 2).as("sh"))
      .head().getSeq[String](0).toSet
    assert(sh2 === Set("a b", "b a")) // duplicates removed
  }

  test("collapsePairsBy fails loudly when a paired doc is missing from scores") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 0.9), (2L, 0.5)).toDF("doc_id", "score") // 3 missing
    // the raise_error guard must survive optimizer passes (conjunct
    // reordering / null-filter inference turning the left joins inner
    // would silently drop the edge instead) — pin the behavior
    val e = intercept[Throwable](Dedup.collapsePairsBy(pairs, scores).collect())
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(chain(e).exists(_.contains("missing from scores")),
      s"expected the fail-loudly guard, got: ${chain(e).mkString(" | ")}")
    // and the complete-scores case still collapses normally: only 2
    // is outranked (by both neighbors; the best, 1, keeps it)
    val full = Seq((1L, 0.9), (2L, 0.5), (3L, 0.7)).toDF("doc_id", "score")
    val got = Dedup.collapsePairsBy(pairs, full)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toMap // drop -> keep
    assert(got === Map(2L -> 1L))
  }

  test("minhashLshPairs bucket df-cap: hot-template pairs dropped, tail pairs kept") {
    val s = spark
    import s.implicits._
    // one 20-doc boilerplate template (its identical signatures fill
    // every band bucket to df=20 — the |bucket|² hazard the cap is
    // for) plus one genuine 2-doc duplicate in the tail
    val template = (0L until 20L).map(i =>
      (i, "cookie consent banner please accept our tracking policy to continue"))
    val pair = Seq(
      (100L, "a unique technical article about distributed query planning today"),
      (101L, "a unique technical article about distributed query planning today"))
    val df = (template ++ pair).toDF("doc_id", "text")
    val unguarded = Dedup.minhashLshPairs(df, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((100L, 101L)))
    assert(unguarded.size === 20 * 19 / 2 + 1, "template pairs missing unguarded")
    val guarded = Dedup.minhashLshPairs(df, "doc_id", "text", n = 3, tau = 0.5,
        maxBucketDocFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded === Set((100L, 101L)),
      "cap must drop exactly the hot-bucket template pairs")
    // simhashPairs shares the guard: identical sketches fill all 4
    // piece buckets to the template count
    val simGuarded = Dedup.simhashPairs(df, "doc_id", "text", n = 3,
        maxHamming = 3, tau = 0.5, maxBucketDocFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simGuarded === Set((100L, 101L)))
  }

  test("dedupAgainstBloom: exact ref duplicates never survive; most new docs pass") {
    val s = spark
    import s.implicits._
    val ref = (0L until 500L).map(i => (i, s"reference document number $i content"))
      .toDF("doc_id", "text")
    val batch = ((1000L until 1100L).map(i => (i, s"fresh new document $i payload")) ++
      (0L until 50L).map(i => (2000L + i, s"reference document number $i content")))
      .toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstBloom(ref, "text", batch, "text",
        expectedItems = 500L, fpp = 0.01)
      .collect().map(_.getLong(0)).toSet
    // no false negatives: every verbatim ref duplicate is gone
    assert(kept.forall(_ < 2000L), "a reference duplicate slipped through the gate")
    // false positives bounded: at 1% fpp, 100 new docs lose at most a few
    assert(kept.size >= 95, s"gate dropped ${100 - kept.size} of 100 new docs")
    // the prebuilt-filter path is the same gate
    val bloom = Dedup.buildRefBloom(ref, "text", 500L, 0.01)
    val kept2 = Dedup.dedupAgainstBloom(bloom, batch, "text")
      .collect().map(_.getLong(0)).toSet
    assert(kept2 === kept)
  }

  test("jaccardPairsAgainst df-cap: cross-corpus stop-shingle overlap dropped, real dups kept") {
    val s = spark
    import s.implicits._
    // every doc shares the boilerplate prefix (a stop-shingle across
    // BOTH corpora); one batch doc genuinely duplicates a ref doc
    val boiler = "all rights reserved copyright notice"
    val ref = (0L until 12L).map(i => (i, s"$boiler ref article $i body"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"$boiler ref article 7 body"), // near-dup of ref 7
      (101L, s"$boiler something wholly unrelated instead"))
      .toDF("doc_id", "text")
    val unguarded = Dedup.jaccardPairsAgainst(ref, "doc_id", "text",
        batch, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unguarded.contains((7L, 100L)))
    // cap 13 drops only the shingles present in (nearly) every doc of
    // the 14-doc union; the (7, 100) pair still shares its body
    // shingles and survives with the identical jaccard
    val guarded = Dedup.jaccardPairsAgainst(ref, "doc_id", "text",
        batch, "doc_id", "text", n = 3, tau = 0.5,
        maxShingleDocFreq = Some(13))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded.contains((7L, 100L)),
      "body-shingle candidates must survive the stop-shingle cap")
    assert(guarded.subsetOf(unguarded))
  }

  test("containmentPairs: embedded doc found at low Jaccard; asymmetric; exact dups both ways") {
    val s = spark
    import s.implicits._
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (0L, small),                  // fully embedded in 1
      (1L, s"$small $filler"),      // superset of 0
      (2L, "unrelated words about parquet shuffles and joins entirely"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))  // exact dup of 0
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val pairs = got.map(t => (t._1, t._2)).toSet
    // 0's shingles all appear in 1 → (0,1) at containment 1.0; the
    // reverse direction FAILS tau (1 has ~46 extra shingles)
    assert(pairs.contains((0L, 1L)) && !pairs.contains((1L, 0L)))
    assert(got.find(t => (t._1, t._2) == ((0L, 1L))).get._3 == 1.0)
    // exact dup pair qualifies in both directions; doc 2 nowhere
    assert(pairs.contains((0L, 3L)) && pairs.contains((3L, 0L)))
    assert(!got.exists(t => t._1 == 2L || t._2 == 2L))
    // Jaccard at the same tau misses the embedded pair
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((0L, 1L)))
  }

  test("containmentPairs prefix+positional filters are lossless vs brute force on seeded corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260814L)
    val vocab = (1 to 30).map(i => s"w$i")
    val docs = (0L until 60L).map { id =>
      val len = 5 + rnd.nextInt(25)
      val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, base)
    }.toDF("doc_id", "text")
    val fast = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, tau = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: every ordered pair, exact shingle-set containment
    val arrs = docs.select(col("doc_id"),
        graft.functions.SketchFunctions.sorted_shingle_hashes(col("text"), 3).as("shs"))
      .as[(Long, Seq[Long])].collect()
    val brute = (for {
      (a, sa) <- arrs; (b, sb) <- arrs if a != b
      c = sa.toSet.intersect(sb.toSet).size
      cont = BigDecimal(c.toDouble / sa.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cont >= 0.6
    } yield (a, b, cont)).toSet
    assert(fast == brute)
  }
}
