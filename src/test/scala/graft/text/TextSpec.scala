package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextSpec extends SparkSpec {

  private def one(text: String) = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text")
  }

  test("token counts: whitespace vs BPE-ish regex") {
    val got = one("hello world42 x")
      .select(
        TextFunctions.tokenCountWs(col("text")).as("ws"),
        TextFunctions.tokenCountBpe(col("text")).as("bpe"))
      .head()
    assert(got.getInt(0) === 3)
    assert(got.getInt(1) === 4) // hello | world | 42 | x
  }

  test("quality score is in [0,1] and rewards diversity") {
    val lo = one("spam spam spam spam spam spam spam spam")
    val hi = one("the quick brown fox jumps over a lazy dog in the misty morning light today")
    val ql = lo.select(TextFunctions.qualityScore(col("text"))).head().getDouble(0)
    val qh = hi.select(TextFunctions.qualityScore(col("text"))).head().getDouble(0)
    assert(ql >= 0.0 && ql <= 1.0 && qh >= 0.0 && qh <= 1.0)
    assert(qh > ql)
  }

  test("langId picks the language with most marker hits, und on none") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("the cat sat on the mat", "en"),
      ("der hund und die katze ist da", "de"),
      ("le chat et la souris est la", "fr"),
      ("xyzzy plugh quux", "und"))
      .toDF("text", "want")
    df.select(TextFunctions.langId(col("text")).as("got"), col("want"))
      .collect().foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("fingerprints: md5 exactness, winnow stable under far edits") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    // same minimizing window iff the min-md5 3-gram survives the edit
    val fpA = one(a).select(TextFunctions.winnowFingerprint(col("text"), 3)).head().getString(0)
    val fpA2 = one(a).select(TextFunctions.winnowFingerprint(col("text"), 3)).head().getString(0)
    assert(fpA === fpA2) // deterministic
    val md = one(a).select(TextFunctions.fingerprintMd5(col("text"))).head().getString(0)
    assert(md.length === 32)
    // winnow fp is the md5 of SOME 3-gram window of the doc
    val windows = a.split(" ").sliding(3).map(_.mkString(" ")).toSeq
    val md5s = windows.map { w =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(md5s.contains(fpA) && fpA === md5s.min)
  }

  test("vocabulary: hand-computed doc/term frequencies") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date date date")).toDF("doc_id", "text")
    val vocab = Vocab.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(vocab === Map(
      "apple" -> (2L, 3L), "banana" -> (2L, 2L),
      "cherry" -> (1L, 1L), "date" -> (1L, 3L)))
  }

  test("repetitionStats: hand-computed bigram fractions; short-doc collapse") {
    val s = spark
    import s.implicits._
    // doc 1: "a b a b a" -> bigrams [a b, b a, a b, b a]: 4 grams,
    //   top "a b" = 2/4, dup mass = 4/4
    // doc 2: all-distinct bigrams -> top 1/3, dup 0
    // doc 3: single word -> collapses to 1 whole-text gram
    //   (top 1/1, dup 0 — the one gram occurs only once)
    val docs = Seq(
      (1L, "a b a b a"),
      (2L, "w x y z"),
      (3L, "solo")).toDF("doc_id", "text")
    val got = Repetition.repetitionStats(docs, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq ===
      Seq((1L, 4L, 0.5, 1.0), (2L, 3L, 0.333333, 0.0), (3L, 1L, 1.0, 0.0)))
  }

  test("Pii.redact replaces every class and matchCount sees each match") {
    val s = spark
    import s.implicits._
    val df = Seq(
      "mail a.b+c@ex.co and b@c.io call 415-555-0042 from 10.0.7.7 " +
        "wallet 0x" + "ab" * 20 + " done",
      "nothing sensitive here 1234-56").toDF("t")
    val got = df.select(
        Pii.redact(col("t")).as("r"),
        Pii.matchCount(col("t"), 0).as("e"), Pii.matchCount(col("t"), 1).as("p"),
        Pii.matchCount(col("t"), 2).as("i"), Pii.matchCount(col("t"), 3).as("a"))
      .collect()
    assert(got(0).getString(0) ===
      "mail <EMAIL> and <EMAIL> call <PHONE> from <IP> wallet <ADDR> done")
    assert((got(0).getLong(1), got(0).getLong(2), got(0).getLong(3), got(0).getLong(4))
      === ((2L, 1L, 1L, 1L)))
    assert(got(1).getString(0) === "nothing sensitive here 1234-56")
    assert((got(1).getLong(1), got(1).getLong(2), got(1).getLong(3), got(1).getLong(4))
      === ((0L, 0L, 0L, 0L)))
    // real PII is not lowercase-normalized
    val upper = df.sparkSession.range(1)
      .select(Pii.redact(lit("Contact JOHN.DOE@Example.COM today")).as("r"))
      .head().getString(0)
    assert(upper === "Contact <EMAIL> today")
  }

  test("containsBlocklisted: whole-token match only, any single hit flags") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a clean document here"),
      (2L, "contains the banned word"),
      (3L, "bannedword as a substring only")).toDF("doc_id", "text")
    val flagged = docs
      .filter(TextFunctions.containsBlocklisted(col("text"), Seq("banned", "other")))
      .collect().map(_.getLong(0))
    // doc 3's 'bannedword' is NOT a token match — C4 blocks on words
    assert(flagged.toSeq === Seq(2L))
  }

  test("bpePairCounts: word-frequency-weighted adjacent char pairs, 1-char words skipped") {
    val s = spark
    import s.implicits._
    // 'ab ab abc a': vocab = {ab:2, abc:1, a:1};
    // pairs: 'ab' from ab(x2) and abc(x1) = 3, 'bc' from abc = 1,
    // 'a' contributes nothing (single char)
    val docs = Seq((1L, "ab ab abc a")).toDF("doc_id", "text")
    val got = Vocab.bpePairCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ab" -> 3L, "bc" -> 1L))
  }

  test("gopherStats: hand-computed metrics, each rule able to fail independently") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      // 54 words, all alphabetic, stop hits plenty -> pass
      (1L, ("the quick brown fox jumps over the lazy dog and " * 5).trim + " tail one two more"),
      // word-count fail: 4 words
      (2L, "the tiny of doc"),
      // symbol fail: half the words carry no alphanumerics
      (3L, ("the of " + "### !!! ,,, ### !!! ,,, " * 4 + "the of and to in a the of and to in a the of and to in a the of and to in a the of ").trim),
      // stopword fail: 60 plain words, zero markers
      (4L, ("lorem ipsum dolor sit amet consectetur adipiscing elit sed eiusmod " * 6).trim))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.text.TextFunctions.gopherStats(col("text")).as("g"))
      .select(col("doc_id"), col("g.word_count"), col("g.stop_hits"),
        col("g.symbol_ratio"), col("g.pass"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 === 54L && got(1L)._4 === true)
    assert(got(2L)._1 === 4L && got(2L)._4 === false)
    assert(got(3L)._3 > 0.1 && got(3L)._4 === false)
    assert(got(4L)._2 === 0L && got(4L)._4 === false)
  }

  test("bpeEncode: greedy merges by rank, document order preserved, vocab-memoized") {
    val s = spark
    import s.implicits._
    // merges ranked: lo (0), then low (1)
    val merges = Seq(("l", "o"), ("lo", "w"))
    assert(Vocab.bpeEncodeWord("lower", merges.zipWithIndex
      .map { case ((a, b), i) => (a + b) -> i }.toMap) === Seq("low", "e", "r"))
    val docs = Seq(
      (1L, "lower slow xyz"),
      (2L, "lo lo"))
      .toDF("doc_id", "text")
    val got = Vocab.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) === Seq("low", "e", "r", "s", "low", "x", "y", "z"))
    assert(got(2L) === Seq("lo", "lo")) // repeated word: memoized pieces, kept twice
  }

  test("canonicalizeUrl + urlHost normalize the messy-URL zoo") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // case + www + fragment
      ("https://WWW.Example.COM/Path/One#frag", "https://example.com/Path/One", "example.com"),
      // default ports strip; non-default ports stay
      ("http://example.com:80/a", "http://example.com/a", "example.com"),
      ("https://example.com:443/a", "https://example.com/a", "example.com"),
      ("http://example.com:8080/a", "http://example.com:8080/a", "example.com"),
      // tracking params go, real params survive in order
      ("https://a.io/p?utm_source=x&id=7&utm_medium=y", "https://a.io/p?id=7", "a.io"),
      ("https://a.io/p?id=7&fbclid=zz", "https://a.io/p?id=7", "a.io"),
      ("https://a.io/p?utm_source=x", "https://a.io/p", "a.io"),
      // trailing slash; path case preserved
      ("https://b.net/Dir/", "https://b.net/Dir", "b.net"),
      // userinfo skipped by the host extractor; scheme-less input
      ("https://user:pw@c.org/x", "https://user:pw@c.org/x", "c.org"),
      ("www.d.com/path", "www.d.com/path", "d.com"))
    val rows = cases.map(_._1).toDF("url")
      .select(col("url"),
        graft.text.TextFunctions.canonicalizeUrl(col("url")).as("canon"),
        graft.text.TextFunctions.urlHost(col("url")).as("host"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    cases.foreach { case (raw, canon, host) =>
      assert(rows(raw)._1 === canon, s"canon of $raw")
      assert(rows(raw)._2 === host, s"host of $raw")
    }
  }

  test("blocklistGateLarge == literal-array gate; lexicon rides a broadcast semi-join") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "contains the banned term"),
      (3L, "another clean document")).toDF("doc_id", "text")
    val lexicon = Seq("banned", "unused").toDF("word")
    val got = TextFunctions.blocklistGateLarge(docs, "doc_id", "text", lexicon)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 3L))
    // equivalence with the literal-array form on the same lexicon
    val literal = docs.filter(
      !TextFunctions.containsBlocklisted(col("text"), Seq("banned", "unused")))
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === literal.toSeq)
    val plan = TextFunctions.blocklistGateLarge(docs, "doc_id", "text", lexicon)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "lexicon must broadcast, never shuffle the corpus for the match")
    // NULL text drops, exactly like filter(!containsBlocklisted) would
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val gated = TextFunctions.blocklistGateLarge(withNull, "doc_id", "text", lexicon)
      .collect().map(_.getLong(0)).sorted
    assert(gated.toSeq === Seq(1L, 3L), "an uninspectable doc must not pass the gate")
  }

  test("trainBpeMerges: classic merge order on a hand-checkable corpus; encode round-trip") {
    val s = spark
    import s.implicits._
    // "ab" dominates (freq-weighted): 5+3 = 8; then "abc" via (ab, c).
    val docs = Seq(
      (1L, "ab ab ab ab ab"), (2L, "abc abc abc")).toDF("doc_id", "text")
    val merges = Vocab.trainBpeMerges(docs, "text", numMerges = 3)
    assert(merges.take(2) === Seq(("a", "b"), ("ab", "c")),
      "first merge joins the heaviest pair, second builds on the merged piece")
    // merges stop when no pairs remain (every word one piece)
    assert(merges.size <= 3)
    // the learned list drives the encoder to whole-word pieces
    val enc = Vocab.bpeEncode(docs, "doc_id", "text", merges)
      .filter(col("doc_id") === 2L).head().getSeq[String](1)
    assert(enc === Seq("abc", "abc", "abc"))
  }

  test("trainBpeMerges ties break deterministically and maxWords caps the table") {
    val s = spark
    import s.implicits._
    // "xy" and "yz" both appear twice (via xyz x2): tie breaks to the
    // lexicographically smaller left piece.
    val docs = Seq((1L, "xyz xyz")).toDF("doc_id", "text")
    val merges = Vocab.trainBpeMerges(docs, "text", numMerges = 1)
    assert(merges === Seq(("x", "y")))
    // maxWords = 1 keeps only the most frequent word
    val docs2 = Seq((1L, "aa aa bb")).toDF("doc_id", "text")
    assert(Vocab.trainBpeMerges(docs2, "text", numMerges = 1, maxWords = 1)
      === Seq(("a", "a")))
  }

  test("cooccurrencePmi: hand-computed counts and score; within-doc repeats count once") {
    val s = spark
    import s.implicits._
    // (x,y) co-occur in docs 1,2; x alone in 3; z only with x in 1.
    // doc 1 repeats x — document-level counting must ignore that.
    val docs = Seq(
      (1L, "x y z x"), (2L, "x y"), (3L, "x w")).toDF("doc_id", "text")
    val got = Vocab.cooccurrencePmi(docs, "doc_id", "text", minPairDocs = 2L)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === Set(("x", "y")), "only (x,y) reaches 2 docs")
    val (cab, fx) = got(("x", "y"))
    assert(cab === 2L)
    // pmi = ln(2*3 / (3*2)) = 0
    assert(fx === 0L)
  }

  test("compressionRatio: repetitive text compresses far below prose; deterministic; codegen path") {
    val s = spark
    import s.implicits._
    import graft.functions.TextNormFunctions.compressionRatio
    val prose = "The five boxing wizards jump quickly over a lazy dog while " +
      "vexed nymphs blow quartz jugs under a dozing sphinx tonight."
    val spam = "buy now " * 100
    val rows = Seq((1, prose), (2, spam), (3, "")).toDF("id", "t")
      .select(col("id"), compressionRatio(col("t")).as("r"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(rows(1) > 0.5 && rows(1) < 1.2, s"prose ratio ${rows(1)}")
    assert(rows(2) < 0.1, s"template spam must compress away: ${rows(2)}")
    assert(rows(3) === 0.0, "empty text is 0 by definition")
    assert(rows(2) < rows(1), "the signal must separate spam from prose")
    // pure function: identical across evaluations/partitionings
    val again = Seq((2, spam)).toDF("id", "t").repartition(3)
      .select(compressionRatio(col("t"))).head().getDouble(0)
    assert(again === rows(2))
    // SQL registration
    graft.GraftExtensions.registerAll(s)
    Seq(Tuple1(spam)).toDF("t").createOrReplaceTempView("crv")
    assert(s.sql("SELECT compression_ratio(t) FROM crv").head().getDouble(0) === rows(2))
  }

  test("extractHtmlText strips blocks/tags, decodes entities, collapses whitespace") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      // script content (with < and > inside) goes whole
      ("<p>keep</p><script>if (a < b && c > d) { x(); }</script><p>tail</p>",
        "keep tail"),
      // style + comment + nested tags + entities
      ("<style>.x{a:b}</style><!-- secret --><div><b>Bold&nbsp;&amp;&nbsp;Beautiful</b></div>",
        "Bold & Beautiful"),
      // multi-line doc: newlines/tabs collapse to single spaces
      ("<p>line one</p>\n\t<p>line&#39;s two</p>", "line one line's two"),
      // quote entities, lt/gt as VISIBLE text
      ("&quot;q&quot; &lt;not-a-tag&gt;", "\"q\" <not-a-tag>"),
      // plain text passes through trimmed
      ("  already clean  ", "already clean"))
    val got = cases.map(_._1).zipWithIndex.map { case (h, i) => (i, h) }
      .toDF("id", "h")
      .select(col("id"), TextFunctions.extractHtmlText(col("h")).as("t"))
      .collect().sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    assert(got === cases.map(_._2))
  }
}
