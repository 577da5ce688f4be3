package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the sketching/similarity hot paths. The
  * equivalent `transform`/`aggregate` higher-order-function pipelines
  * are interpreted per-element (lambda functions don't participate in
  * whole-stage codegen), which made MinHash/SimHash/cosine the three
  * slowest operators at sf0.1 — these static methods are called
  * directly from generated code instead.
  */
object SketchOps {

  @inline private def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** MinHash signature: sig(j) = min over elements of xxh64(elem, seed=j). */
  def minhashSig(arr: ArrayData, numHashes: Int): Array[Long] = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      var j = 0
      while (j < numHashes) {
        val h = hash(s, j.toLong)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys "b:sig_{rb}..sig_{rb+r-1}" for b in [0, bands). */
  def minhashBandKeys(arr: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val rowsPerBand = numHashes / bands
    val sig = minhashSig(arr, numHashes)
    val keys = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(24)
      sb.append(b).append(':')
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(sig(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 60 bits of md5(s): big-endian long of the first 8 digest
    * bytes, shifted right 4 — identical to parsing the first 15 hex
    * chars of the md5 hex string, which is how the DuckDB oracle
    * recomputes it (`('0x' || substr(md5(s), 1, 15))::BIGINT`). 60
    * bits (not 64) so the value fits a SIGNED long in both engines.
    */
  def md5Top60(s: UTF8String): Long = {
    val d = md5Digest.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) {
      h = (h << 8) | (bytes(i) & 0xffL)
      i += 1
    }
    h >>> 4
  }

  /** 60-bit SimHash: bit k set iff the ±1 vote sum over element-hash
    * bit k is positive. Hash bits come from [[md5Top60]] — a public,
    * engine-agnostic derivation, so an independent SQL engine can
    * recompute the identical sketch for verification.
    */
  def simhash60(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = md5Top60(arr.getUTF8String(i))
      var k = 0
      while (k < 60) {
        if (((h >>> k) & 1L) == 1L) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 60) {
      if (votes(k) > 0) out |= (1L << k)
      k += 1
    }
    out
  }

  /** Distinct word n-gram shingles of a single-space-separated text;
    * texts shorter than n words collapse to [text] (same semantics as
    * the Column-level TextFunctions.shingles — only the SET matters to
    * every consumer, so iteration order is free). Compiled because the
    * transform/concat_ws equivalent was the dominant cost of every
    * sketch pipeline at sf0.1 (interpreted lambda per shingle, times
    * projection-collapse re-inlining).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.split(UTF8String.fromString(" "), -1)
    if (toks.length < n) return new GenericArrayData(Array[Any](text))
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i <= toks.length - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Distinct shingle xxh64 hashes, sorted ascending — the canonical
    * per-document set representation the prefix-filtered Jaccard join
    * works on (one deterministic total order shared by every document
    * is what makes prefix filtering sound). Same [text]-collapse rule
    * for short docs as `shingles`. Seed 42 = Spark's `xxhash64` default
    * (not relied upon — hashes never leave the engine).
    */
  def sortedShingleHashes(text: UTF8String, n: Int): ArrayData = {
    val sh = shingles(text, n)
    val m = sh.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = hash(sh.getUTF8String(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** Intersection size of two ascending-sorted long arrays (merge
    * walk) — the exact-verification kernel for candidate pairs.
    */
  def intersectCountSorted(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** All word n-gram occurrences IN ORDER (non-distinct — the
    * multiset the repetition signals need); texts shorter than n words
    * collapse to [text], mirroring `shingles`.
    */
  /** [[ngramsAll]] without the short-doc whole-text collapse: texts
    * shorter than n words yield an EMPTY array. The span pipeline's
    * semantics — which otherwise needs a second tokenize just to guard
    * the collapse away.
    */
  def ngramsAllStrict(text: UTF8String, n: Int): ArrayData = {
    val toks = text.split(UTF8String.fromString(" "), -1)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    ngramsOf(toks, n)
  }

  def ngramsAll(text: UTF8String, n: Int): ArrayData = {
    val toks = text.split(UTF8String.fromString(" "), -1)
    if (toks.length < n) return new GenericArrayData(Array[Any](text))
    ngramsOf(toks, n)
  }

  private def ngramsOf(toks: Array[UTF8String], n: Int): ArrayData = {
    val space = UTF8String.fromString(" ")
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var j = 0
      while (j < n) {
        parts(2 * j) = toks(i + j)
        if (j < n - 1) parts(2 * j + 1) = space
        j += 1
      }
      out(i) = UTF8String.concat(parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements of the SORTED hash array `a` present in the
    * SORTED probe array, stopping at `cap` (the decision threshold —
    * no point scanning further). Linear merge, zero allocation.
    */
  def sharedSortedCount(a: ArrayData, probes: Array[Long], cap: Int): Int = {
    var i = 0
    var j = 0
    var c = 0
    val n = a.numElements()
    while (i < n && j < probes.length && c < cap) {
      val x = a.getLong(i)
      val y = probes(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Span scrubbing in one pass: given the single-space-separated
    * text and the SORTED 1-based start positions of duplicated n-word
    * spans, drop every word covered by some span and return
    * (clean_text, words_cut). O(len + |ps|) via a running
    * furthest-covered-index merge — the per-token
    * `exists(ps, ...)` lambda chain is O(len·|ps|) AND interpreted,
    * quadratic for a fully-duplicated document.
    */
  def scrubSpans(text: UTF8String, ps: ArrayData, n: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val toks = text.split(UTF8String.fromString(" "), -1)
    val m = ps.numElements()
    val space = UTF8String.fromString(" ")
    val kept = new java.util.ArrayList[UTF8String](toks.length)
    var cut = 0L
    var j = 0
    var coveredTo = 0L // furthest 1-based index covered so far
    var i = 1
    while (i <= toks.length) {
      while (j < m && ps.getLong(j) <= i) {
        val end = ps.getLong(j) + n - 1
        if (end > coveredTo) coveredTo = end
        j += 1
      }
      if (i <= coveredTo) cut += 1L
      else {
        if (!kept.isEmpty) kept.add(space)
        kept.add(toks(i - 1))
      }
      i += 1
    }
    val clean =
      if (kept.isEmpty) UTF8String.EMPTY_UTF8
      else UTF8String.concat(kept.toArray(new Array[UTF8String](kept.size)): _*)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](clean, cut))
  }

  /** One-pass line scrubbing for Dedup.dedupLines: split `text` on the
    * LITERAL separator (indexOf walk — no regex compile per row), drop
    * the 1-based positions listed in sorted `ps`, rejoin. Returns
    * (clean_text, n_lines, n_removed). O(len + |ps|) — the
    * per-line `array_contains(ps, i)` lambda chain is O(lines·|ps|)
    * AND interpreted, quadratic for an all-boilerplate document.
    */
  def scrubLines(text: UTF8String, ps: ArrayData, sep: UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val sp = sep.toString
    val out = new java.lang.StringBuilder(s.length)
    val m = ps.numElements()
    // the forward-only pointer silently skips positions the scan has
    // already passed — fail as loudly as the literal-separator
    // contract does instead of producing quietly-wrong output
    if (m > 0 && ps.getLong(0) < 1L)
      throw new IllegalArgumentException(
        "scrub_lines: positions are 1-based (got " + ps.getLong(0) + ")")
    var v = 1
    while (v < m) {
      if (ps.getLong(v) < ps.getLong(v - 1))
        throw new IllegalArgumentException(
          "scrub_lines: positions must be sorted ascending (use sort_array)")
      v += 1
    }
    var j = 0
    var nLines = 0L
    var removed = 0L
    var keptAny = false
    var from = 0
    var done = false
    while (!done) {
      val idx = s.indexOf(sp, from)
      val end = if (idx >= 0) idx else s.length
      nLines += 1L
      while (j < m && ps.getLong(j) < nLines) j += 1
      if (j < m && ps.getLong(j) == nLines) removed += 1L
      else {
        if (keptAny) out.append(sp)
        out.append(s, from, end)
        keptAny = true
      }
      if (idx >= 0) from = idx + sp.length else done = true
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(out.toString), nLines, removed))
  }

  /** Dot product of two double arrays, strict left-to-right fold —
    * bit-identical to `aggregate(zip_with(a,b,_*_), 0.0, _+_)` and to
    * DuckDB's `list_sum(list_transform(...))`, which the oracle
    * comparisons rely on. Requires [[zippable]] inputs.
    */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Equal lengths and no null element: the inputs on which the
    * `aggregate(zip_with(...))` folds [[dot]], [[dotQ9]] and [[l2sq]]
    * replace are not NULL.
    */
  def zippable(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Quantized dot product: Σ floor(a_i·b_i·1e9 + 0.5) as an exact
    * int64 — bit-identical to the HOF chain
    * `aggregate(zip_with(a,b,(x,y)=>floor(x*y*1e9+0.5)), 0L, _+_)`
    * (Spark's floor on a double is math.floor(...).toLong; long
    * addition is exact and order-free), which as an interpreted lambda
    * (CodegenFallback) was the per-row hot loop of every logistic-
    * regression gradient step and score. Requires [[zippable]] inputs.
    */
  def dotQ9(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(a.getDouble(i) * b.getDouble(i) * 1e9 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** Squared L2 distance of two double arrays, strict left-to-right
    * fold — bit-identical to
    * `aggregate(zip_with(a,b,(x,y)=>(x-y)*(x-y)), 0.0, _+_)` (each term
    * is a square, so the fold's `0.0 + t1` start adds nothing IEEE-
    * visible) and to DuckDB's `list_sum(list_transform(...))` replay
    * the PQ oracles rely on. Requires [[zippable]] inputs.
    */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
