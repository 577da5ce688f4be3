package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Catalyst expressions wrapping the compiled SketchOps kernels —
  * `doGenCode` emits a direct static call, so sketching stays inside
  * whole-stage codegen spans (the HOF-lambda equivalents fall out of
  * codegen and ran 10-30x slower at sf0.1).
  */

/** `minhash_band_keys(shingles)` → array of LSH band-bucket keys. */
case class MinHashBandKeys(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(arr: Any): Any =
    SketchOps.minhashBandKeys(arr.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.SketchOps.minhashBandKeys($a, $numHashes, $bands)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_band_keys"
}

/** `minhash_sig(shingles)` → array<long> MinHash signature. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(arr: Any): Any =
    new GenericArrayData(SketchOps.minhashSig(arr.asInstanceOf[ArrayData], numHashes))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.functions.SketchOps.minhashSig($a, $numHashes))")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** `simhash60(shingles)` → 60-bit SimHash sketch (md5-derived bits,
  * recomputable by any SQL engine with md5 — see SketchOps.md5Top60).
  */
case class SimHash60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullSafeEval(arr: Any): Any =
    SketchOps.simhash60(arr.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SketchOps.simhash60($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash60"
}

/** `shingles(text, n)` → distinct word n-gram array (compiled). */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    SketchOps.shingles(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SketchOps.shingles($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "shingles"
}

/** `sorted_shingle_hashes(text, n)` → ascending distinct xxh64 shingle
  * hashes (compiled) — the set representation for prefix-filtered joins.
  */
case class SortedShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    SketchOps.sortedShingleHashes(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SketchOps.sortedShingleHashes($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "sorted_shingle_hashes"
}

/** `intersect_count_sorted(a, b)` → Long, sorted-merge intersection size. */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    SketchOps.intersectCountSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SketchOps.intersectCountSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "intersect_count_sorted"
}

/** `ngrams_all(text, n)` → ordered non-distinct n-gram array (compiled). */
case class NgramsAll(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    SketchOps.ngramsAll(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SketchOps.ngramsAll($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ngrams_all"
}

/** `ngrams_all_strict(text, n)` → ordered n-gram array, EMPTY for
  * texts shorter than n words (no whole-text collapse).
  */
case class NgramsAllStrict(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    SketchOps.ngramsAllStrict(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.SketchOps.ngramsAllStrict($t, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "ngrams_all_strict"
}

/** `scrub_spans(text, sorted_starts, n)` → struct(clean_text, n_cut):
  * one-pass compiled span scrubbing (see SketchOps.scrubSpans).
  */
case class ScrubSpans(left: Expression, right: Expression, n: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(n >= 1)
  override def inputTypes = Seq(StringType, ArrayType(LongType))
  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_cut", LongType, nullable = false)))
  override def nullSafeEval(text: Any, ps: Any): Any =
    SketchOps.scrubSpans(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      ps.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.SketchOps.scrubSpans($t, $p, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "scrub_spans"
}

/** `scrub_lines(text, sorted_positions, sep)` → struct(clean_text,
  * n_lines, n_removed): one-pass compiled line scrubbing (see
  * SketchOps.scrubLines). `sep` is a LITERAL separator, not a regex.
  */
case class ScrubLines(left: Expression, right: Expression, sep: String)
    extends BinaryExpression with ExpectsInputTypes {
  require(sep.nonEmpty)
  override def inputTypes = Seq(StringType, ArrayType(LongType))
  override def dataType: DataType = StructType(Seq(
    StructField("clean_text", StringType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false)))
  private lazy val sepUtf8 =
    org.apache.spark.unsafe.types.UTF8String.fromString(sep)
  override def nullSafeEval(text: Any, ps: Any): Any =
    SketchOps.scrubLines(text.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      ps.asInstanceOf[ArrayData], sepUtf8)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ship the separator as a referenced object — escaping arbitrary
    // separator text into a Java string literal is the bug farm this
    // avoids
    val ref = ctx.addReferenceObj("sepUtf8", sepUtf8,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, (t, p) => s"graft.functions.SketchOps.scrubLines($t, $p, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "scrub_lines"
}

/** `probe_shared_count(sorted_hashes)` → Int: how many elements (up to
  * `cap`) appear in the broadcast sorted probe array — the compiled,
  * broadcast-backed form of a contamination test (an `Expression`
  * holding the broadcast reference via `addReferenceObj`, so the check
  * stays inside whole-stage codegen where a Scala UDF would not).
  */
case class ProbeSharedCount(
    child: Expression,
    probes: org.apache.spark.broadcast.Broadcast[Array[Long]],
    cap: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(cap >= 1)
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any): Any =
    SketchOps.sharedSortedCount(a.asInstanceOf[ArrayData], probes.value, cap)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the Broadcast HANDLE, not its value: embedding the
    // array would ship it inside the serialized plan with every task
    // instead of over the torrent broadcast channel
    val ref = ctx.addReferenceObj("probeBc", probes,
      "org.apache.spark.broadcast.Broadcast<long[]>")
    defineCodeGen(ctx, ev, a =>
      s"graft.functions.SketchOps.sharedSortedCount($a, (long[]) $ref.value(), $cap)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "probe_shared_count"
}

/** `array_dot(a, b)` → Double, strict left fold (oracle-deterministic).
  * NULL on unequal lengths or a null element, like the fold it replaces.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (SketchOps.zippable(x, y)) SketchOps.dot(x, y) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.SketchOps.zippable($a, $b);\n" +
        s"if (!${ev.isNull}) ${ev.value} = graft.functions.SketchOps.dot($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "array_dot"
}

/** `array_l2sq(a, b)` → Double, strict left fold of squared element
  * differences (oracle-deterministic — see SketchOps.l2sq). The
  * compiled replacement for the PQ plane's `aggregate(zip_with(...))`
  * block distance, which as a higher-order lambda ran interpreted
  * (CodegenFallback) in the encode hot path. NULL on unequal lengths or
  * a null element, like the fold it replaces.
  */
case class ArrayL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (SketchOps.zippable(x, y)) SketchOps.l2sq(x, y) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.SketchOps.zippable($a, $b);\n" +
        s"if (!${ev.isNull}) ${ev.value} = graft.functions.SketchOps.l2sq($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "array_l2sq"
}

/** `array_dot_q9(a, b)` → Long: Σ floor(a_i·b_i·1e9 + 0.5), the exact
  * fixed-point dot the logistic-regression plane ranks and trains on
  * (see SketchOps.dotQ9 for the bit-identity argument). NULL on unequal
  * lengths or a null element, like the fold it replaces.
  */
case class ArrayDotQ9(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (SketchOps.zippable(x, y)) SketchOps.dotQ9(x, y) else null
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.SketchOps.zippable($a, $b);\n" +
        s"if (!${ev.isNull}) ${ev.value} = graft.functions.SketchOps.dotQ9($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "array_dot_q9"
}

/** Column-API entry points for the sketch kernels. */
object SketchFunctions {
  import GraftBridge.{column => toCol, expression => toExpr}

  def shingles(text: Column, n: Int): Column =
    toCol(Shingles(toExpr(text), n))
  def ngrams_all(text: Column, n: Int): Column =
    toCol(NgramsAll(toExpr(text), n))
  def ngrams_all_strict(text: Column, n: Int): Column =
    toCol(NgramsAllStrict(toExpr(text), n))
  def sorted_shingle_hashes(text: Column, n: Int): Column =
    toCol(SortedShingleHashes(toExpr(text), n))
  def intersect_count_sorted(a: Column, b: Column): Column =
    toCol(IntersectCountSorted(toExpr(a), toExpr(b)))
  def minhash_band_keys(shingles: Column, numHashes: Int, bands: Int): Column =
    toCol(MinHashBandKeys(toExpr(shingles), numHashes, bands))
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    toCol(MinHashSig(toExpr(shingles), numHashes))
  def simhash60(shingles: Column): Column =
    toCol(SimHash60(toExpr(shingles)))
  def array_dot(a: Column, b: Column): Column =
    toCol(ArrayDot(toExpr(a), toExpr(b)))
  def array_l2sq(a: Column, b: Column): Column =
    toCol(ArrayL2Sq(toExpr(a), toExpr(b)))
  def array_dot_q9(a: Column, b: Column): Column =
    toCol(ArrayDotQ9(toExpr(a), toExpr(b)))
  def scrub_spans(text: Column, sortedStarts: Column, n: Int): Column =
    toCol(ScrubSpans(toExpr(text), toExpr(sortedStarts), n))
  def scrub_lines(text: Column, sortedPositions: Column, sep: String): Column =
    toCol(ScrubLines(toExpr(text), toExpr(sortedPositions), sep))
  def probe_shared_count(sortedHashes: Column,
      probes: org.apache.spark.broadcast.Broadcast[Array[Long]], cap: Int): Column =
    toCol(ProbeSharedCount(toExpr(sortedHashes), probes, cap))
}
