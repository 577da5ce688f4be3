package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.curation.Curation
import graft.functions._
import graft.text.TextFunctions

/** SQL surface for the engine's custom kernels — the reference's users
  * live in SQL (ClickHouse), so every graft-specific function is also
  * reachable from `spark.sql(...)`:
  *
  *  - config-based: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (or `SparkSession.builder.withExtensions(new GraftExtensions)`),
  *    the standard Spark library-extension mechanism;
  *  - or imperative: `GraftExtensions.registerAll(spark)` on a live
  *    session.
  *
  * Codegen'd Catalyst expressions register directly; the pure-Column
  * compositions (text analysis, sampling keys) register through the
  * Column↔Expression bridge, so both kinds inline into whole-stage
  * codegen exactly as their Scala-API counterparts do.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    // planner capabilities, each firing whenever its scope guards
    // hold: range-join rewrite, as-of rewrite, zone-map scan pruning
    ext.injectOptimizerRule(_ => graft.plans.IntervalJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.AsofJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.ZoneMapPruneRule)
  }
}

object GraftExtensions {
  import GraftBridge.{column => toCol, eagerExpression => toExpr}

  type Reg = (FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)

  private def arity(fn: String, args: Seq[Expression], n: Int): Seq[Expression] = {
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")
    args
  }

  /** Fold a literal integer argument (band/shingle widths must be plan
    * constants — they select compiled kernels, not row values).
    */
  private def intArg(fn: String, e: Expression): Int = {
    require(e.foldable, s"$fn: expected a literal integer argument")
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(
        s"$fn: expected a literal integer argument, got $other")
    }
  }

  /** Fold a literal string argument (separators select compiled
    * kernels, not row values).
    */
  private def strArg(fn: String, e: Expression): String = {
    require(e.foldable, s"$fn: expected a literal string argument")
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: expected a literal string argument, got $other")
    }
  }

  private def reg(name: String)(builder: Seq[Expression] => Expression): Reg =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getCanonicalName, null, name),
      builder)

  val registrations: Seq[Reg] = Seq(
    // codegen'd Catalyst expressions (functions/expressions.scala)
    reg("uint256_lo128") { a => arity("uint256_lo128", a, 2); Uint256Lo128(a(0), a(1)) },
    reg("uint256_hex") { a => arity("uint256_hex", a, 2); Uint256FromHex(a(0), a(1)) },
    reg("hex_be_to_long") { a => arity("hex_be_to_long", a, 1); HexBeToLong(a(0)) },
    reg("hex_to_double") { a => arity("hex_to_double", a, 1); HexToDouble(a(0)) },
    reg("z_interleave") { a => arity("z_interleave", a, 2); ZInterleave(a(0), a(1)) },
    reg("z_interleave3") { a =>
      arity("z_interleave3", a, 3); ZInterleave3(a(0), a(1), a(2)) },
    // compiled sketch kernels (functions/sketchExpressions.scala)
    reg("shingles") { a => arity("shingles", a, 2); Shingles(a(0), intArg("shingles", a(1))) },
    reg("ngrams_all") { a => arity("ngrams_all", a, 2); NgramsAll(a(0), intArg("ngrams_all", a(1))) },
    reg("ngrams_all_strict") { a =>
      arity("ngrams_all_strict", a, 2); NgramsAllStrict(a(0), intArg("ngrams_all_strict", a(1)))
    },
    reg("minhash_sig") { a => arity("minhash_sig", a, 2); MinHashSig(a(0), intArg("minhash_sig", a(1))) },
    reg("minhash_band_keys") { a =>
      arity("minhash_band_keys", a, 3)
      MinHashBandKeys(a(0), intArg("minhash_band_keys", a(1)), intArg("minhash_band_keys", a(2)))
    },
    reg("simhash60") { a => arity("simhash60", a, 1); SimHash60(a(0)) },
    reg("scrub_spans") { a =>
      arity("scrub_spans", a, 3); ScrubSpans(a(0), a(1), intArg("scrub_spans", a(2)))
    },
    reg("scrub_lines") { a =>
      arity("scrub_lines", a, 3); ScrubLines(a(0), a(1), strArg("scrub_lines", a(2)))
    },
    reg("array_dot") { a => arity("array_dot", a, 2); ArrayDot(a(0), a(1)) },
    // Column compositions exposed to SQL through the bridge
    reg("token_count_ws") { a =>
      toExpr(TextFunctions.tokenCountWs(toCol(arity("token_count_ws", a, 1).head)))
    },
    reg("token_count_bpe") { a =>
      toExpr(TextFunctions.tokenCountBpe(toCol(arity("token_count_bpe", a, 1).head)))
    },
    reg("quality_score") { a =>
      toExpr(TextFunctions.qualityScore(toCol(arity("quality_score", a, 1).head)))
    },
    reg("lang_id") { a =>
      toExpr(TextFunctions.langId(toCol(arity("lang_id", a, 1).head)))
    },
    reg("winnow_fingerprint") { a =>
      arity("winnow_fingerprint", a, 2)
      toExpr(TextFunctions.winnowFingerprint(toCol(a(0)), intArg("winnow_fingerprint", a(1))))
    },
    reg("hash_sample_key") { a =>
      toExpr(Curation.hashSampleKey(toCol(arity("hash_sample_key", a, 1).head)))
    },
    reg("pii_redact") { a =>
      toExpr(graft.text.Pii.redact(toCol(arity("pii_redact", a, 1).head)))
    },
    reg("gopher_stats") { a =>
      toExpr(TextFunctions.gopherStats(toCol(arity("gopher_stats", a, 1).head)))
    },
    reg("canonicalize_url") { a =>
      toExpr(TextFunctions.canonicalizeUrl(toCol(arity("canonicalize_url", a, 1).head)))
    },
    reg("url_host") { a =>
      toExpr(TextFunctions.urlHost(toCol(arity("url_host", a, 1).head)))
    },
    // unicode normalization kernels (functions/textExpressions.scala)
    reg("nfc_normalize") { a => arity("nfc_normalize", a, 1); NfcNormalize(a(0)) },
    reg("strip_accents") { a => arity("strip_accents", a, 1); StripAccentsExpr(a(0)) },
    reg("compression_ratio") { a =>
      arity("compression_ratio", a, 1); CompressionRatio(a(0))
    },
    // native aggregate (functions/aggregateExpressions.scala); the
    // child casts to string like the Scala wrapper — without it a
    // bigint column passes analysis and CCEs mid-execution
    reg("misra_gries") { a =>
      arity("misra_gries", a, 2)
      MisraGriesAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.StringType),
        intArg("misra_gries", a(1))).toAggregateExpression()
    },
    // bitmap cohort family: mergeable id-set aggregate + set algebra
    reg("bitmap_ids") { a =>
      arity("bitmap_ids", a, 1)
      BitmapIdsAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.LongType)).toAggregateExpression()
    },
    reg("bitmap_count") { a => arity("bitmap_count", a, 1); BitmapCount(a(0)) },
    reg("bitmap_and_count") { a =>
      arity("bitmap_and_count", a, 2); BitmapAndCount(a(0), a(1))
    },
    reg("bitmap_or_count") { a =>
      arity("bitmap_or_count", a, 2); BitmapOrCount(a(0), a(1))
    },
    reg("bitmap_andnot_count") { a =>
      arity("bitmap_andnot_count", a, 2); BitmapAndNotCount(a(0), a(1))
    },
    // topk_by(key, ord, k): mergeable bounded-heap per-group top-k
    reg("topk_by") { a =>
      arity("topk_by", a, 3)
      TopKByAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(1), org.apache.spark.sql.types.DoubleType),
        intArg("topk_by", a(2))).toAggregateExpression()
    },
    // kmv_minima(x, k): mergeable KMV distinct/overlap sketch
    reg("kmv_minima") { a =>
      arity("kmv_minima", a, 2)
      KmvSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.StringType),
        intArg("kmv_minima", a(1))).toAggregateExpression()
    },
    // bloom_agg(x, expectedItems, fpp): per-group Bloom membership
    // sketch (serialized binary) — the per-file bloom-manifest kernel
    reg("bloom_agg") { a =>
      arity("bloom_agg", a, 3)
      val fpp = {
        require(a(2).foldable, "bloom_agg: fpp must be a literal")
        a(2).eval(null) match {
          case d: Double => d
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"bloom_agg: fpp must be a double literal, got $other")
        }
      }
      BloomFilterAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.StringType),
        intArg("bloom_agg", a(1)).toLong, fpp).toAggregateExpression()
    },
    // quantile_sketch(x, capacity, p1[, p2, ...]): mergeable quantile
    // summary, exact under `capacity` rows per group
    reg("quantile_sketch") { a =>
      require(a.length >= 3, s"quantile_sketch expects >= 3 arguments, got ${a.length}")
      val ps = a.drop(2).map { e =>
        require(e.foldable, "quantile_sketch: probabilities must be literals")
        e.eval(null) match {
          case d: Double => d
          case f: java.math.BigDecimal => f.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case i: Int => i.toDouble
          case other => throw new IllegalArgumentException(
            s"quantile_sketch: expected a numeric literal probability, got $other")
        }
      }
      QuantileSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.DoubleType),
        intArg("quantile_sketch", a(1)), ps).toAggregateExpression()
    },
    // cms_sketch(x, depth, width): mergeable count-min frequency grid
    reg("cms_sketch") { a =>
      arity("cms_sketch", a, 3)
      CmsSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Cast(
          a(0), org.apache.spark.sql.types.StringType),
        intArg("cms_sketch", a(1)),
        intArg("cms_sketch", a(2))).toAggregateExpression()
    },
    // multi_contains(text, p1[, p2, ...]): one-pass Aho-Corasick scan;
    // patterns must be string literals (the automaton builds once at
    // plan time and rides into codegen)
    reg("multi_contains") { a =>
      require(a.length >= 2, s"multi_contains expects >= 2 arguments, got ${a.length}")
      val pats = a.drop(1).map { e =>
        require(e.foldable, "multi_contains: patterns must be string literals")
        e.eval(null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => throw new IllegalArgumentException(
            s"multi_contains: expected a string literal pattern, got $other")
        }
      }
      MultiContains(a(0), pats.toSeq)
    })

  /** Register everything into a live session (the non-config path). */
  def registerAll(spark: SparkSession): Unit =
    registrations.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
