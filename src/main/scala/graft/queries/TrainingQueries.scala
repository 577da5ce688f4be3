package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.CacheScope
import graft.core.CacheScope.persist
import graft.curation.Curation
import graft.dedup.{Dedup, Linkage}
import graft.multimodal.Multimodal
import graft.similarity.{Pca, Similarity}
import graft.text.{NaiveBayes, Pii, Repetition, Search, TextFunctions, Vocab}

/** Training-data pipeline operators (dedup, similarity search,
  * text analysis, multimodal plumbing) over the `documents` /
  * `embeddings` tables, each with a full DuckDB oracle — including the
  * approximate sketches: their hash bits derive from md5 (public,
  * engine-agnostic), so the oracle recomputes the SAME sketch algorithm
  * in SQL rather than settling for a rows-only check.
  *
  * Oracle-determinism ground rules: all similarity scores are computed
  * from exact integer set sizes or exact float32→double products, with
  * a single rounding to 6 decimals at the end; ranking always breaks
  * ties on a unique id.
  */
object TrainingQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q170/q183 shared linkage: documents vs a deterministically
    * perturbed copy (every 3rd doc, last word dropped, ids shifted by
    * 1e6), two blocking passes, integer agreement weights, threshold
    * 9. Returns (id_a, id_b, score, is_match) for every candidate.
    */
  private def linkageSides(docs: DataFrame): (DataFrame, DataFrame) = {
    val toksOf = (c: org.apache.spark.sql.Column) => TextFunctions.tokens(c)
    val left = docs.select(
      col("doc_id").as("id_a"), col("text").as("text_a"),
      col("lang").as("lang_a"), col("source").as("source_a"))
    val right = docs.filter(col("doc_id") % 3 === 0).select(
      (col("doc_id") + 1000000L).as("id_b"),
      when(size(toksOf(col("text"))) >= 2,
        concat_ws(" ", slice(toksOf(col("text")), lit(1),
          size(toksOf(col("text"))) - 1)))
        .otherwise(col("text")).as("text_b"),
      col("lang").as("lang_b"), col("source").as("source_b"))
    (left, right)
  }

  private def linkageFeatures: Seq[Linkage.Feature] = {
    val ja = TextFunctions.tokenSet(col("text_a"))
    val jb = TextFunctions.tokenSet(col("text_b"))
    Seq(
      Linkage.Feature("jaccard06",
        size(array_intersect(ja, jb)) * 10 >= size(array_union(ja, jb)) * 6,
        8L, -4L),
      Linkage.Feature("lang", col("lang_a") === col("lang_b"), 1L, -1L),
      Linkage.Feature("source", col("source_a") === col("source_b"), 2L, -1L),
      Linkage.Feature("length09",
        least(length(col("text_a")), length(col("text_b"))) * 10 >=
          greatest(length(col("text_a")), length(col("text_b"))) * 9,
        2L, -1L))
  }

  private def linkageFrame(docs: DataFrame): DataFrame = {
    val (left, right) = linkageSides(docs)
    val toksOf = (c: org.apache.spark.sql.Column) => TextFunctions.tokens(c)
    val first2 = (c: org.apache.spark.sql.Column) =>
      concat_ws(" ", slice(toksOf(c), 1, 2))
    val lenB = (c: org.apache.spark.sql.Column) =>
      floor(length(c) / lit(32)).cast("long")
    Linkage.link(
      left, right, "id_a", "id_b",
      blocks = Seq(
        (concat_ws("|", col("lang_a"), first2(col("text_a"))),
          concat_ws("|", col("lang_b"), first2(col("text_b")))),
        (concat_ws("|", col("source_a"), lenB(col("text_a"))),
          concat_ws("|", col("source_b"), lenB(col("text_b"))))),
      features = linkageFeatures,
      threshold = 9L)
  }

  /** The q170/q183 shared oracle CTE chain: perturbed copy, two
    * blocking passes, candidate union, integer score. Ends at `sc`
    * (id_a, id_b, score).
    */
  /** The L/R (original vs perturbed) sides alone — shared with the
    * sorted-neighborhood variant (q188).
    */
  private val linkageSidesSql: String =
    """L AS (SELECT doc_id AS id_a, text AS text_a,
                      lang AS lang_a, source AS source_a FROM documents),
         R AS (SELECT doc_id + 1000000 AS id_b,
                 CASE WHEN len(string_split(text, ' ')) >= 2
                      THEN array_to_string(list_slice(string_split(text, ' '),
                             1, len(string_split(text, ' ')) - 1), ' ')
                      ELSE text END AS text_b,
                 lang AS lang_b, source AS source_b
               FROM documents WHERE doc_id % 3 = 0)"""

  /** The score CTE over a `cand` (id_a, id_b) CTE — shared by q170
    * and q188.
    */
  private val linkageScoreSql: String =
    """sc AS (SELECT c.id_a, c.id_b,
                 (CASE WHEN 10 * len(list_intersect(
                          list_distinct(string_split(text_a, ' ')),
                          list_distinct(string_split(text_b, ' '))))
                       >= 6 * len(list_distinct(list_concat(
                          list_distinct(string_split(text_a, ' ')),
                          list_distinct(string_split(text_b, ' ')))))
                       THEN 8 ELSE -4 END
                + CASE WHEN lang_a = lang_b THEN 1 ELSE -1 END
                + CASE WHEN source_a = source_b THEN 2 ELSE -1 END
                + CASE WHEN 10 * least(strlen(text_a), strlen(text_b))
                       >= 9 * greatest(strlen(text_a), strlen(text_b))
                       THEN 2 ELSE -1 END)::BIGINT AS score
               FROM cand c
               JOIN L ON c.id_a = L.id_a
               JOIN R ON c.id_b = R.id_b)"""

  private val linkageCtes: String =
    s"""$linkageSidesSql,
         b1 AS (SELECT id_a, id_b FROM L JOIN R ON
                 concat_ws('|', lang_a,
                   array_to_string(list_slice(string_split(text_a, ' '), 1, 2), ' '))
               = concat_ws('|', lang_b,
                   array_to_string(list_slice(string_split(text_b, ' '), 1, 2), ' '))),
         b2 AS (SELECT id_a, id_b FROM L JOIN R ON
                 concat_ws('|', source_a, (strlen(text_a) // 32)::VARCHAR)
               = concat_ws('|', source_b, (strlen(text_b) // 32)::VARCHAR)),
         cand AS (SELECT DISTINCT id_a, id_b FROM
                   (SELECT * FROM b1 UNION ALL SELECT * FROM b2)),
         $linkageScoreSql"""

  /** The fixed q163 evaluation query batch (shared with its oracle). */
  private val EvalQueries: Seq[(String, Seq[String])] = Seq(
    "e1" -> Seq("spark", "join", "window"),
    "e2" -> Seq("hash", "merge", "sort"),
    "e3" -> Seq("dup", "filter", "scan"),
    "e4" -> Seq("stream", "batch", "group"),
    "e5" -> Seq("vector", "column", "key"))

  /** The 3-word-shingle DuckDB fragment shared by the jaccard oracles
    * (body without the WITH keyword so both `WITH` and `WITH
    * RECURSIVE` callers can interpolate it).
    */
  private val shingleCteBody =
    """d AS (
         SELECT doc_id,
           CASE WHEN len(t) < 3 THEN [text]
                ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
         FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))"""

  private val shingleCte = "WITH " + shingleCteBody

  /** `pairs AS (...)` — the tau=0.5 exact-jaccard pair CTE over `d`,
    * shared by the q45/q73 collapse oracles.
    */
  private val jaccardPairsCte =
    """pairs AS (
         SELECT doc_a, doc_b FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
           FROM d a JOIN d b ON a.doc_id < b.doc_id)
         WHERE jaccard >= 0.5)"""

  /** q141 oracle: DuckDB replay of [[graft.core.Graph.pageRank]] over
    * the symmetric jaccard-pair graph — r0 plus one (s_i, g_i, r_i)
    * CTE generation per power iteration, all int64 `//` arithmetic.
    */
  private val pageRankSql: String = {
    val iterCtes = (1 to 5).map { i =>
      val p = s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS id, sum(r.fx // r.od)::BIGINT AS recv
            FROM edges e JOIN $p r ON e.src = r.id GROUP BY 1),
          g$i AS (SELECT coalesce(sum(fx), 0)::BIGINT AS dang FROM $p WHERE od = 0),
          r$i AS (SELECT r.id,
              ((15::BIGINT * nn.base
                + 85::BIGINT * (coalesce(s.recv, 0) + g.dang // nn.n)) // 100)::BIGINT AS fx,
              r.od
            FROM $p r CROSS JOIN nn CROSS JOIN g$i g LEFT JOIN s$i s ON r.id = s.id)"""
    }.mkString(",\n")
    s"""$shingleCte,
       $jaccardPairsCte,
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       nn AS (SELECT count(*)::BIGINT AS n,
                (1000000000000 // count(*))::BIGINT AS base FROM documents),
       od AS (SELECT src AS id, count(*)::BIGINT AS od FROM edges GROUP BY 1),
       r0 AS (SELECT dd.doc_id AS id, nn.base AS fx, coalesce(od.od, 0)::BIGINT AS od
              FROM documents dd CROSS JOIN nn LEFT JOIN od ON dd.doc_id = od.id),
       $iterCtes
       SELECT id AS doc_id, fx AS rank_fx,
         floor(fx::DOUBLE / 1000.0) / 1e6 AS pr
       FROM r5 ORDER BY doc_id"""
  }

  /** q161 oracle: DuckDB replay of [[graft.core.Graph.coreness]] —
    * degree init, then 8 unrolled H-index rounds (sorted-neighbor
    * rank window, max(least(rank, value))), identical to the Spark
    * iteration round for round.
    */
  private val kcoreSql: String = {
    val rounds = (1 to 8).map { i =>
      val p = s"c${i - 1}"
      s"""h$i AS (SELECT src AS id, max(least(rnk, cd))::BIGINT AS h FROM (
            SELECT e.src, c.c AS cd,
              row_number() OVER (PARTITION BY e.src ORDER BY c.c DESC) AS rnk
            FROM e JOIN $p c ON e.dst = c.id) GROUP BY 1),
          c$i AS (SELECT n.id, coalesce(h$i.h, 0)::BIGINT AS c
                  FROM nodes n LEFT JOIN h$i ON n.id = h$i.id)"""
    }.mkString(",\n")
    s"""$shingleCte,
       $jaccardPairsCte,
       e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       nodes AS (SELECT doc_id AS id FROM documents),
       deg AS (SELECT src AS id, count(*)::BIGINT AS d FROM e GROUP BY 1),
       c0 AS (SELECT n.id, coalesce(deg.d, 0)::BIGINT AS c
              FROM nodes n LEFT JOIN deg ON n.id = deg.id),
       $rounds
       SELECT id AS doc_id, c AS coreness FROM c8 ORDER BY doc_id"""
  }

  /** q146 oracle: MMR replay — cosine shortlist, pairwise sim matrix,
    * then 10 greedy picks unrolled as (pick_i, sel_i) CTE generations;
    * all scores on the floor(cos·1e6 + 0.5) int64 grid.
    */
  private val mmrSql: String = {
    val rawCos = "list_sum(list_transform(range(1, 65), t -> a.emb[t] * b.emb[t])) / (a.nrm * b.nrm)"
    // every generation MATERIALIZED: sel_i references sel_{i-1} twice,
    // so default CTE inlining re-expands the whole pick chain 3^k
    // times; the materialization hint evaluates each generation once.
    val picks = (2 to 10).map { i =>
      s"""pick$i AS MATERIALIZED (
           SELECT c.id, (7 * c.rel_fx - 3 * (
               SELECT max(s.sfx) FROM sims s JOIN sel${i - 1} p
               ON s.a = c.id AND s.b = p.id)) AS mfx
           FROM short c
           WHERE c.id NOT IN (SELECT id FROM sel${i - 1})
           ORDER BY mfx DESC, c.id LIMIT 1),
         sel$i AS MATERIALIZED (SELECT id FROM sel${i - 1} UNION ALL SELECT id FROM pick$i)"""
    }.mkString(",\n")
    val out = (1 to 10)
      .map(i => s"SELECT ${i}::BIGINT AS sel_rank, id AS vec_id, mfx AS mmr_fx FROM pick$i")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
       nv AS (SELECT vec_id, emb,
               sqrt(list_sum(list_transform(range(1, 65), t -> emb[t] * emb[t]))) AS nrm
             FROM e),
       qv AS (SELECT emb, nrm FROM nv WHERE vec_id = 0),
       short AS MATERIALIZED (SELECT a.vec_id AS id,
           CAST(floor($rawCos * 1e6 + 0.5) AS BIGINT) AS rel_fx, a.emb, a.nrm
         FROM nv a CROSS JOIN qv b
         ORDER BY rel_fx DESC, id LIMIT 50),
       sims AS MATERIALIZED (SELECT a.id AS a, b.id AS b,
           CAST(floor($rawCos * 1e6 + 0.5) AS BIGINT) AS sfx
         FROM short a JOIN short b ON a.id <> b.id),
       pick1 AS MATERIALIZED (SELECT id, 7 * rel_fx AS mfx FROM short
                 ORDER BY mfx DESC, id LIMIT 1),
       sel1 AS MATERIALIZED (SELECT id FROM pick1),
       $picks
       $out ORDER BY sel_rank"""
  }

  /** The q81 BM25 replay (top-25, terms spark/join/window) — shared
    * with q147, whose on-disk index must reproduce it bit-for-bit.
    */
  private val bm25Sql =
    """WITH docs AS (
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
                string_split(text, ' ') AS t
         FROM documents WHERE text IS NOT NULL),
       stats AS (
         SELECT count(*)::BIGINT AS n,
                CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
       posting AS (
         SELECT doc_id, dl, tok AS term, count(*)::BIGINT AS tf
         FROM (SELECT doc_id, dl, unnest(t) AS tok FROM docs)
         WHERE tok IN ('spark', 'join', 'window')
         GROUP BY 1, 2, 3),
       dfs AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY 1),
       scored AS (
         SELECT p.doc_id,
           CAST(floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * (p.dl / s.avgdl)))
             * 1e9) AS BIGINT) AS fx
         FROM posting p JOIN dfs f ON p.term = f.term CROSS JOIN stats s),
       agg AS (SELECT doc_id, CAST(sum(fx) AS BIGINT) AS score_fx
               FROM scored GROUP BY 1)
       SELECT doc_id,
         floor(CAST(score_fx AS DOUBLE) / 1000.0) / 1e6 AS score,
         score_fx
       FROM agg ORDER BY score_fx DESC, doc_id LIMIT 25"""

  /** q163 oracle: multi-query BM25 replay (same one-pass posting /
    * df / fixed-point scoring as bm25Sql, fanned out over the VALUES
    * query-term map) + the identical int64 DCG items and `//` metric
    * grids.
    */
  private val retrievalEvalSql: String = {
    val qtVals = EvalQueries
      .flatMap { case (q, ts) => ts.map(tm => s"('$q', '$tm')") }
      .mkString(", ")
    val allTerms = EvalQueries.flatMap(_._2).distinct
      .map(tm => s"'$tm'").mkString(", ")
    val gain = (rel: String, rank: String) =>
      s"CAST(floor((power(2, $rel) - 1) / log2($rank + 1) * 1e9) AS BIGINT)"
    s"""WITH docs AS (
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
                string_split(text, ' ') AS t
         FROM documents WHERE text IS NOT NULL),
       stats AS (
         SELECT count(*)::BIGINT AS n,
                CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
       qt(query_id, term) AS (VALUES $qtVals),
       posting AS (
         SELECT doc_id, dl, tok AS term, count(*)::BIGINT AS tf
         FROM (SELECT doc_id, dl, unnest(t) AS tok FROM docs)
         WHERE tok IN ($allTerms)
         GROUP BY 1, 2, 3),
       dfs AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY 1),
       scored AS (
         SELECT q.query_id, p.doc_id,
           CAST(floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
             * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * (p.dl / s.avgdl)))
             * 1e9) AS BIGINT) AS fx
         FROM posting p JOIN dfs f ON p.term = f.term
         JOIN qt q ON q.term = p.term CROSS JOIN stats s),
       agg AS (SELECT query_id, doc_id, sum(fx)::BIGINT AS score_fx
               FROM scored GROUP BY 1, 2),
       ranked AS (SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score_fx DESC, doc_id)::BIGINT AS rank
         FROM agg),
       run10 AS (SELECT * FROM ranked WHERE rank <= 10),
       truth AS (
         SELECT q.query_id, d.doc_id, count(*)::BIGINT AS rel
         FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
               FROM documents WHERE text IS NOT NULL) d
         JOIN qt q ON q.term = d.tok
         GROUP BY 1, 2 HAVING count(*) >= 2),
       hits AS (SELECT r.query_id, r.rank, tr.rel
                FROM run10 r JOIN truth tr
                ON r.query_id = tr.query_id AND r.doc_id = tr.doc_id),
       perq AS (SELECT query_id, count(*)::BIGINT AS n_hits,
                  sum(${gain("rel", "rank")})::BIGINT AS dcg_fx,
                  min(rank)::BIGINT AS first_rel
                FROM hits GROUP BY 1),
       ideal AS (SELECT query_id,
                   sum(${gain("rel", "irk")})::BIGINT AS idcg_fx
                 FROM (SELECT query_id, rel,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY rel DESC, doc_id)::BIGINT AS irk
                       FROM truth)
                 WHERE irk <= 10 GROUP BY 1),
       nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel FROM truth GROUP BY 1)
       SELECT n.query_id, n.n_rel, coalesce(p.n_hits, 0)::BIGINT AS n_hits,
         (CASE WHEN coalesce(i.idcg_fx, 0) > 0
               THEN (coalesce(p.dcg_fx, 0) * 1000000) // i.idcg_fx
               ELSE 0 END)::DOUBLE / 1e6 AS ndcg,
         (CASE WHEN p.first_rel IS NOT NULL THEN 1000000 // p.first_rel
               ELSE 0 END)::DOUBLE / 1e6 AS mrr,
         ((coalesce(p.n_hits, 0) * 1000000) // n.n_rel)::DOUBLE / 1e6 AS recall
       FROM nrel n
       LEFT JOIN ideal i ON n.query_id = i.query_id
       LEFT JOIN perq p ON n.query_id = p.query_id
       ORDER BY n.query_id"""
  }

  /** q153 oracle: the q141 replay with a 5-seed teleport vector —
    * fx/dangling return only to seeds (b = 0/1 indicator).
    */
  private val pprSql: String = {
    val iterCtes = (1 to 5).map { i =>
      val p = s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS id, sum(r.fx // r.od)::BIGINT AS recv
            FROM edges e JOIN $p r ON e.src = r.id GROUP BY 1),
          g$i AS (SELECT coalesce(sum(fx), 0)::BIGINT AS dang FROM $p WHERE od = 0),
          r$i AS (SELECT r.id,
              ((15::BIGINT * (1000000000000 // 5) * r.b
                + 85::BIGINT * (coalesce(s.recv, 0) + r.b * (g.dang // 5))) // 100)::BIGINT AS fx,
              r.od, r.b
            FROM $p r CROSS JOIN g$i g LEFT JOIN s$i s ON r.id = s.id)"""
    }.mkString(",\n")
    s"""$shingleCte,
       $jaccardPairsCte,
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       od AS (SELECT src AS id, count(*)::BIGINT AS od FROM edges GROUP BY 1),
       r0 AS (SELECT dd.doc_id AS id,
                (CASE WHEN dd.doc_id < 5 THEN 1000000000000 // 5 ELSE 0 END)::BIGINT AS fx,
                coalesce(od.od, 0)::BIGINT AS od,
                (CASE WHEN dd.doc_id < 5 THEN 1 ELSE 0 END)::BIGINT AS b
              FROM documents dd LEFT JOIN od ON dd.doc_id = od.id),
       $iterCtes
       SELECT id AS doc_id, fx AS rank_fx,
         floor(fx::DOUBLE / 1000.0) / 1e6 AS pr
       FROM r5 ORDER BY doc_id"""
  }

  /** q154 oracle: 3 unrolled clamped majority-vote rounds (MATERIALIZED
    * — each generation is referenced three times).
    */
  private val labelPropSql: String = {
    val rounds = (1 to 3).map { i =>
      val p = s"l${i - 1}"
      s"""v$i AS MATERIALIZED (SELECT e.dst AS id, l.lab, count(*)::BIGINT AS c
            FROM edges e JOIN $p l ON e.src = l.id
            WHERE l.lab IS NOT NULL GROUP BY 1, 2),
          m$i AS (SELECT id, max(c) AS mc FROM v$i GROUP BY 1),
          b$i AS (SELECT v.id, min(v.lab) AS nl
                  FROM v$i v JOIN m$i m ON v.id = m.id AND v.c = m.mc
                  GROUP BY v.id),
          l$i AS MATERIALIZED (SELECT l.id, coalesce(sd.seed, b.nl, l.lab) AS lab
            FROM $p l LEFT JOIN b$i b ON l.id = b.id
            LEFT JOIN sd ON l.id = sd.id)"""
    }.mkString(",\n")
    s"""$shingleCte,
       $jaccardPairsCte,
       edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       sd AS (SELECT doc_id AS id,
                CASE WHEN doc_id % 2 = 0 THEN lang END AS seed FROM documents),
       l0 AS (SELECT doc_id AS id,
                CASE WHEN doc_id % 2 = 0 THEN lang END AS lab FROM documents),
       $rounds
       SELECT id AS doc_id, lab FROM l3 ORDER BY doc_id"""
  }

  private val jaccardPairsSql =
    s"""$shingleCte
       SELECT doc_a, doc_b, jaccard FROM (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         FROM d a JOIN d b ON a.doc_id < b.doc_id)
       WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""

  /** DuckDB cosine matching Similarity.cosine (double products, list
    * fold, round 6).
    */
  private def duckCos(a: String, b: String) =
    s"""round(
         list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $a.embedding[i]::DOUBLE)))
          * sqrt(list_sum(list_transform(range(1, 65), i -> $b.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE)))), 6)"""

  /** Cosine over pre-extracted `emb`/`nrm` CTE columns (same fold). */
  private def duckCosPre(a: String, b: String) =
    s"""round(list_sum(list_transform(range(1, 65), i -> $a.emb[i] * $b.emb[i]))
         / ($a.nrm * $b.nrm), 6)"""

  /** `(vec_id, emb double-list, nrm)` CTE shared by the ANN oracles. */
  private val embCte =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
       n AS (SELECT vec_id, emb,
               sqrt(list_sum(list_transform(range(1, 65), i -> emb[i] * emb[i]))) AS nrm
             FROM e)"""

  /** The md5-derived ±1 hyperplane `p` as a DuckDB array literal —
    * definitionally the same constants Similarity.hyperplane feeds the
    * Spark plan (see its scaladoc for the public re-derivation).
    */
  private def planeSql(p: Int): String =
    Similarity.hyperplane(p, 64).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")

  /** `CASE WHEN dot(emb, plane_p) > 0 THEN hi ELSE 0 END` in DuckDB. */
  private def planeBitSql(p: Int, hi: Long): String =
    // native list_inner_product, NOT a list_transform lambda: indexing
    // the 64-element plane literal inside a per-element lambda
    // re-materializes the literal per element — the q48/q192 oracles
    // (96 planes each) ran 35 s on 500 vectors that way; the kernel
    // form is 0.3 s with bit-identical sums (both fold ascending).
    s"""(CASE WHEN list_inner_product(emb, ${planeSql(p)}) > 0
         THEN ${hi}::BIGINT ELSE 0::BIGINT END)"""

  /** DuckDB replay of [[graft.text.LogisticRegression]] training: the
    * fixed `iters` gradient steps unroll as CTE generations (w0..wT),
    * each repeating the engine-exact arithmetic — scaled-floor
    * (`floor(x·10^s + 0.5)`) quantization with exact integer sums for
    * dot products and gradients, 1e-6-quantized sigmoids, and the
    * identical scalar update w - lr·((g/1e9)/n) — so the ORACLE fits
    * the same model bit-for-bit and the final scores hash-match.
    * (Decimal round() would NOT: Spark rounds the shortest decimal
    * rendering, DuckDB the binary value — they disagree near
    * boundaries and the divergence compounds through training.)
    */
  private def lrOracleSql(
      buckets: Int, iters: Int, lr: Double, labelSql: String): String = {
    val k1 = buckets + 1
    def pExpr = s"""floor((1.0/(1.0 + exp(-(list_sum(list_transform(range(0, $k1),
        j -> floor(w[j+1] * x[j+1] * 1000000000.0 + 0.5)::BIGINT))::DOUBLE / 1000000000.0)))) * 1000000.0 + 0.5)::DOUBLE / 1000000.0"""
    val steps = (1 to iters).map { t =>
      s"""p$t AS (SELECT doc_id, y, x, $pExpr AS p FROM feat, w${t - 1}),
         g$t AS (SELECT k, sum(floor((p - y) * x[k+1] * 1000000000.0 + 0.5)::BIGINT) AS gv
                 FROM p$t, range(0, $k1) r(k) GROUP BY k),
         w$t AS (SELECT list_transform(range(0, $k1), k -> w[k+1] - $lr * ((g[k+1] / 1000000000.0) / n)) AS w
                 FROM w${t - 1}, (SELECT list(gv::DOUBLE ORDER BY k) AS g FROM g$t), nd)"""
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id,
           (CASE WHEN $labelSql THEN 1.0 ELSE 0.0 END)::DOUBLE AS y,
           unnest(string_split(text, ' ')) AS w
         FROM documents),
       cnt AS (SELECT doc_id, y,
           ('0x' || substr(md5(w), 1, 15))::BIGINT % $buckets AS b,
           count(*)::DOUBLE AS c
         FROM tok GROUP BY 1, 2, 3),
       feat AS (SELECT doc_id, y,
           list_prepend(1.0, list_transform(range(0, $buckets), k ->
             coalesce(list_sum(list_transform(pairs,
               pr -> CASE WHEN pr.b = k THEN pr.c ELSE 0.0 END)), 0.0) / n)) AS x
         FROM (SELECT doc_id, y, list(struct_pack(b := b, c := c)) AS pairs,
                 sum(c) AS n
               FROM cnt GROUP BY doc_id, y)),
       nd AS (SELECT count(*)::DOUBLE AS n FROM feat),
       w0 AS (SELECT list_transform(range(0, $k1), k -> 0.0::DOUBLE) AS w),
       $steps
       SELECT doc_id, $pExpr AS score FROM feat, w$iters ORDER BY doc_id"""
  }

  /** q104/q126 shared raster replay: the synthesized gray PNG's pixel
    * grid rebuilt from text bytes, 8x8 cell-mean pHash bits, and the
    * unsigned->signed fold to Spark's LongType fingerprint. */
  private val phashFpsCte: String =
    """geo AS (
           SELECT doc_id AS media_id, text, strlen(text)::BIGINT AS len,
             16 + (doc_id % 17) AS w,
             greatest(1, (strlen(text) + 16 + (doc_id % 17) - 1) // (16 + (doc_id % 17))) AS h
           FROM documents),
         vals AS (
           SELECT media_id,
             ((k // w) * 8) // h AS bi,
             ((k % w) * 8) // w AS bj,
             CASE WHEN k < len THEN ascii(substr(text, k::INT + 1, 1)) ELSE 0 END AS v
           FROM (SELECT media_id, text, len, w, h, unnest(range(0, w * h)) AS k FROM geo)),
         blocks AS (
           SELECT media_id, bi, bj, sum(v)::BIGINT AS s, count(*)::BIGINT AS c
           FROM vals GROUP BY 1, 2, 3),
         tot AS (SELECT media_id, sum(s)::BIGINT AS stot, sum(c)::BIGINT AS ctot
                 FROM blocks GROUP BY 1),
         fps AS (
           SELECT b.media_id,
             sum(CASE WHEN b.s * t.ctot >= t.stot * b.c
                 THEN 1::HUGEINT << (b.bi * 8 + b.bj)::INT ELSE 0::HUGEINT END) AS fph
           FROM blocks b JOIN tot t ON b.media_id = t.media_id
           GROUP BY b.media_id),
         f2 AS (SELECT media_id,
             (CASE WHEN fph >= 9223372036854775808 THEN fph - 18446744073709551616
                   ELSE fph END)::BIGINT AS fp
           FROM fps)"""

  /** q128/q136 shared replay of the audio energy fingerprint: sample k
    * → window (k·64)//n, window energies as HUGEINT, bit set iff
    * e_w·64 >= total, unsigned→signed fold to Spark's LongType.
    */
  private val audioFpCte: String =
    """s AS (
           SELECT doc_id AS media_id,
             CASE WHEN strlen(text) = 0 THEN [0]
                  ELSE [ascii(substr(text, i::INT, 1)) FOR i IN range(1, strlen(text)+1)] END AS vs
           FROM documents),
         v AS (SELECT media_id, len(vs)::BIGINT AS n,
                 unnest(list_transform(range(1, len(vs)+1), i -> {'k': i-1, 'x': vs[i]})) AS u
               FROM s),
         e AS (SELECT media_id, ((u.k * 64) // n) AS w,
                 sum((u.x::HUGEINT) * u.x) AS ew
               FROM v GROUP BY media_id, ((u.k * 64) // n)),
         tot AS (SELECT media_id, sum(ew) AS te FROM e GROUP BY media_id),
         fph AS (SELECT e.media_id,
                   sum(CASE WHEN e.ew * 64 >= t.te THEN 1::HUGEINT << e.w::INT
                       ELSE 0::HUGEINT END) AS f
                 FROM e JOIN tot t ON e.media_id = t.media_id
                 GROUP BY e.media_id),
         af AS (SELECT media_id,
             (CASE WHEN f >= 9223372036854775808 THEN f - 18446744073709551616
                   ELSE f END)::BIGINT AS fp
           FROM fph)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // In-engine trained DISCRIMINATIVE quality classifier (the
    // fastText/DCLM filter slot beside q83's Naive Bayes): logistic
    // regression over md5-hashed token-frequency buckets, fit by 5
    // full-batch gradient steps — each ONE aggregation over the
    // persisted feature table — then scored map-side. The oracle
    // REPLAYS TRAINING (unrolled CTEs), so the hash compare gates the
    // whole fit, not just the scoring pass.
    "q125_lr_quality" -> ((s, dir) => {
      graft.text.LogisticRegression.fitScore(
        t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 64, iters = 5, lr = 0.25)
        .orderBy(col("doc_id"))
    }),
    // Exact dedup: content-hash groupBy, smallest id survives.
    "q18_dedup_exact" -> ((s, dir) => {
      Dedup.exactDedupSurvivors(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp"))
    }),

    // Token counting: whitespace + BPE-ish regex + exact char sums + TTR.
    "q19_token_stats" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCountWs(txt).cast("long").as("n_ws"),
        TextFunctions.tokenCountBpe(txt).cast("long").as("n_bpe"),
        TextFunctions.sumTokenLen(txt).cast("long").as("sum_len"),
        round(TextFunctions.typeTokenRatio(txt), 6).as("ttr"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/diversity/word-shape/stopword composite.
    "q20_quality_score" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCountWs(txt).cast("long").as("wc"),
        round(TextFunctions.stopwordRatio(txt), 6).as("stop_ratio"),
        TextFunctions.qualityScore(txt).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID heuristic (marker-token argmax).
    "q21_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprinting: exact md5 + winnowing min-hash.
    "q22_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.fingerprintMd5(col("text")).as("fp_md5"),
        TextFunctions.winnowFingerprint(col("text"), 3).as("fp_winnow"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard near-dup pairs via inverted-index join
    // (no cross join — scales as sum of shingle postings, not |D|^2).
    "q23_jaccard_pairs" -> ((s, dir) => {
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash+LSH near-dup pairs, candidates verified by exact Jaccard.
    // Same oracle as q23: with 16 bands x 4 rows, recall at j>=0.9 is
    // 1-4e-8 and j=1.0 pairs (identical shingle sets) are found with
    // certainty, so LSH output == exact output on this corpus.
    "q24_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5, numHashes = 64, bands = 16)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash near-dup pairs (hamming banding), verified by exact
    // Jaccard. Full DuckDB oracle: the md5-derived sketch is
    // recomputable in SQL, and the pigeonhole piece-join has recall
    // exactly 1 for hamming<=maxHamming, so the output IS the predicate
    // set {hamming(simhash a,b) <= 3 AND jaccard >= 0.5} — which the
    // oracle evaluates quadratically.
    "q25_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, maxHamming = 3, tau = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding cosine near-dup pairs (exact, deterministic rounding).
    "q26_embedding_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.cosinePairsExact(emb, "vec_id", "emb", tau = 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Embedding near-dup pairs via banded hyperplane LSH — the scale
    // path (bucket equi-join + exact-cosine verification of candidates,
    // no cross join). The oracle mirrors the ALGORITHM: buckets from
    // the same md5-derived ±1 planes (embedded as literals), candidate
    // = shares >=1 band bucket, then the identical exact cosine filter.
    "q48_neardup_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      Similarity.cosinePairsLsh(emb, "vec_id", "emb", tau = 0.45,
        dim = 64, planesPerBand = 6, bands = 16)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Brute-force cosine top-k: queries vec_id<10 vs corpus vec_id>=10,
    // top-5 each, corpus scanned once with broadcast queries.
    "q27_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.bruteForceTopK(queries, corpus, k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // LSH-bucketed approximate top-k (the scale path: bucket equi-join
    // instead of cross join). Full DuckDB oracle mirroring the
    // algorithm: same md5-derived planes as SQL literals, same bucket
    // assignment, join, scoring and ranking — recall vs the exact q27
    // is additionally measured in SimilaritySpec.
    "q28_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.lshTopK(queries, corpus, k = 5, planes = 2, dim = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Multi-probe LSH (Lv et al. 2007): q28's sign-LSH but each query
    // also probes every bucket ONE sign-flip away (Hamming-1 probe
    // set) — recall rises toward brute force with the corpus hashed
    // exactly once. 4 planes so the single-probe buckets are finer
    // (16 cells) and the probe widening is visible; oracle = same
    // plane replay with a bit_count(xor) <= 1 candidate test.
    "q209_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.lshTopKMultiProbe(queries, corpus, k = 5, planes = 4, dim = 64)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Media metadata with the IMAGE rows REAL: image-kind docs carry an
    // actual gray PNG of their text bytes (ImageIO encode), and the
    // decode path reads width/height/sample-sum back from REAL pixels.
    // The oracle re-derives those values from (doc_id, text) alone —
    // a sample-exact encode→decode round-trip check that never needs
    // the oracle to touch a PNG. n_bytes/sha are excluded: PNG byte
    // streams are encoder-private. Audio/video rows stay on the stub.
    "q29_media_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeMixedMedia(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaMetaTable(s, media)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), col("n_samples"), col("px_sum"))
        .orderBy(col("media_id"))
    }),

    // Media feature extraction: image rows histogram their REAL
    // decoded raster (text bytes + the zero pad ImageIO hands back —
    // the pad lands in bucket 0, which the oracle accounts for
    // exactly); audio/video rows histogram payload bytes via the stub.
    "q66_media_embed" -> ((s, dir) => {
      val media = Multimodal.synthesizeMixedMedia(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaEmbeddings(s, media, dim = 16)
        .select(col("media_id"), posexplode(col("embedding")).as(Seq("pos", "v0")))
        .select(col("media_id"), col("pos").cast("long").as("pos"),
          round(col("v0"), 6).as("v"))
        .orderBy(col("media_id"), col("pos"))
    }),

    // Line-level dedup (CCNet/RefinedWeb boilerplate removal) over a
    // deterministic fixture: the corpus has no newlines, so the query
    // plants a header/footer line per doc — shared boilerplate on
    // modular subsets, unique lines on the rest — then drops every
    // line appearing in >= 2 distinct docs.
    "q67_line_dedup" -> ((s, dir) => {
      val input = concat_ws("\n",
        when(col("doc_id") % 4 === 0, lit("cookie consent required"))
          .otherwise(concat(lit("head "), col("doc_id"))),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
          .otherwise(concat(lit("foot "), col("doc_id"))))
      val lined = t(s, dir, "documents").select(col("doc_id"), input.as("text"))
      Dedup.dedupLines(lined, "doc_id", "text", minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // Token-budget per-source cap (the unit corpora are specced in):
    // deterministic hash order, keep while the running token total
    // BEFORE the row is under budget.
    "q119_token_cap" -> ((s, dir) => {
      Curation.capTokensPerGroup(t(s, dir, "documents"), "doc_id", "source",
        TextFunctions.tokenCountWs(col("text")).cast("long"), maxTokens = 800L)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Language-ID confusion matrix: the heuristic classifier scored
    // against the labeled lang column — the quality report any
    // classifier slot needs before it gates data.
    "q120_langid_confusion" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred"))
    }),

    // Dataset-card length histogram: log2-bucketed whitespace token
    // counts per source — map-side bucket key, one aggregate.
    "q121_length_histogram" -> ((s, dir) => {
      val wc = TextFunctions.tokenCountWs(col("text")).cast("long")
      t(s, dir, "documents")
        .select(col("source"),
          floor(log2(greatest(wc, lit(1L)).cast("double"))).cast("long").as("len_bucket"))
        .groupBy(col("source"), col("len_bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("len_bucket"))
    }),

    // On-disk LSH index: write-once band-bucket-partitioned MinHash
    // postings + signatures, then an incremental batch probe that
    // prunes to its pb partitions and never re-shingles the reference.
    // Same split as q55; same exact-Jaccard oracle (LSH recall is 1 on
    // this corpus's bimodal similarity distribution — q24's argument).
    "q122_lsh_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = CacheScope.stage("lshidx_q")
      graft.dedup.LshIndex.write(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", tmp, n = 3, numHashes = 64, bands = 16,
        numPartitions = 16)
      graft.dedup.LshIndex.probe(s, tmp,
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", tau = 0.5)
        .orderBy(col("ref_id"), col("new_id"))
    }),

    // Matryoshka/truncated-dimension recall scorecard (the
    // MRL-deployment decision table beside q179's IVF recall): exact
    // top-5 under PREFIX-dim cosine (16 of 64 dims — 4x cheaper
    // scan/storage) scored against the full-dim truth per query;
    // dim=64 rides along as the self-check (recall must be 5/5).
    // Integer hit counts only — no division to diverge on.
    "q212_matryoshka_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      def topk(d: Int) = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), slice(col("emb"), 1, d).as("q_emb")),
        emb.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("c_id"), slice(col("emb"), 1, d).as("c_emb")),
        k = 5).select(col("q_id"), col("c_id"))
      val truth = topk(64)
      Seq(16, 64).map { d =>
        topk(d).join(truth, Seq("q_id", "c_id"), "left_semi")
          .groupBy(col("q_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(col("q_id"), lit(d.toLong).as("dim"), col("n_hits"))
      }.reduce(_ unionByName _)
        .orderBy(col("dim"), col("q_id"))
    }),

    // All-pairs similarity search (Bayardo et al. 2007): TF-IDF-
    // weighted cosine pairs over the postings index — rare shared
    // vocabulary counts, boilerplate terms count for almost nothing
    // (the lexical near-dup measure Jaccard's unweighted sets miss).
    // Exact fixed point end-to-end: 1e-6 floor-ln idf grid, int64
    // weights, DECIMAL dot/norm sums, one final double expression.
    "q210_tfidf_pairs" -> ((s, dir) => {
      Dedup.tfidfCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        tau = 0.9, maxTermDocFreq = Some(500))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Right-to-be-forgotten over the on-disk index: q122's build, then
    // DELETE the doc_id % 5 == 0 slice (partition-pruned rewrite — only
    // the pb/sb directories holding the forgotten docs' rows are
    // touched), then probe. The oracle is q122's exact cross Jaccard
    // with the forgotten reference docs absent — a deleted doc must be
    // exactly as unfindable as one never indexed.
    "q206_index_forget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = CacheScope.stage("lshidx_f")
      graft.dedup.LshIndex.write(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", tmp, n = 3, numHashes = 64, bands = 16,
        numPartitions = 16)
      graft.dedup.LshIndex.delete(s, tmp,
        docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0),
        "doc_id", "text")
      graft.dedup.LshIndex.probe(s, tmp,
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", tau = 0.5)
        .orderBy(col("ref_id"), col("new_id"))
    }),

    // Cross-corpus novelty (data valuation of an incoming batch):
    // fraction of each new doc's shingles the existing corpus has
    // never seen — reference grams broadcast, batch explodes once.
    // Split: doc_id % 5 == 0 is the incoming batch, the rest is the
    // standing corpus.
    "q118_batch_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusNovelty(
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 5 =!= 0), "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // N-gram novelty: fraction of a doc's distinct shingles appearing
    // in no other doc — the memorization/originality diagnostic. Same
    // one-exchange in-place window shape as q59.
    "q115_ngram_novelty" -> ((s, dir) => {
      Dedup.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Dedup-cluster size distribution: components rolled up twice —
    // the dataset-card "how big are my duplicate families" histogram.
    "q116_cluster_report" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5)
      Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .groupBy(col("component_id")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // Rank-based per-source quality calibration (the distribution-free
    // sibling of q112's z-scores): exact within-source percent ranks.
    "q117_quality_pct" -> ((s, dir) => {
      Curation.qualityPercentiles(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("doc_id"))
    }),

    // Unicode canonicalization: combining sequences injected into the
    // fixture text, NFC recomposition + accent folding as codegen'd
    // kernels — the pre-dedup normalization a multi-crawler corpus
    // needs (same visible string, different code points, different
    // md5).
    "q114_text_normalize" -> ((s, dir) => {
      val messy = regexp_replace(col("text"), "e", "é")
      t(s, dir, "documents").select(col("doc_id"),
          graft.functions.TextNormFunctions.nfcNormalize(messy).as("norm"))
        .withColumn("folded",
          graft.functions.TextNormFunctions.stripAccents(col("norm")))
        .orderBy(col("doc_id"))
    }),

    // Exact stratified split: per-source hash-rank cut at exact
    // floor(n_s*frac) boundaries (q76's map-only split is the
    // growing-corpus path; this is the frozen-snapshot one).
    "q113_stratified_split" -> ((s, dir) => {
      Curation.stratifiedSplit(t(s, dir, "documents")
          .select(col("doc_id"), col("source")), "doc_id", "source")
        .orderBy(col("doc_id"))
    }),

    // Per-source quality calibration: z-standardize the composite
    // quality within each source (one threshold transfers across
    // domains); moments DECIMAL-exact, z a fixed-order double.
    "q112_quality_zscore" -> ((s, dir) => {
      Curation.qualityZScores(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("doc_id"))
    }),

    // Kneser-Ney bigram LM scoring — the KenLM smoothing (absolute
    // discount + continuation-probability backoff) one rung above
    // q103's simple interpolation.
    "q111_kneser_ney" -> ((s, dir) => {
      Curation.kneserNeyBigramScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Mergeable heavy-hitters sketch (Misra-Gries as a native
    // TypedImperativeAggregate): capacity 64 > |vocab| = exact-regime,
    // so the summary IS the count table — the oracle checks that; the
    // N/(capacity+1) undercount bound is the 100 TB regime (spec).
    // Per-group top-k as a MERGEABLE bounded-heap aggregate: each map
    // partition ships at most k rows per group, vs the row_number
    // window's full per-group reduce-side sort — the shuffle-light
    // top-k shape for 100 TB grouped rankings. Deterministic
    // (quality desc, doc_id asc), so the exact oracle replays it with
    // the window it replaces.
    "q129_topk_by" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(graft.functions.AggregateFunctions.topKBy(
          // zero-padded key: the aggregate's tie rule is string-ASC,
          // and padding makes string order == numeric doc_id order
          lpad(col("doc_id").cast("string"), 12, "0"),
          TextFunctions.qualityScore(col("text")), 5).as("tk"))
        .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
          col("e.token").cast("long").as("doc_id"), col("e.v").as("quality"))
        .orderBy(col("source"), col("rank"))
    }),

    // Mergeable quantile summary in its EXACT regime (group rows <
    // capacity — the same oracle pattern as q110's Misra-Gries): per-
    // source quality quartiles with no global sort and a capacity·log-
    // bounded partial per partition. Past capacity the sketch degrades
    // to bounded rank error instead of bounded memory (spec-checked).
    "q130_quantile_sketch" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), TextFunctions.qualityScore(col("text")).as("q"))
        .groupBy(col("source"))
        .agg(graft.functions.AggregateFunctions.quantileSketch(
          col("q"), 4096, Seq(0.25, 0.5, 0.75, 0.9)).as("qs"))
        .select(col("source"), explode(col("qs")).as("e"))
        .select(col("source"), col("e.p").as("p"), col("e.v").as("v"))
        .orderBy(col("source"), col("p"))
    }),

    // The full dataset card: corpusReport + quality quartiles
    // (quantile sketch, exact regime) + distinct shingles (KMV, exact
    // regime) — one row per source, the per-release summary a
    // published corpus ships.
    "q140_dataset_card" -> ((s, dir) => {
      Curation.datasetCard(t(s, dir, "documents"),
        "doc_id", "text", "source", "lang")
        .orderBy(col("source"))
    }),

    // Near-dup centrality (LexRank shape): PageRank over the exact-
    // jaccard similarity graph ranks the docs whose content is most
    // echoed across the corpus — the boilerplate hubs a curation pass
    // inspects (and usually deletes) first. Integer fixed-point power
    // iteration (core.Graph): 5 co-partitioned rounds of one shuffle
    // and one job each, the dangling mass returned by the round's job
    // as a driver-side scalar; the oracle REPLAYS all 5 iterations as
    // unrolled CTEs, so the hash gates the whole iteration, not just
    // the final ranking.
    "q141_neardup_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted: the symmetrized edge union references the pair
      // pipeline twice — measured without the cache, q141's shuffle
      // read rose 6050 → 7705 KB at sf0.1 and its sf1 wall by 0.7-1.7 s
      val pairs = persist(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5))
      val edges = graft.core.Graph.symmetric(pairs)
      graft.core.Graph.pageRank(docs.select(col("doc_id").as("id")), edges, iters = 5)
        .select(col("id").as("doc_id"), col("rank_fx"), col("rank").as("pr"))
        .orderBy(col("doc_id"))
    }),

    // Aho-Corasick multi-pattern scan: blocklist/canary detection as
    // ONE automaton pass per document regardless of pattern count
    // (codegen'd reference-object kernel) vs P separate LIKE scans —
    // the P-free scan cost is the 100 TB story.
    "q152_multi_contains" -> ((s, dir) => {
      val pats = Seq("join order", "table scan", "spark window",
        "slow sort", "customer line")
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.AcFunctions.multiContains(col("text"), pats)).as("pat"))
        .select(col("doc_id"), col("pat").cast("long").as("pat"))
        .orderBy(col("doc_id"), col("pat"))
    }),

    // Count-min sketch per source (depth 3 × width 32): the mergeable
    // full-domain frequency grid beside misra_gries' head-only
    // summary. The oracle replays every counter from the md5 bucket
    // derivation — approximate operator, EXACT gate.
    "q151_cms_sketch" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("source"))
        .agg(graft.functions.CmsFunctions.cmsSketch(col("w"), 3, 32).as("cms"))
        .select(col("source"), posexplode(col("cms")).as(Seq("pos", "c")))
        .select(col("source"), col("pos").cast("long").as("pos"), col("c"))
        .orderBy(col("source"), col("pos"))
    }),

    // PMI collocation mining: top adjacent word pairs by pointwise
    // mutual information among bigrams seen >= 5 times — multiword
    // units and template phrases surfaced for corpus analysis.
    "q149_collocations" -> ((s, dir) => {
      Curation.collocations(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, k = 50)
    }),

    // Per-group embedding centroid drift between snapshot sides (even
    // vec_ids = release a, odd = release b): the semantic PSI — one
    // rounded cosine per label over EXACT int64 dimension sums (the
    // q131 quantization grid; cosine's scale invariance cancels the
    // /n, so no float means ever form).
    "q150_centroid_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("label"),
        when(col("vec_id") % 2 === 0, "a").otherwise("b").as("side"),
        col("embedding"))
      Similarity.centroidDrift(emb, "label", "side", "embedding")
        .orderBy(col("label"))
    }),

    // Leakage-free train/test split: near-dup components resolve
    // first, then the split decision hashes the component ROOT — an
    // entire near-dup cluster lands on one side, so test can never
    // contain a near-copy of a training doc (the contamination mode a
    // doc-level hash split has). ~75/25 via the first md5 nibble.
    "q148_leakage_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      Curation.leakageFreeSplit(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // On-disk inverted index, write-once/query-many BM25: postings
    // partitioned by term hash (query prunes to its terms' tb=
    // directories), partial-row stats (append = one added row), and
    // the SAME scoring tail as q81 — index-backed results are
    // bit-identical to the corpus-scan path.
    "q147_search_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tmp = CacheScope.stage("searchidx_q")
      graft.text.SearchIndex.write(docs, "doc_id", "text", tmp, numPartitions = 16)
      graft.text.SearchIndex.query(s, tmp, Seq("spark", "join", "window"), k = 25)
        .select(col("doc").as("doc_id"), col("score"), col("score_fx"))
    }),

    // MMR diversified selection: top-50 cosine shortlist for query
    // vec 0, then 10 greedy λ=0.7 picks trading relevance against
    // max-similarity-to-selected (integer fixed point throughout).
    // The oracle replays all 10 picks as unrolled CTE generations.
    "q146_mmr_select" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("emb"))
      val q = emb.filter(col("id") === 0L).select(col("emb").as("q_emb"))
      val shortlist = emb.crossJoin(broadcast(q))
        .select(col("id"),
          floor(Similarity.dot(col("emb"), col("q_emb")) /
            (Similarity.norm(col("emb")) * Similarity.norm(col("q_emb"))) *
            lit(1e6) + lit(0.5)).cast("long").as("rel_fx"))
        .orderBy(col("rel_fx").desc, col("id")).limit(50)
      Similarity.mmrSelect(shortlist, emb, lamNum = 7, lamDen = 10, k = 10)
        .select(col("sel_rank"), col("id").as("vec_id"), col("mmr_fx"))
        .orderBy(col("sel_rank"))
    }),

    // Content-defined chunking + chunk-level storage dedup: md5-gram
    // boundary cut (map-only, edit-stable) then a per-source report of
    // how much chunk-store dedup would save — the CAS/dedup-storage
    // view of corpus redundancy, complementing doc-level q18.
    "q145_cdc_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.cdcChunks(docs, "doc_id", "text", window = 4)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_fp")).as("n_distinct"),
          (floor((lit(1.0) - countDistinct(col("chunk_fp")).cast("double") /
            count(lit(1))) * 1e6) / 1e6).as("dedup_ratio"),
          sum(col("n_words")).as("n_words"))
        .orderBy(col("source"))
    }),

    // Product quantization + ADC scan (the IVF-PQ compression half):
    // md5-seeded codebooks (8 blocks × 8 dims × 16 codewords), corpus
    // encoded to 8 small codes/vector, query vec 0 searched by exact
    // int64 table-lookup sums. The oracle replays codebook build,
    // encode, and the ADC ranking end-to-end.
    // IVF + ADC composite (the FAISS billion-vector shape): coarse
    // cells prune the search to nprobe lists, PQ codes rank the
    // survivors — nprobe/nlist of the corpus touched, m bytes read
    // per candidate instead of d·8. Multi-query; exact int64 table
    // sums so the oracle replays every rank.
    "q215_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.ivfPqTopK(queries, corpus, k = 10)
        .orderBy(col("q_id"), col("rank"))
    }),

    "q144_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("c_emb"))
      val cb = Similarity.pqCodebooks(emb, m = 8, dsub = 8, ksub = 16)
      val codes = Similarity.pqEncode(emb, cb, m = 8, dsub = 8)
      val q = emb.filter(col("c_id") === 0L).select(col("c_emb").as("q_emb"))
      Similarity.pqSearchAdc(q, codes, cb, m = 8, dsub = 8, k = 25)
        .select(col("c_id").as("vec_id"), col("adc_fx"))
        .orderBy(col("adc_fx"), col("vec_id"))
    }),

    // Hybrid retrieval: BM25 lexical shortlist + brute-force cosine
    // shortlist (both top-100), fused by reciprocal-rank fusion in
    // exact int64 fixed point (Search.rrfFuse). The post-limit
    // row_number windows rank 100-row shortlists — bounded by
    // construction, not corpus-sized (the q90 hazard does not apply).
    "q143_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bshort = Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("spark", "join", "window"), k = 100)
        .withColumn("rank", row_number().over(
          Window.partitionBy(graft.core.Windows.zeroKey(col("doc_id"))) // 100-row shortlist; warning-free
            .orderBy(col("score_fx").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("q_id"), col("embedding").cast("array<double>").as("q_emb"))
      val c = emb
        .select(col("vec_id").as("c_id"), col("embedding").cast("array<double>").as("c_emb"))
      val vshort = Similarity.bruteForceTopK(q, c, k = 100)
        .select(col("c_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq(bshort, vshort), "doc_id", kRrf = 60, k = 25)
        .orderBy(col("rrf_fx").desc, col("doc_id"))
    }),

    // Dedup-aware inverse-propensity weights: w = 1/|near-dup
    // cluster| per doc — duplicated content keeps one unit of total
    // sampling mass without dropping rows (the provenance-preserving
    // alternative to collapse).
    "q159_dedup_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      Curation.dedupWeights(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    // Pairwise source Jensen-Shannon divergence over smoothed word
    // distributions: the stylometric source-similarity matrix a
    // mixture design reads (near-zero = redundant sources). |S|·
    // postings fan-out, per-(pair, word) terms deduped and DECIMAL-
    // summed — the PSI discipline at pair grain.
    "q158_source_js" -> ((s, dir) => {
      Curation.sourceDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Johnson-Lindenstrauss projection onto 16 md5-derived ±1 planes:
    // the training-free dimensionality reduction beside PCA — the
    // projection matrix is re-derivable by ANY engine (the oracle
    // embeds the identical plane literals), map-side only.
    "q156_jl_project" -> ((s, dir) => {
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))
        .orderBy(col("vec_id"), col("j"))
    }),

    // Temperature mixture weights (τ = 1/2): per-source sampling
    // weight ∝ √n — sub-linear upsampling on the exact int64
    // floor(√n·1e6) grid (sqrt is correctly rounded everywhere; pow
    // is not — that's why τ is the sqrt point).
    "q157_temperature_mix" -> ((s, dir) => {
      Curation.temperatureWeights(t(s, dir, "documents"), "source")
        .orderBy(col("source"))
    }),

    // Near-dup graph structure report: per-doc degree + triangle
    // participation via degree-ordered orientation (each triangle
    // materializes once, wedge volume bounded by Σ out-deg² — the
    // power-law-safe triangle count). Dense triangle-rich families
    // are template clusters; high-degree low-triangle docs are hubs.
    "q155_triangle_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      graft.core.Graph.triangleStats(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("doc_a"), col("doc_b")))
        .select(col("id").as("doc_id"), col("degree"), col("triangles"))
        .orderBy(col("doc_id"))
    }),

    // Personalized PageRank (random walk with restart): teleport and
    // dangling mass return only to the 5 seed docs, so rank measures
    // proximity to the seeds over the near-dup graph — the "related
    // documents" explorer. Same int64 discipline, round shape (one
    // shuffle and one job per round) and unrolled-CTE oracle as q141.
    "q153_ppr_related" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted: the symmetrized edge union references the pair
      // pipeline twice — measured without the cache, q141's shuffle
      // read rose 6050 → 7705 KB at sf0.1 and its sf1 wall by 0.7-1.7 s
      val pairs = persist(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5))
      val edges = graft.core.Graph.symmetric(pairs)
      graft.core.Graph.pageRankPersonalized(
        docs.select(col("doc_id").as("id")), edges,
        docs.filter(col("doc_id") < 5).select(col("doc_id").as("id")), iters = 5)
        .select(col("id").as("doc_id"), col("rank_fx"), col("rank").as("pr"))
        .orderBy(col("doc_id"))
    }),

    // Clamped label propagation: even docs carry their lang as a seed
    // label, 3 majority-vote rounds spread it across the near-dup
    // graph (tie → smallest label) — weak-supervision label expansion
    // for partially-annotated corpora. Co-partitioned rounds (core.Graph)
    // of one vote shuffle and one job each; the oracle replays all 3.
    "q154_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted: the symmetrized edge union references the pair
      // pipeline twice — measured without the cache, q141's shuffle
      // read rose 6050 → 7705 KB at sf0.1 and its sf1 wall by 0.7-1.7 s
      val pairs = persist(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5))
      val edges = graft.core.Graph.symmetric(pairs)
      val labels = docs.select(col("doc_id").as("id"),
        when(col("doc_id") % 2 === 0, col("lang")).as("lab"))
      graft.core.Graph.labelPropagation(labels, edges, iters = 3)
        .select(col("id").as("doc_id"), col("lab"))
        .orderBy(col("doc_id"))
    }),

    // Chunk→document embedding pooling: group chunk vectors (4 per
    // doc by id), per-dimension integer-grid mean, then L2-normalize
    // the pooled vector — the aggregation every long-doc embedding
    // pipeline runs between the encoder and the index. One (group,
    // dim) aggregate + one group-sized norm join; all arithmetic on
    // the exact int64 grid until the final normalized division.
    "q178_embed_pool" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(expr("vec_id div 4").as("g"),
          posexplode(col("embedding")).as(Seq("j", "v")))
        .select(col("g"), col("j").cast("long").as("j"),
          floor(col("v").cast("double") * lit(1e6) + lit(0.5))
            .cast("long").as("fx"))
      val pooled = e.groupBy(col("g"), col("j"))
        .agg(count(lit(1)).as("n"), sum(col("fx")).as("sfx"))
        .select(col("g"), col("j"), expr("sfx div n").as("pfx"))
      val norms = pooled.groupBy(col("g"))
        .agg(sum(col("pfx") * col("pfx")).as("n2"))
      pooled.join(norms, "g")
        .select(col("g"), col("j"), col("pfx"),
          (floor(col("pfx") / sqrt(col("n2")) * lit(1e6)) / lit(1e6))
            .as("pooled_norm"))
        .orderBy(col("g"), col("j"))
    }),

    // ANN recall scorecard: IVF at nprobe=2 measured against the
    // exact brute-force top-10 per query — the recall/latency frontier
    // read before an index config ships (fewer probes = fewer list
    // scans = lower recall; q177's discipline applied to the
    // embedding plane).
    "q179_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      val exact = Similarity.bruteForceTopK(queries, corpus, k = 10)
        .select(col("q_id"), col("c_id"), lit(1L).as("__e"))
      val approx = Similarity.ivfTopK(queries, corpus, k = 10,
        nlist = 16, nprobe = 2)
        .select(col("q_id"), col("c_id"), lit(1L).as("__a"))
      exact.join(approx, Seq("q_id", "c_id"), "full_outer")
        .groupBy(col("q_id"))
        .agg(
          sum(coalesce(col("__e"), lit(0L))).as("n_exact"),
          sum(coalesce(col("__a"), lit(0L))).as("n_approx"),
          sum(when(col("__e").isNotNull && col("__a").isNotNull, 1L)
            .otherwise(0L)).as("n_common"))
        .select(col("q_id"), col("n_exact"), col("n_approx"), col("n_common"),
          (expr("(n_common * 1000000L) div n_exact")
            .cast("double") / lit(1e6)).as("recall"))
        .orderBy(col("q_id"))
    }),

    // Sketch-quality scorecard: SimHash at hamming<=2 evaluated
    // against the exact Jaccard tau=0.5 truth — TP/FP/FN + precision/
    // recall in one row. The eval every sketch config passes before
    // it gates a real dedup run (here: the tighter hamming radius
    // trades recall for candidate volume; precision stays 1.0 because
    // candidates are exact-verified).
    "q177_sketch_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val truth = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
        .select(col("doc_a"), col("doc_b"))
      val pred = Dedup.simhashPairs(docs, "doc_id", "text",
        n = 3, maxHamming = 2, tau = 0.5)
        .select(col("doc_a"), col("doc_b"))
      Dedup.pairsEval(pred, truth)
    }),

    // Padding-waste report: docs length-bucketed by power-of-two
    // token count (the bucketed-batching layout) — per bucket, real
    // tokens vs padded-to-bucket-top slots and the waste ratio, plus
    // what naive pad-to-global-max would cost. The table that says
    // whether length-bucketing is worth its shuffle. Map-side bucket
    // key, one aggregate, 1-row broadcast for the global max.
    "q175_padding_waste" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
        // bucket top = next power of two (ceil): 2^ceil(log2(n))
        .withColumn("btop",
          expr("CAST(power(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT)"))
      val mx = d.agg(max(col("n_tok")).as("gmax"))
      d.crossJoin(broadcast(mx))
        .groupBy(col("btop"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("real_tokens"),
          sum(col("gmax")).as("padded_global"))
        .select(col("btop"), col("n_docs"), col("real_tokens"),
          (col("btop") * col("n_docs")).as("padded_bucketed"),
          col("padded_global"),
          (expr("((btop * n_docs - real_tokens) * 1000000L) div (btop * n_docs)")
            .cast("double") / lit(1e6)).as("waste_bucketed"),
          (expr("((padded_global - real_tokens) * 1000000L) div padded_global")
            .cast("double") / lit(1e6)).as("waste_global"))
        .orderBy(col("btop"))
    }),

    // Inter-arrival burstiness per user: exact DECIMAL gap moments
    // (micros), burstiness B = (σ−μ)/(σ+μ) (Goh & Barabási) on the
    // 1e-6 grid — Poisson ≈ 0, heavy-tailed bursts → 1, clockwork →
    // −1: the traffic-shape feature for bot/batch-source detection.
    // One per-user lag window + one aggregate.
    "q176_burstiness" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .filter(col("gap").isNotNull)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap").cast("decimal(38,0)")).as("__s"),
          // square AFTER the decimal cast: micro-gaps square past
          // int64, and Spark's non-ANSI long multiply wraps SILENTLY
          sum(col("gap").cast("decimal(38,0)")
            * col("gap").cast("decimal(38,0)")).as("__ss"))
        .select(col("user_id"), col("n_gaps"),
          col("__s").cast("double").as("__sd"),
          col("__ss").cast("double").as("__ssd"))
        .select(col("user_id"), col("n_gaps"),
          (floor(col("__sd") / col("n_gaps") * lit(1e6)) / lit(1e6)).as("mean_gap_us"),
          // B = (σ−μ)/(σ+μ), σ = sqrt(max(E[x²]−μ², 0)) — exact
          // moments in, one double expression out, floored to the
          // grid; greatest(...,0) kills the −ε a rounding of a
          // zero-variance user would feed sqrt; all-zero gaps (σ=μ=0)
          // report 0 by convention
          (when(col("__ssd") > 0, floor(
            (sqrt(greatest(col("__ssd") / col("n_gaps")
              - (col("__sd") / col("n_gaps")) * (col("__sd") / col("n_gaps")),
              lit(0.0)))
              - col("__sd") / col("n_gaps")) /
            (sqrt(greatest(col("__ssd") / col("n_gaps")
              - (col("__sd") / col("n_gaps")) * (col("__sd") / col("n_gaps")),
              lit(0.0)))
              + col("__sd") / col("n_gaps")) * lit(1e6)) / lit(1e6))
            .otherwise(lit(0.0)))
            .as("burstiness"))
        .orderBy(col("user_id"))
    }),

    // Curriculum-balanced sharding: docs globally ordered by
    // difficulty (quality score), shard = rank mod 8 — round-robin
    // over the sorted order, so EVERY shard spans the whole
    // difficulty distribution (a range-split would give shard 0 all
    // the easy docs). Output is the per-shard balance report; the
    // ranking is the partition-parallel exact numbering, not a
    // single-task window.
    "q171_curriculum_shards" -> ((s, dir) => {
      // persisted: the exact global numbering makes three passes and
      // its bucket fold references `quality` once per boundary — the
      // cache evaluates the quality-score pipeline once per row
      // instead of ~35 times (the q167 inlining hazard)
      val scored = persist(t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality")))
      val (ranked, _) = graft.core.GlobalRanks.withGlobalRowNumber(
        scored, col("quality"), descending = false,
        tieBreak = Seq(col("doc_id")), out = "rn")
      ranked
        .withColumn("shard", expr("(rn - 1) % 8"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n"),
          min(col("quality")).as("q_min"),
          max(col("quality")).as("q_max"),
          (floor(sum(col("quality").cast("decimal(18,6)")).cast("double")
            / count(lit(1)) * lit(1e6)) / lit(1e6)).as("q_mean"))
        .orderBy(col("shard"))
    }),

    // Record linkage (Fellegi–Sunter shape): documents vs a
    // deterministically perturbed copy (every 3rd doc, last word
    // dropped, shifted ids) — multi-pass blocking (lang+leading
    // words, source+length bucket: each pass survives a different
    // noise kind), then integer agreement weights over exact
    // comparators (cross-multiplied Jaccard/length ratios — no
    // floats) and a threshold decision.
    "q170_record_linkage" -> ((s, dir) =>
      linkageFrame(t(s, dir, "documents"))
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup-adjusted effective dataset size: per source, raw tokens
    // vs tokens weighted by q159's inverse-cluster-size weights — the
    // honest "how much data do I actually have" number a mixture
    // design should use instead of raw counts (a source that is 90%
    // internal near-dups contributes its cluster count, not its row
    // count). Weight arithmetic on the exact int64 token grid.
    "q190_effective_size" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      val weights = Curation.dedupWeights(docs, "doc_id", pairs)
        .select(col("doc_id"), col("cluster_size"))
      docs
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
        .join(weights, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("raw_tokens"),
          // Σ (tok·1e6 div size) on the int64 grid, then one grid cut
          sum(expr("(n_tok * 1000000L) div cluster_size")).as("__eff_fx"))
        .select(col("source"), col("n_docs"), col("raw_tokens"),
          (expr("__eff_fx div 1000000L")).as("effective_tokens"))
        .orderBy(col("source"))
    }),

    // Semantic (embedding-space) decontamination: eval-set embeddings
    // (vec_id < 10, the benchmark) probed against the corpus
    // (vec_id >= 10) — a corpus doc within tau cosine of ANY probe is
    // contaminated even when no 13-gram survives a paraphrase (the gap
    // q52's lexical probe can't close). Probes broadcast; the corpus
    // never shuffles; only flagged candidates reach the argmax agg.
    "q191_semantic_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("p_id"), col("emb").as("p_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.semanticContamination(probes, corpus, tau = 0.40)
        .orderBy(col("c_id"))
    }),

    // Mutual-kNN graph: k-nearest edges kept only when BOTH endpoints
    // nominate each other — the density-clustering input that severs
    // hub/boilerplate shortcuts a plain kNN graph rides through.
    // Candidates come from the banded LSH equi-join (the scale path —
    // nothing quadratic is planned; the oracle replays the SAME bands
    // from the public md5 plane derivation, q48's pinned shape);
    // exact-candidate equality is spec-checked on separable data.
    "q192_mutual_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val cand = Similarity.cosinePairsLsh(emb, "vec_id", "emb", tau = 0.0,
        dim = 64, planesPerBand = 6, bands = 16)
      Similarity.mutualKnnGraph(emb, "vec_id", "emb", k = 3, tau = 0.0,
        candidates = Some(cand))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cross-source duplication origin: near-dup clusters spanning >1
    // doc, attributed to their origin (min doc id = the component
    // label, the deterministic first-ingested proxy) — per
    // (origin_source, dup_source): how many clusters and docs one
    // source re-hosts from another. The provenance report behind
    // "which mirror is inflating my corpus".
    "q193_dup_origin" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      val comp = Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      val labeled = comp.join(docs.select(col("doc_id"), col("source")), "doc_id")
      // one row per component; cluster-count-sized → broadcast side
      val origin = labeled.filter(col("doc_id") === col("component_id"))
        .select(col("component_id"), col("source").as("origin_source"))
      labeled.filter(col("doc_id") =!= col("component_id"))
        .join(broadcast(origin), "component_id")
        .groupBy(col("origin_source"), col("source").as("dup_source"))
        .agg(countDistinct(col("component_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("origin_source"), col("dup_source"))
    }),

    // Tokenizer fertility: tokens-per-word and chars-per-token per
    // source — the monitor that says when a tokenizer stops fitting a
    // corpus mix (fertility creeping up = more splits per word = fewer
    // effective tokens per compute dollar). Ratios on the exact int64
    // 1e-6 grid; one map-side-partial aggregate.
    "q194_tokenizer_fertility" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .select(col("source"),
          TextFunctions.tokenCountWs(txt).cast("long").as("n_ws"),
          TextFunctions.tokenCountBpe(txt).cast("long").as("n_bpe"),
          length(txt).cast("long").as("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_ws")).as("words"),
          sum(col("n_bpe")).as("tokens"),
          sum(col("n_chars")).as("chars"))
        .select(col("source"), col("n_docs"), col("words"), col("tokens"),
          col("chars"),
          (expr("(tokens * 1000000L) div words") / lit(1e6)).as("fertility"),
          (expr("(chars * 1000000L) div tokens") / lit(1e6)).as("chars_per_token"))
        .orderBy(col("source"))
    }),

    // Quality-signals bundle (RedPajama/Dolma-style tagger table): the
    // four standard gates — Gopher heuristics, blocklist, repetition,
    // composite quality — evaluated per doc in ONE pass (three
    // map-side; repetition is the one (doc, gram)-keyed aggregate),
    // rolled to per-source fail counts + the all-gates keep count. The
    // dataset-card page that says WHERE each source loses its mass.
    "q195_quality_signals" -> ((s, dir) => {
      val flags = graft.text.QualityGates.qualityFlags(
        t(s, dir, "documents"), "doc_id", "text",
        blocklist = Seq("window", "salt", "bloom"))
      def fails(c: org.apache.spark.sql.Column) =
        sum(when(!c, 1L).otherwise(0L))
      flags.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          fails(col("gopher_pass")).as("n_gopher_fail"),
          fails(col("block_pass")).as("n_block_fail"),
          fails(col("rep_pass")).as("n_rep_fail"),
          fails(col("qual_pass")).as("n_qual_fail"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .orderBy(col("source"))
    }),

    // Quantizer-health report: cell sizes, shares, and the
    // max-cell/mean-cell imbalance factor of the topic quantizer — the
    // straggler predictor for every cell-keyed pair join (semDedup,
    // IVF probes): imbalance k means the hottest cell carries k× the
    // average cell's quadratic pair work. Int64 1e-6 grid ratios.
    "q196_cluster_balance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val topics = Similarity.topicClusters(
        emb.select(col("vec_id").as("c_id"), col("emb").as("c_emb")), nlist = 8)
      val sizes = topics.groupBy(col("topic")).agg(count(lit(1)).as("n"))
      val tot = sizes.agg(sum(col("n")).as("total"), max(col("n")).as("nmax"))
      sizes.crossJoin(broadcast(tot))
        .select(col("topic"), col("n"),
          (expr("(n * 1000000L) div total") / lit(1e6)).as("share"),
          (expr("(nmax * 8 * 1000000L) div total") / lit(1e6)).as("imbalance"))
        .orderBy(col("topic"))
    }),

    // Embedding health check — the validation gate before vectors
    // reach an index: per label, dimension mismatches, non-finite and
    // zero norms (either poisons cosine), and the norm spread on the
    // int64 1e-6 grid (a collapsed norm distribution = a dead
    // encoder). Map-side norms, one aggregate.
    "q200_embedding_health" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      val nrm = Similarity.norm(col("emb"))
      val bad = isnan(nrm) || nrm === lit(Double.PositiveInfinity)
      // fx is NULL for non-finite norms: the grid cast would throw
      // under ANSI (and poison min/max/mean otherwise) on exactly the
      // rows this gate exists to count; aggregates skip NULLs in both
      // engines, so the spread describes the finite population
      val rows = emb.select(col("label"), size(col("emb")).as("d"),
        bad.as("bad"),
        when(bad, lit(null))
          .otherwise(floor(nrm * lit(1e6) + lit(0.5)).cast("long")).as("fx"))
      rows.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("d") =!= 64, 1L).otherwise(0L)).as("n_bad_dim"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("n_nonfinite"),
          sum(when(col("fx") === 0L, 1L).otherwise(0L)).as("n_zero"),
          min(col("fx")).as("__mn"), max(col("fx")).as("__mx"),
          sum(col("fx")).as("__s"), count(col("fx")).as("__c"))
        .select(col("label"), col("n"), col("n_bad_dim"),
          col("n_nonfinite"), col("n_zero"),
          (col("__mn") / lit(1e6)).as("min_norm"),
          (col("__mx") / lit(1e6)).as("max_norm"),
          (when(col("__c") === 0L, lit(null))
            .otherwise(expr("__s div __c")) / lit(1e6)).as("mean_norm"))
        .orderBy(col("label"))
    }),

    // Zipf slope per source: OLS of ln(freq) on ln(rank) over each
    // source's top-64 words — natural text sits near −1; templated or
    // machine-generated sources bend away (flat head = boilerplate,
    // steep = tiny effective vocabulary). Log points quantized to the
    // int64 1e-6 grid (q92/q149's fixed-ln discipline), moments summed
    // exactly, ONE final double slope expression — order- and
    // partition-free. Per-source rank window over the vocab-keyed
    // count table, never the corpus.
    "q199_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val words = t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val win = Window.partitionBy(col("source")).orderBy(col("c").desc, col("w"))
      val pts = words.withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 64)
        .select(col("source"),
          floor(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
          floor(log(col("c").cast("double")) * 1e6).cast("long").as("y"))
      pts.groupBy(col("source")).agg(
          count(lit(1)).as("k"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("source"), col("k"),
          // NULL for a degenerate source (one rank point → zero
          // x-variance): Spark's 0.0/0.0 is NaN where DuckDB's is
          // NULL, so the guard is what keeps the engines in agreement
          when(col("k") * col("sxx") - col("sx") * col("sx") === 0L, lit(null))
            .otherwise(round(
              (col("k") * col("sxy") - col("sx") * col("sy")).cast("double")
                / (col("k") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
            .as("slope"))
        .orderBy(col("source"))
    }),

    // Sorted-neighborhood blocking (merge/purge): the SAME linkage
    // scored over candidates from a rank-window on text LENGTH —
    // nothing has to match exactly, records only have to sort nearby;
    // the blocking paradigm that survives noise equality keys can't
    // (and q170's complement). Candidate volume O(n·window) via
    // partition-parallel numbering + bucket join, never quadratic.
    "q188_sorted_blocking" -> ((s, dir) => {
      val (left, right) = linkageSides(t(s, dir, "documents"))
      val cand = Linkage.sortedNeighborhoodCandidates(
        left, right, "id_a", "id_b",
        length(col("text_a")), length(col("text_b")), window = 8)
      Linkage.score(cand, left, right, "id_a", "id_b",
        linkageFeatures, threshold = 9L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Tokenizer-vocabulary coverage per source: share of token
    // OCCURRENCES covered by the global top-1024 vocabulary (count
    // desc, token asc — deterministic cut) — the OOV-rate monitor
    // that decides whether a tokenizer retrain is due for a new
    // source. One vocab rollup + one occurrence join; the vocab side
    // is top-k-sized.
    "q186_vocab_coverage" -> ((s, dir) => {
      val occ = t(s, dir, "documents")
        .select(col("source"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
      val vocab = occ.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(graft.core.Windows.zeroKey(col("w")))
        .orderBy(col("c").desc, col("w"))
      // top-1024 cut: vocab is corpus-vocab-sized; the rank window is
      // acceptable at that grain (vocab ≪ corpus) — at larger vocabs
      // swap in GlobalRanks. zeroKey partition = warning-free plan.
      val top = vocab.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 1024).select(col("w"), lit(1L).as("__in"))
      occ.join(top, Seq("w"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(coalesce(col("__in"), lit(0L))).as("n_covered"))
        .select(col("source"), col("n_tokens"), col("n_covered"),
          (expr("(n_covered * 1000000L) div n_tokens")
            .cast("double") / lit(1e6)).as("coverage"))
        .orderBy(col("source"))
    }),

    // Cross-source containment matrix: q142's asymmetric containment
    // pairs rolled up to (source of contained, source of container) —
    // which sources embed which others' content, and what share of
    // the contained source is affected. The dataset-provenance matrix
    // a mixture design checks before double-counting a re-hosted
    // corpus. Pair-volume joins + one matrix rollup.
    "q185_containment_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, tau = 0.8)
      val srcSizes = src.groupBy(col("source").as("source_contained"))
        .agg(count(lit(1)).as("n_source_docs"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("source_contained")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("source_container")), "doc_b")
        .groupBy(col("source_contained"), col("source_container"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_a")).as("n_docs_contained"))
        .join(broadcast(srcSizes), "source_contained")
        .withColumn("pct_contained",
          expr("(n_docs_contained * 1000000L) div n_source_docs")
            .cast("double") / lit(1e6))
        .select(col("source_contained"), col("source_container"),
          col("n_pairs"), col("n_docs_contained"), col("pct_contained"))
        .orderBy(col("source_contained"), col("source_container"))
    }),

    // Training-shard ROUND TRIP (the missing read half of q56/
    // writeTrainingShards): materialize the corpus as shard=N parquet
    // dirs, read it back, and verify the readback against the declared
    // corpus with q184's content fingerprint PLUS an order-sensitive
    // fingerprint (hash × 1-based replay position) — drops, dupes and
    // reorders all diverge. The oracle replays shard/shard_pos from
    // the md5 keys (q56's formula) and both fingerprints from text;
    // manifest_ok must come back true for every source.
    "q222_shard_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val path = CacheScope.stage("graft_shards")
      Curation.writeTrainingShards(docs, "doc_id", path, numShards = 8)
      Curation.verifyShardManifest(
        Curation.readTrainingShards(s, path), docs,
        "doc_id", "source", "text", numShards = 8)
        .orderBy(col("source"))
    }),

    // WebDataset-style TAR shard interchange (multimodal/TarShards):
    // the corpus round-trips through the container multimodal training
    // loaders consume — per-sample `<id>.json` + `<id>.bin` entries in
    // content-key-assigned, id-sorted, mtime-zeroed POSIX tars (pure
    // JVM ustar, byte-deterministic), streamed from executors and
    // parsed back where each shard lands. The oracle is the identity:
    // read-back == the documents table, column for column.
    "q228_tar_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("meta", to_json(struct(col("lang"), col("source"))))
      val path = CacheScope.stage("graft_tar") + "/wds"
      val summary = graft.multimodal.TarShards.write(
        docs, "doc_id", "payload", "meta", path, shards = 8)
      val written = summary.agg(sum(col("n_docs"))).collect()(0).getLong(0)
      require(written == docs.count(),
        s"tar shards dropped rows: wrote $written")
      graft.multimodal.TarShards.read(s, path)
        .select(col("id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"),
          get_json_object(col("meta"), "$.lang").as("lang"),
          get_json_object(col("meta"), "$.source").as("source"))
        .orderBy(col("doc_id"))
    }),

    // PER-GROUP weighted priority sample (Duffield–Lund–Thorup on the
    // content-keyed uniform): rank ascending by (hash+1)/w — one
    // int64→double conversion + one IEEE division, NO transcendental,
    // so the oracle replays every rank bit-for-bit (weightedSampleExact's
    // ln(u)/w needs the 6dp grid; this doesn't). Per-source exact-size
    // weighted samples in one pass; WindowGroupLimit caps the shuffle
    // at groups × k.
    "q232_priority_sample" -> ((s, dir) => {
      Curation.prioritySamplePerGroup(
          t(s, dir, "documents"), "doc_id", "source", col("n_chars"), k = 5)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    }),

    // ORC corpus interchange: the Hive-era columnar boundary — write
    // the corpus as ORC, read it back; footer-carried schema (no
    // inference pass), pushdown/pruning as on parquet. The oracle is
    // the identity over the documents table.
    "q233_orc_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = CacheScope.stage("graft_orc") + "/docs_orc"
      graft.curation.CorpusIo.writeOrc(docs, path)
      graft.curation.CorpusIo.readOrc(s, path)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Dataset version manifest: per source, a content-addressed
    // fingerprint (order-independent modular sum of per-doc content
    // hashes) + row/token/distinct counts — the reproducibility
    // record two dataset builds compare to prove they shipped the
    // same bytes, without ever diffing 100 TB. One aggregate; the
    // fingerprint is partitioning- and order-free by construction.
    "q184_version_manifest" -> ((s, dir) => {
      val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("source"), col("text"), h.as("h"),
          TextFunctions.tokenCountWs(col("text")).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("h")).as("n_distinct"),
          sum(col("h").cast("decimal(38,0)")).as("__fpsum"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_distinct"),
          expr("CAST(__fpsum % 2305843009213693951 AS LONG)").as("fingerprint"))
        .orderBy(col("source"))
    }),

    // Entity resolution end-to-end: q170's linkage matches become an
    // entity graph, connected components label every record (matched
    // or singleton) with its canonical entity, and a size rollup
    // reports the cluster profile — blocking → scoring → clustering,
    // the full ER pipeline.
    "q183_entity_resolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val matches = linkageFrame(docs).filter(col("is_match"))
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val comps = Dedup.connectedComponents(matches)
        .withColumnRenamed("doc_id", "node")
      val nodes = docs.select(col("doc_id").as("node"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("node")))
      val lab = nodes.join(comps, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("component_id"), col("node")).as("entity_id"))
      val sz = lab.groupBy(col("entity_id")).agg(count(lit(1)).as("n_records"))
      lab.join(sz, "entity_id")
        .select(col("node"), col("entity_id"), col("n_records"))
        .orderBy(col("node"))
    }),

    // Dup-match evidence: per near-dup pair, the 3 rarest shared
    // shingles (global df asc) — the audit view a reviewer reads
    // before a dedup decision deletes data. Pair-volume-bounded
    // joins, per-pair top-k window.
    "q168_dup_evidence" -> ((s, dir) => {
      Dedup.pairEvidence(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5, topK = 3)
        .orderBy(col("doc_a"), col("doc_b"), col("rnk"))
    }),

    // Classifier calibration report: q125's logistic-regression
    // scores cut into 10 EQUAL-FREQUENCY reliability bins (score
    // deciles — equal-width probability bins are useless when a
    // barely-trained classifier's scores cluster in a 0.001 band) —
    // per bin, mean predicted probability (confidence) vs empirical
    // positive rate (accuracy) and their gap: the ECE inputs and the
    // threshold-choice table. Partition-parallel exact ntile + one
    // bin-keyed aggregate; DECIMAL-exact confidence sums.
    "q167_calibration" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scores = graft.text.LogisticRegression.fitScore(
        docs, "doc_id", "text", col("lang") === "en",
        buckets = 64, iters = 5, lr = 0.25)
      // persisted: the exact-ntile ranking references `score` once per
      // bucket boundary (plus the counts pass and the window order),
      // and without the cache CollapseProject inlines the FULL
      // interpreted sigmoid pipeline into every reference — measured
      // 169 CPU-seconds in one 32-task stage at sf0.1. Materialized
      // once, the comparisons are codegen over a cached double.
      val lab = persist(scores
        .join(docs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("y")), "doc_id"))
      graft.core.GlobalRanks.ntileExact(lab, 10, col("score"),
        descending = false, tieBreak = Seq(col("doc_id")), out = "bin")
        .groupBy(col("bin"))
        .agg(
          count(lit(1)).as("n"),
          (floor(sum(col("score").cast("decimal(18,6)")).cast("double")
            / count(lit(1)) * lit(1e6)) / lit(1e6)).as("conf"),
          ((sum(col("y")) * lit(1000000L)).cast("long")).as("__accfx"))
        .select(col("bin").cast("long").as("bin"), col("n"), col("conf"),
          (expr("__accfx div n").cast("double") / lit(1e6)).as("acc"))
        .withColumn("gap", abs(col("conf") - col("acc")))
        .orderBy(col("bin"))
    }),

    // Quantile normalization of quality scores across sources: each
    // doc's score becomes the global order statistic at its within-
    // source quantile, so a single threshold means the same thing in
    // every source. Per-source rank window + partition-parallel
    // global numbering + one positional join — no global-window task.
    "q166_quantile_norm" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"))
      Curation.quantileNormalize(scored, "doc_id", "source", "quality")
        .orderBy(col("doc_id"))
    }),

    // Heaps'-law vocabulary growth: 20 corpus checkpoints in doc-id
    // order, cumulative token volume vs cumulative DISTINCT types at
    // each — the curve that says whether more data still buys new
    // vocabulary. Distinct growth comes from each type's FIRST-
    // occurrence doc (one aggregate), never from re-counting distinct
    // per prefix (which would be 20 corpus scans); the checkpoint cut
    // is the partition-parallel exact ntile; the only window runs
    // over 20 rows.
    "q165_vocab_growth" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("__t"))
        .select(col("doc_id"), size(col("__t")).cast("long").as("dl"), col("__t"))
      val bucketed = graft.core.GlobalRanks.ntileExact(
        d, 20, col("doc_id"), descending = false,
        tieBreak = Seq.empty, out = "b")
      val toksPerB = bucketed.groupBy(col("b"))
        .agg(sum(col("dl")).as("tk"))
      val firsts = bucketed
        .select(col("doc_id"), explode(col("__t")).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd"))
      val newTypes = firsts
        .join(bucketed.select(col("doc_id").as("fd"), col("b")), "fd")
        .groupBy(col("b")).agg(count(lit(1)).as("nt"))
      // 20-row frame: the unpartitioned running-sum window is bounded
      // by the checkpoint count, not the corpus
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(graft.core.Windows.zeroKey(col("b")))
        .orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toksPerB.join(newTypes, Seq("b"), "left")
        .select(col("b").cast("long").as("bucket"),
          sum(col("tk")).over(w).as("cum_tokens"),
          sum(coalesce(col("nt"), lit(0L))).over(w).as("cum_types"))
        .orderBy(col("bucket"))
    }),

    // Distribution-level lexical statistics per doc: char entropy
    // (nats, int64 fixed-point term sums), type-token ratio, hapax
    // ratio — the richness/noise features scalar passes can't
    // produce. Two explode→count chains, no windows.
    "q164_lexical_stats" -> ((s, dir) => {
      graft.text.Lexical.lexicalStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Retrieval-quality evaluation: 5 BM25 queries in ONE corpus pass
    // (term-filtered posting + broadcast (query, term) fan-out), then
    // nDCG@10 / MRR@10 / recall@10 per query against a graded truth
    // (rel = distinct query terms present, kept at >= 2) — the eval
    // loop every index/embedding change ships through. DCG items are
    // int64 fixed-point (the BM25 discipline), metric ratios are
    // exact integer divisions onto the 1e-6 grid.
    "q163_retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qs = EvalQueries
      val runs = Search.bm25Runs(docs, "doc_id", "text", qs, k = 10)
      val terms = qs.flatMap { case (q, ts) => ts.map(tm => (q, tm)) }
        .toDF("query_id", "term")
      val truth = docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextFunctions.tokenSet(col("text"))).as("term"))
        .join(broadcast(terms), "term")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("rel"))
        .filter(col("rel") >= 2)
      Search.evalRanking(runs, truth, "doc_id", k = 10)
        .orderBy(col("query_id"))
    }),

    // Coreness (k-core number) of every doc in the near-dup graph by
    // H-index iteration — the density-peeling view the degree/triangle
    // report (q155) can't give: high-coreness docs sit inside dense
    // template families even when their own degree is modest. 8 fixed
    // rounds (idempotent past convergence; the oracle replays the
    // identical 8), co-partitioned (core.Graph): one shuffle of neighbor
    // values and one job per round, the H-index taken per node locally.
    "q161_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // persisted: the symmetrized edge union references the pair
      // pipeline twice — measured without the cache, q141's shuffle
      // read rose 6050 → 7705 KB at sf0.1 and its sf1 wall by 0.7-1.7 s
      val pairs = persist(Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5))
      val edges = graft.core.Graph.symmetric(pairs)
      graft.core.Graph.coreness(
        docs.select(col("doc_id").as("id")), edges, iters = 8)
        .select(col("id").as("doc_id"), col("coreness"))
        .orderBy(col("doc_id"))
    }),

    // Asymmetric containment pairs (|A∩B|/|A| >= 0.8, ordered): the
    // subset/quotation detector — prefix filter on the CONTAINED side
    // only, full postings on the containing side, exact merge-
    // intersect verify. Finds embedded-document relations that
    // symmetric Jaccard at the same threshold misses.
    "q142_containment_pairs" -> ((s, dir) => {
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Corpus snapshot diff (the versioned-release changelog): docs vs
    // a deterministic "next version" — every 7th doc edited, every
    // 11th removed, every 13th re-added under a new id — classified
    // added/removed/changed/unchanged by content hash.
    "q139_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Curation.corpusDiff(docs, next, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // EXACT-size weighted sample without replacement (Efraimidis-
    // Spirakis A-ES on the content-keyed uniform): rank by
    // round(ln(u)/w, 6) desc, id tiebreak, top-k. Size is exact,
    // longer docs (weight = token count) are proportionally likelier;
    // map-only keys + TakeOrderedAndProject (per-partition heaps).
    "q137_weighted_sample" -> ((s, dir) => {
      Curation.weightedSampleExact(t(s, dir, "documents"), "doc_id",
        TextFunctions.tokenCountWs(col("text")).cast("double"), k = 100)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Per-source distinct-shingle counts via the KMV sketch in its
    // exact regime — the grouped COUNT(DISTINCT) that at 100 TB ships
    // k longs per group instead of the distinct pairs.
    "q138_distinct_kmv" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(size(graft.functions.AggregateFunctions.kmvMinima(col("sh"), 16384))
          .cast("long").as("n_distinct"))
        .orderBy(col("source"))
    }),

    // q138's KMV in its LOSSY regime: k = 256 is far below the
    // per-source distinct-shingle domain, so the sketch saturates and
    // the answer is the (k-1)/u_k ESTIMATE, not the exact count — and
    // the ORACLE REPLAYS THE SKETCH ALGORITHM ITSELF (md5-derived
    // hashes → per-source k-th smallest → the engine's own estimator
    // arithmetic, operation for operation), exercising the lossy path
    // bit-for-bit rather than sizing capacity over the domain. The
    // estimator call IS the engine's (KmvSketchAgg.estimateDistinct),
    // floored to an integer so the compare is grid-exact.
    "q219_kmv_estimate" -> ((s, dir) => {
      val k = 256
      val est = udf((arr: Seq[Long]) =>
        graft.functions.KmvSketchAgg.estimateDistinct(arr.toArray, k))
      t(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.shingles(col("text"), 3)).as("sh"))
        .groupBy(col("source"))
        .agg(graft.functions.AggregateFunctions.kmvMinima(col("sh"), k).as("sk"))
        .select(col("source"),
          size(col("sk")).cast("long").as("n_minima"),
          floor(est(col("sk"))).cast("long").as("est_floor"))
        .orderBy(col("source"))
    }),

    // Population-stability drift report: PSI of the quality
    // distribution between two snapshot halves per source — the gate
    // a continuously-ingesting pipeline runs before trusting a new
    // crawl batch. One count aggregate + broadcast spine; PSI terms
    // 6dp-rounded and DECIMAL-summed (order-free).
    "q133_psi_drift" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("source"),
        when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b")).as("side"),
        least(floor(TextFunctions.qualityScore(col("text")) * 10).cast("int"),
          lit(9)).as("bucket"))
      Curation.populationStability(scored, "source", "side", "bucket", 10)
        .orderBy(col("source"))
    }),

    // HTML → text extraction (the crawl-to-corpus stage): docs wrapped
    // in a deterministic page shell — script/style/comments/tags/
    // entities — and run through the map-only codegen'd strip chain;
    // the oracle replays the identical Java∩RE2 chain.
    "q134_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><script type=\"text/javascript\">var n = 1 < 2 && 3 > 2;</script>" +
          "<style>.nav{display:none}</style></head><body><!-- boilerplate -->" +
          "<div class=\"nav\">Home &amp;&nbsp;Index</div><p>"),
        col("text"),
        lit("</p><p>&quot;quoted&#39; &lt;tag&gt;</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.extractHtmlText(html).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // Hard-negative mining (contrastive-training pair selection): per
    // anchor, the 5 most-similar vectors with a DIFFERENT label,
    // candidates bounded by LSH bucket co-residency — the corpus-
    // scale path IS the gated query (the oracle replays the md5
    // hyperplane buckets, as q28 does); the exact quadratic form is
    // the spec-checked baseline (SimilaritySpec, planes=0 equality).
    "q132_hard_negatives" -> ((s, dir) => {
      Similarity.hardNegativesLsh(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 5, planes = 3)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Distributed PCA, stage 1 (the oracle-checkable half): exact
    // integer covariance moments of the embedding corpus — ONE
    // mapPartitions pass accumulates d×d Longs locally, d² tiny rows
    // per partition reduce globally, covariance is a single double
    // division of exact numerators. The eigensolve + projection on
    // top are driver-side d×d work (PcaSpec).
    "q131_embed_cov" -> ((s, dir) => {
      Pca.covarianceMatrix(t(s, dir, "embeddings"), "embedding")
        .orderBy(col("i"), col("j"))
    }),

    "q110_heavy_hitters" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .agg(graft.functions.AggregateFunctions.heavyHitters(col("tok"), 64).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("e.token").as("token"), col("e.c").as("c"))
        .orderBy(col("rank"))
    }),

    // CCNet perplexity-stratified resample: q74's scoring + buckets,
    // then per-bucket hash-keyed keep rates — zero extra shuffles.
    "q109_ppl_resample" -> ((s, dir) => {
      Curation.perplexityResample(t(s, dir, "documents"), "doc_id", "text",
        headBelow = 3.40, middleBelow = 3.41,
        headRate = 1.0, middleRate = 0.5, tailRate = 0.1)
        .orderBy(col("doc_id"))
    }),

    // Fuzzy entity matching: supplier names within edit distance 1 —
    // deletion-neighborhood candidates (exact, FastSS), hash-keyed
    // join, levenshtein verify.
    "q108_fuzzy_match" -> ((s, dir) => {
      Dedup.editDistancePairs(t(s, dir, "supplier"), "s_suppkey", "s_name")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Full dedup-cluster resolution: near-dup pairs → connected
    // components (hash-min + pointer jumping, exact at any diameter —
    // the collapse operators' greedy min-keeper is diameter<=2).
    "q107_dedup_components" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5)
      Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
        .orderBy(col("doc_id"))
    }),

    // Incremental connected components: the q107 pair set split into a
    // standing half (hash-even pairs) and an admitted batch (the rest);
    // the batch folds into the standing labeling through the contracted
    // batch-sized CC + broadcast relabel — and the result must equal
    // the full recompute, so q107's recursive-CTE oracle gates it
    // unchanged.
    "q123_components_incremental" -> ((s, dir) => {
      // persisted: the standing/batch split filters the pair pipeline
      // twice — one candidate-join + verify instead of two
      val pairs = persist(
        Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 3, tau = 0.5).select(col("doc_a"), col("doc_b")))
      val split = pmod(xxhash64(col("doc_a"), col("doc_b")), lit(2))
      val standing = Dedup.connectedComponents(pairs.filter(split === 0))
      Dedup.connectedComponentsIncremental(standing, pairs.filter(split === 1))
        .orderBy(col("doc_id"))
    }),

    // URL canonicalization + host-level caps: messy synthetic URLs
    // (case, www, default ports, tracking params, fragments, trailing
    // slashes) canonicalize map-side, then capPerGroup keys on the
    // canonical host — the per-site budget of a web-corpus pipeline.
    "q106_url_host_cap" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(
          element_at(array(lit("https://WWW.Example.COM"), lit("http://example.com:80"),
            lit("https://News.Site.org"), lit("https://blog.hub.net")),
            (col("doc_id") % 4 + 1).cast("int")),
          lit("/Page/"), (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(lit("?utm_source=feed&utm_medium=rss&id="), col("doc_id")))
            .when(col("doc_id") % 3 === 2,
              concat(lit("?id="), col("doc_id"), lit("&fbclid=XYZ")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit(""))).as("url"))
      val canon = urls.select(col("doc_id"),
          TextFunctions.canonicalizeUrl(col("url")).as("canon_url"))
        .withColumn("host", TextFunctions.urlHost(col("canon_url")))
      Curation.capPerGroup(canon, "doc_id", "host", cap = 50)
        .orderBy(col("doc_id"))
    }),

    // Topic clustering + cluster-proportional mixing: md5-seeded
    // cosine clusters labeled t1..t4, then the mixCorpus budget
    // arithmetic keyed on the TOPIC instead of a source column — the
    // domain-balancing step past source-level mixing.
    "q105_topic_mix" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val topics = Similarity.topicClusters(
        emb.select(col("vec_id").as("c_id"), col("emb").as("c_emb")), nlist = 4)
      Curation.mixCorpus(
        topics.select(col("c_id").as("vec_id"), col("topic")),
        "vec_id", "topic",
        Map("t1" -> 0.4, "t2" -> 0.3, "t3" -> 0.2, "t4" -> 0.1))
        .select(col("vec_id"), col("topic"))
        .orderBy(col("vec_id"))
    }),

    // Perceptual media fingerprint dedup: pHash-style histogram-mean
    // bit signature per payload, one fingerprint-keyed collapse — no
    // pair join. Byte-identical and near-identical payloads share fp.
    // Perceptual NEAR-dup media pairs: pHash hamming <= 3 via the
    // pigeonhole piece-banded join (recall exactly 1 at the predicate,
    // like q25's SimHash argument) + exact popcount verify; the oracle
    // replays the raster fingerprints and evaluates the predicate
    // quadratically.
    "q126_phash_neardup" -> ((s, dir) => {
      val media = Multimodal.synthesizeGrayImages(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.phashNearDupPairs(Multimodal.mediaFingerprints(s, media), maxHamming = 3)
        .orderBy(col("media_a"), col("media_b"))
    }),

    // REAL WAV audio metadata: every doc as an actual RIFF/WAV file
    // (PCM samples = text bytes) decoded by the JDK's own
    // javax.sound.sampled — sample rate, frame count, and the exact
    // decoded-sample sum are read back from real PCM, and the oracle
    // re-derives them from the source bytes (WAV is lossless).
    "q127_audio_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeWavAudio(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaMetaTable(s, media)
        .select(col("media_id"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_frames"), col("n_samples"), col("px_sum").as("sample_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL audio energy-band fingerprint (the acoustic slot of the
    // perceptual-hash family): 64 equal-share time windows over the
    // DECODED waveform, bit w = window energy at/above the per-window
    // mean — exact integer compares end-to-end, so the oracle replays
    // every bit from the text bytes.
    "q128_audio_fp" -> ((s, dir) => {
      val media = Multimodal.synthesizeWavAudio(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaFingerprints(s, media).orderBy(col("media_id"))
    }),

    // REAL Y4M video metadata: every doc as an actual uncompressed
    // YUV4MPEG2 clip (mono luma = text bytes zero-padded to whole
    // w×h frames) decoded by graft's own container parser — dims,
    // frame count, and the exact decoded-luma sum are read back from
    // real frames, and the oracle re-derives them from (doc_id, text)
    // alone (mono Y4M is lossless). Closes the last stubbed modality.
    "q201_video_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4mVideo(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaMetaTable(s, media)
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_samples"), col("px_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL video temporal fingerprint (the video slot of the
    // perceptual-hash family): 64 equal-share windows over the
    // DECODED luma sequence (padding zeros shift window boundaries
    // but add no energy), bit w = window energy at/above the mean —
    // exact integer compares end-to-end, so the oracle replays every
    // bit from the text bytes and the padded length.
    "q202_video_fp" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4mVideo(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaFingerprints(s, media).orderBy(col("media_id"))
    }),

    // REAL video frame sampling + spatial resize: every 2nd decoded
    // frame, each resized 4x4 by exact nearest-neighbour — counts
    // read back from the produced rasters (frames sampled =
    // ceil(n_frames/2), samples = 16 per sampled frame), oracle
    // re-derives both from the frame geometry.
    "q203_video_frames" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4mVideo(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaTransformTable(s, media, width = 4, height = 4, stride = 2)
        .orderBy(col("media_id"))
    }),

    // REAL AVI video metadata (container #2): every doc as an actual
    // RIFF/AVI whose frames are 24-bpp DIB rasters of the text bytes
    // (same geometry as q201's Y4M). DIB is lossless, so the decoded
    // facts re-derive from (doc_id, text) alone and the oracle is
    // q201's formula verbatim — one oracle, two honestly-parsed
    // containers.
    "q217_avi_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeAviVideo(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaMetaTable(s, media)
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_samples"), col("px_sum"))
        .orderBy(col("media_id"))
    }),

    // REAL Motion-JPEG decode: every doc as an AVI whose frames are
    // complete baseline JPEGs (ImageIO-encoded AND ImageIO-decoded —
    // the genuinely lossy codec path VERDICT r10 asked for). Geometry
    // facts (dims, frame count, decoded sample count) are exact
    // functions of (doc_id, len(text)) and oracle-replay; pixel sums
    // are decoder-defined (as for any real MJPEG asset) and are
    // deliberately not emitted — MultimodalSpec pins them to the
    // in-JVM decode instead.
    "q218_mjpeg_meta" -> ((s, dir) => {
      val media = Multimodal.synthesizeAviVideo(
        t(s, dir, "documents"), "doc_id", "text", mjpeg = true)
      Multimodal.mediaMetaTable(s, media)
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_samples"))
        .orderBy(col("media_id"))
    }),

    // q202's temporal energy fingerprint over the AVI/DIB container:
    // decode walks RIFF chunks + bottom-up BGR rows instead of Y4M
    // FRAME markers, then the identical integer-exact envelope bits —
    // same oracle, proving the two container parsers agree
    // sample-for-sample.
    "q220_avi_fp" -> ((s, dir) => {
      val media = Multimodal.synthesizeAviVideo(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaFingerprints(s, media).orderBy(col("media_id"))
    }),

    // DECODABILITY REPORT — the honesty ledger for the documented
    // compressed-media stub: a mixed fixture (real Y4M, AVI/DIB,
    // AVI/MJPEG, WAV, PNG, plus raw-text payloads standing in for the
    // H.264/VP9-class blobs no pure-JVM decoder exists for) classified
    // by magic-byte container and by whether the SAME tryDecode gates
    // every call site uses actually decoded it. A corpus owner reads
    // exactly what the stub skips. Empty texts are filtered — every
    // remaining row's decodability is a pure function of its id gate,
    // which is what the oracle replays.
    "q252_decodability" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
      def shifted(off: Long) = docs
        .select((col("doc_id") + off).as("doc_id"), col("text"))
      val media = Multimodal.synthesizeY4mVideo(docs, "doc_id", "text")
        .unionByName(Multimodal.synthesizeAviVideo(
          shifted(1000000L), "doc_id", "text"))
        .unionByName(Multimodal.synthesizeAviVideo(
          shifted(2000000L), "doc_id", "text", mjpeg = true))
        .unionByName(Multimodal.synthesizeWavAudio(
          shifted(3000000L), "doc_id", "text"))
        .unionByName(Multimodal.synthesizeGrayImages(
          shifted(4000000L), "doc_id", "text"))
        .unionByName(Multimodal.synthesizeFromText(
          shifted(5000000L), "doc_id", "text"))
      Multimodal.decodabilityReport(s, media)
        .select(col("kind"), col("container"), col("decoded"), col("n"))
        .orderBy(col("kind"), col("container"), col("decoded"))
    }),

    // Audio NEAR-dup pairs: the acoustic twin of q126 — energy
    // fingerprints through the generic 64-bit hamming banding
    // (pigeonhole pieces, popcount verify). The corpus is every doc
    // PLUS a mildly perturbed variant (first sample +1 — a touch of
    // noise, same clip), so each original must recover its variant a
    // few bits apart, not zero; the oracle replays the perturbation.
    "q136_audio_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val variants = docs.filter(length(col("text")) > 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(char(ascii(substring(col("text"), 1, 1)) + 1),
            substring(col("text"), 2, 1000000)).as("text"))
      val media = Multimodal.synthesizeWavAudio(
        docs.unionByName(variants), "doc_id", "text")
      Multimodal.phashNearDupPairs(Multimodal.mediaFingerprints(s, media),
        maxHamming = 6)
        .orderBy(col("media_a"), col("media_b"))
    }),

    "q104_media_phash" -> ((s, dir) => {
      // every doc as a REAL gray PNG; fp = the pixel-grid pHash read
      // off the DECODED raster (8×8 cell-mean bits, integer-exact) —
      // identical texts produce identical rasters, so exact dups
      // collapse and the oracle replays the bits from the bytes.
      val media = Multimodal.synthesizeGrayImages(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.collapseByFingerprint(Multimodal.mediaFingerprints(s, media))
        .orderBy(col("survivor_id"))
    }),

    // Interpolated bigram LM scoring (the CCNet/KenLM filter one order
    // up from unigram q74): map-side bigram pairs, vocab-keyed model,
    // DECIMAL log sums.
    "q103_bigram_xent" -> ((s, dir) => {
      Curation.bigramCrossEntropyScores(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Paragraph-granularity dedup (the RefinedWeb boilerplate unit):
    // dedupLines with sep="\n\n" — a repeated MULTI-LINE footer
    // paragraph cuts as one unit. Same one-exchange md5-keyed shape
    // as q67, coarser granularity.
    "q102_paragraph_dedup" -> ((s, dir) => {
      val input = concat_ws("\n\n",
        concat(lit("intro "), col("doc_id")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("legal footer line\nall rights reserved"))
          .otherwise(concat(lit("tail "), col("doc_id"))))
      val para = t(s, dir, "documents").select(col("doc_id"), input.as("text"))
      Dedup.dedupLines(para, "doc_id", "text", minDocs = 2, sep = "\n\n")
        .orderBy(col("doc_id"))
    }),

    // Token-budget data mixing: q65's mixture recomputed over token
    // mass — sources contribute the target share of TOKENS, budget
    // capped by the scarcest source in token space.
    "q68_token_mix" -> ((s, dir) => {
      Curation.mixCorpusBy(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        TextFunctions.tokenCountWs(col("text")).cast("long"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Per-source document cap (Gopher-style domain gate): keep exactly
    // the 5 smallest-hash-key docs of every source (id tiebreak);
    // map-side WindowGroupLimit bounds what crosses the shuffle.
    "q69_source_cap" -> ((s, dir) => {
      Curation.capPerGroup(t(s, dir, "documents"), "doc_id", "source", cap = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // C4-style blocklist gate: drop every document containing any
    // listed word — one codegen'd map-only filter, no shuffle.
    "q75_blocklist" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(!TextFunctions.containsBlocklisted(col("text"),
          Seq("window", "salt", "bloom")))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style LM quality scoring: per-doc unigram cross-entropy
    // under the corpus' own model, bucketed head/middle/tail by fixed
    // cutoffs — the perplexity-filter stage.
    "q74_lm_xent" -> ((s, dir) => {
      Curation.crossEntropyScores(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("bucket",
          Curation.perplexityBucket(col("xent"), headBelow = 3.40, middleBelow = 3.41))
        .orderBy(col("doc_id"))
    }),

    // Quality-aware cluster collapse: q45's near-dup edges, but every
    // doc maps to its best neighbor by (n_chars desc, id asc) — keep
    // the longest duplicate, the survivor policy production dedup
    // wants. Chains resolve to the best reachable doc.
    "q73_quality_collapse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      val scores = docs.select(col("doc_id"), col("n_chars").cast("long").as("score"))
      Dedup.collapsePairsBy(pairs, scores).orderBy(col("drop"))
    }),

    // BPE merge-pair statistics: adjacent character-pair counts over
    // the distinct-word table (frequencies ride along) — the argmax a
    // tokenizer trainer takes per merge step. Top 200 by count.
    "q72_bpe_pairs" -> ((s, dir) => {
      Vocab.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("pair")).limit(200)
    }),

    // Per-source corpus report: the dataset-card stats pass — volume,
    // exact-dup rate, mean quality (DECIMAL-summed), language spread.
    "q71_corpus_report" -> ((s, dir) => {
      Curation.corpusReport(t(s, dir, "documents"), "doc_id", "text",
        "source", "lang")
        .orderBy(col("source"))
    }),

    // Surgical decontamination: cut only the 8-gram spans matching a
    // probe (eval) subset instead of dropping whole documents — the
    // probe gram set broadcasts, the corpus never shuffles for the
    // match. Probes = doc_id % 29 == 0 (q52/q54's held-out subset).
    "q70_scrub_contaminated" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.scrubContaminatedSpans(
        docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 29 === 0), "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    // IVF-Flat ANN (the second scale path beside q28's LSH): inverted
    // lists by nearest centroid, nprobe-list probing. Full DuckDB
    // oracle: the deterministic quantizer (md5-sampled seed centroids,
    // argmax cosine assignment) replays exactly in SQL; recall vs
    // q27's exact top-k additionally measured in SimilaritySpec.
    "q40_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.ivfTopK(queries, corpus, k = 5, nlist = 16, nprobe = 4)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Cluster collapse of the exact near-dup edge list: every doc maps
    // to the smallest doc it pairs with (the survivor-map used to drop
    // near-duplicates from a corpus).
    "q45_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5)
      Dedup.collapsePairs(pairs).orderBy(col("keep"), col("drop"))
    }),

    // Deterministic stratified hash-sample: per-lang keep fractions via
    // one map-only filter; the md5-derived sample key is a pure function
    // of the row id, so the sample is identical across engines, runs,
    // and cluster sizes (no RNG, no partition-order dependence).
    "q49_hash_sample" -> ((s, dir) => {
      Curation.stratifiedHashSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end corpus curation: exact dedup -> near-dup collapse ->
    // language/quality gate, composed from the q18/q23/q45/q20/q21
    // operators — the single call a training-data pipeline runs.
    "q50_corpus_curation" -> ((s, dir) => {
      Curation.curateCorpus(t(s, dir, "documents"), "doc_id", "text",
        n = 3, tau = 0.5, minQuality = 0.5, lang = "en")
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: docs sharing >= 3 distinct trigrams
    // with any probe doc (probe set = doc_id % 29 == 0, broadcast) —
    // the eval-contamination hygiene pass. Tuned so the sf0.01 oracle
    // is non-vacuous: probe density and threshold yield real matches
    // (15 rows) rather than certifying an empty result.
    "q52_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("probe_id"), col("text").as("probe_text"))
      Dedup.contaminationMatches(
        docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
        probes, "probe_id", "probe_text", n = 3, minShared = 3)
        .orderBy(col("doc_id"), col("probe_id"))
    }),

    // Substring-level duplication (Lee et al. ACL'22 granularity):
    // positions of every 8-word span occurring in >= 2 distinct docs —
    // the cut list a span-level scrubber consumes.
    "q59_dup_spans" -> ((s, dir) => {
      Dedup.docDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Deterministic data mixing: three weighted sources composed at
    // target proportions, budget capped by the scarcest source,
    // selection via the content-keyed hash sample.
    "q65_data_mixing" -> ((s, dir) => {
      Curation.mixCorpus(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window chunking: 50-word windows every 40 words with a
    // snap-to-end tail window — documents to training sequences.
    "q64_chunking" -> ((s, dir) => {
      Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        window = 50, stride = 40)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // Boundary-aware chunking: greedy 50-token cuts snapped back (<=8
    // tokens) to the latest sentence-final token — the mid-sentence-cut
    // fix; separator-free docs fall back to the hard grid. Map-only
    // per-doc fold, oracle replays the same greedy walk recursively.
    "q124_chunk_snapped" -> ((s, dir) => {
      Curation.chunkDocumentsSnapped(t(s, dir, "documents"), "doc_id", "text",
        window = 50, tolerance = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // DSIR importance weights: unigram log-likelihood ratio of the
    // target domain (lang = 'de') vs the whole corpus, per document —
    // the domain-targeted data-selection score.
    "q63_dsir_weights" -> ((s, dir) => {
      Curation.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "de")
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: semantic dedup by coarse clustering — pairs compared
    // only within a centroid cell, each drop mapped to its smallest
    // near-enough clustermate. Deterministic seed quantizer (16
    // md5-sampled vectors), so the oracle replays the exact assignment.
    "q62_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("c_id"),
          col("embedding").cast("array<double>").as("c_emb"))
      Similarity.semDedup(emb, tau = 0.45, nlist = 16)
        .orderBy(col("drop_id"))
    }),

    // PII redaction over a deterministic fixture: the synthetic corpus
    // carries no organic PII, so the query plants engine-identical
    // emails/phones/IPs/addresses on modular doc subsets (and the
    // negative "none" strings on the rest) before redacting — the
    // oracle row set exercises both matched and unmatched paths.
    "q61_pii_redact" -> ((s, dir) => {
      val input = concat_ws(" ",
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit("contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("mail none")),
        when(col("doc_id") % 4 === 0,
          concat(lit("call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("tel none")),
        when(col("doc_id") % 5 === 0,
          concat(lit("from 10.0."), col("doc_id") % 256, lit(".7")))
          .otherwise(lit("host local")),
        when(col("doc_id") % 7 === 0,
          concat(lit("wallet 0x"), lpad(hex(col("doc_id")), 40, "0")))
          .otherwise(lit("wallet none")))
      t(s, dir, "documents")
        .select(col("doc_id"), input.as("input"))
        .select(col("doc_id"),
          Pii.redact(col("input")).as("clean_text"),
          Pii.matchCount(col("input"), 0).as("n_email"),
          Pii.matchCount(col("input"), 1).as("n_phone"),
          Pii.matchCount(col("input"), 2).as("n_ip"),
          Pii.matchCount(col("input"), 3).as("n_addr"))
        .orderBy(col("doc_id"))
    }),

    // Span-level scrubbing (the full Lee et al. operation): cut every
    // word covered by a cross-doc duplicated 8-gram and re-emit the
    // cleaned text; one row per doc, untouched docs pass through.
    "q60_span_scrub" -> ((s, dir) => {
      Dedup.scrubDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // Corpus vocabulary: per-term document frequency + total count —
    // the tokenizer-training / stop-list-mining pass. Integer-exact.
    "q58_vocabulary" -> ((s, dir) => {
      Vocab.vocabulary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("term"))
    }),

    // Quantized ANN: the q27 brute-force top-k run entirely on int8-
    // quantized vectors (4x memory/bandwidth at scale; cosine is
    // scale-invariant so the quantized grid drops straight in).
    "q57_ann_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val quant = Similarity.int8Quantize(emb, "vec_id", "emb")
      val queries = quant.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("qvec").as("q_emb"))
      val corpus = quant.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("qvec").as("c_emb"))
      Similarity.bruteForceTopK(queries, corpus, k = 5)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Deterministic global training shuffle: shard + intra-shard
    // position as a pure function of the ids (md5-keyed) — the
    // engine-reproducible random read order for a training run.
    "q56_shard_shuffle" -> ((s, dir) => {
      Curation.shuffleShards(t(s, dir, "documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
        .orderBy(col("doc_id"))
    }),

    // Incremental ingestion dedup: exact Jaccard pairs between a
    // reference corpus (doc_id % 3 == 0) and an incoming batch (the
    // rest) — prefix-filtered cross-corpus join, the reference side
    // never pairs with itself.
    "q55_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.jaccardPairsAgainst(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        n = 3, tau = 0.5)
        .orderBy(col("ref_id"), col("new_id"))
    }),

    // The decontamination PASS itself (compose of q52's matcher with
    // the anti join): the corpus with every probe-overlapping doc
    // dropped — what a pipeline actually ships to tokenization.
    "q54_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val probes = docs.filter(col("doc_id") % 29 === 0)
        .select(col("doc_id").as("probe_id"), col("text").as("probe_text"))
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0), "doc_id", "text",
        probes, "probe_id", "probe_text", n = 3, minShared = 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing: running-token-count pack assignment (seqLen
    // 2048) via a distributed prefix sum — range partition, partition-
    // local window cumsum, per-partition base offsets (one driver row
    // per partition, never per doc).
    "q53_sequence_pack" -> ((s, dir) => {
      Curation.packSequences(t(s, dir, "documents"), "doc_id",
        TextFunctions.tokenCountWs(col("text")), seqLen = 2048L)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition signals: duplicate-bigram mass and
    // top-bigram concentration per document — explode + two keyed
    // aggregations (bounded keys, map-side partials), compiled n-gram
    // kernel feeding the explode.
    "q51_repetition" -> ((s, dir) => {
      Repetition.repetitionStats(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    }),

    // Deterministic train/val/test split: content-keyed hash-interval
    // labels (0.8/0.1/0.1), map-only — a doc never migrates between
    // splits as the corpus grows.
    "q76_hash_split" -> ((s, dir) => {
      Curation.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Two-stage ANN: int8-quantized shortlist (20 per query) re-ranked
    // by the exact cosine to top-5 — coarse-to-fine retrieval. Full
    // DuckDB oracle: the quantized ranking replays q57's grid, the
    // rerank replays q27's exact scoring over it.
    "q77_ann_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("c_id"), col("emb").as("c_emb"))
      Similarity.refinedTopK(queries, corpus, k = 5, shortlist = 20)
        .orderBy(col("q_id"), col("rank"))
    }),

    // Importance-weighted deterministic sampling: keep probability =
    // 0.6 x qualityScore per doc (quality-proportional selection, the
    // DSIR-style resampling step) — map-only, content-keyed, exact
    // double arithmetic end to end.
    "q79_weighted_sample" -> ((s, dir) => {
      Curation.weightedHashSample(t(s, dir, "documents"), "doc_id",
        TextFunctions.qualityScore(col("text")), baseFraction = 0.6)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-rules quality gate: the Rae et al. filter heuristics as
    // per-doc metrics + combined pass flag (map-only; the sf corpus
    // splits ~half/half on the default thresholds, so both branches
    // are oracle-exercised).
    "q78_gopher_rules" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.gopherStats(col("text")).as("g"))
        .select(col("doc_id"), col("g.word_count"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.alpha_ratio"), col("g.stop_hits"),
          col("g.pass"))
        .orderBy(col("doc_id"))
    }),

    // Cross-plane composition: the multimodal plane's embeddings feed
    // the similarity plane's near-dup pairs — media whose byte
    // histograms nearly coincide. Components round to 6 decimals
    // FIRST (both engines then run IEEE-identical mul/add/sqrt on
    // identical inputs); the exact pair form is the oracle baseline
    // like q26 — cosinePairsLsh (q48's pinned shape) is the scale
    // path for a real media corpus.
    "q80_media_neardup" -> ((s, dir) => {
      // media_id % 3 subset: the exact pair stage is quadratic AND its
      // input arrives from the row-encoder (boxed arrays — ~10x the
      // per-pair cost of parquet-backed vectors), so the oracle
      // baseline runs on a deterministic slice; the full-corpus scale
      // path is cosinePairsLsh over a PERSISTED embedding table
      // (write mediaEmbeddings to parquet first — then q48's shape).
      // the % 3 == 0 slice is exactly the IMAGE rows, so every payload
      // here is a real PNG and every embedding comes off a decoded
      // raster (pad zeros in bucket 0 — mirrored in the oracle).
      val media = Multimodal.synthesizeMixedMedia(
        t(s, dir, "documents").filter(col("doc_id") % 3 === 0), "doc_id", "text")
      val emb = Multimodal.mediaEmbeddings(s, media, dim = 16)
        .select(col("media_id"),
          transform(col("embedding"), x => round(x, 6)).as("emb"))
      Similarity.cosinePairsExact(emb, "media_id", "emb", tau = 0.995)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Media transform ops: image rows take the REAL path — Graphics2D
    // bilinear resize of an actual PNG, re-encode, then a re-DECODE so
    // the reported dims/sample-count are read back from product pixels
    // (the oracle predicts them; pixel-level resize quality is
    // spec-checked, as bilinear arithmetic isn't SQL-replayable).
    // Audio/video keep the stub's byte truncation + frame sampling.
    "q41_media_ops" -> ((s, dir) => {
      val media = Multimodal.synthesizeMixedMedia(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.mediaTransformTable(s, media,
        width = 32, height = 64, stride = 2, frameBytes = 64)
        .orderBy(col("media_id"))
    }),

    // BM25 retrieval: posting list filtered to the query terms BEFORE
    // any shuffle; df + corpus stats ride broadcasts; one doc_id
    // aggregate. Fixed-point per-term scores sum in int64 (exact).
    "q81_bm25" -> ((s, dir) => {
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"), k = 25)
    }),

    // Variable-length exact-substring dedup: maximal cross-doc shared
    // word runs via diagonal gram-chain merging (no df-cap here — the
    // oracle demands exact output; the cap is one knob at scale).
    "q101_maximal_spans" -> ((s, dir) => {
      Dedup.maximalSharedSpans(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minSpanWords = 12, maxGramOcc = None)
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
          col("span_words"))
    }),

    // Search + dedup composition: BM25 shortlist, collapse exact-dup
    // result texts keeping the best-scored representative, re-rank —
    // the de-duplicated retrieval a corpus probe actually wants. The
    // shortlist is 100 rows, so the text join broadcasts it.
    "q100_search_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val short = Search.bm25TopK(docs, "doc_id", "text",
        queryTerms = Seq("spark", "join", "window"), k = 100)
        .select(col("doc_id"), col("score_fx"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("score_fx").desc, col("doc_id"))
      broadcast(short)
        .join(docs.select(col("doc_id"), md5(col("text")).as("fp")), "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("score_fx"))
        .orderBy(col("score_fx").desc, col("doc_id"))
        .limit(20)
    }),

    // In-engine trained classifier: multinomial Naive Bayes fit on the
    // (lang-labeled) corpus in two aggregations, then argmax-scored
    // back over the same docs — the retrainable language/quality-filter
    // slot of a curation pipeline (complements the static-marker q21).
    "q83_nb_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = NaiveBayes.fit(docs, "text", "lang")
      NaiveBayes.predict(model, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("pred"),
          (col("pred") === col("lang")).as("correct"), col("score_fx"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level overlap diagnostic: exact shingle-set Jaccard for
    // every source pair — distinct (source, shingle) first, then a
    // shingle-keyed join whose fan-out is bounded by |sources|².
    "q85_corpus_overlap" -> ((s, dir) => {
      Curation.corpusOverlap(t(s, dir, "documents"), "text", "source", n = 3)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // q85's 100 TB form: per-source KMV sketches (k longs cross the
    // shuffle per source per partition, never the shingle universe),
    // pairwise Jaccard from sketch combination. k=16384 exceeds every
    // source's distinct-shingle count here, so the sketches are
    // complete hash sets and the output EQUALS the exact q85 oracle
    // row-for-row — the same exact-regime gate as q110/q130.
    "q135_overlap_kmv" -> ((s, dir) => {
      Curation.corpusOverlapApprox(t(s, dir, "documents"), "text", "source",
        n = 3, k = 16384)
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Large-lexicon blocklist: the broadcast-table semi-join form of
    // q75's literal-array gate — the shape that still works at 10^5+
    // blocked words.
    "q97_blocklist_join" -> ((s, dir) => {
      val lexicon = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("the"),
          org.apache.spark.sql.Row("spark"),
          org.apache.spark.sql.Row("join")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType))))
      TextFunctions.blocklistGateLarge(
        t(s, dir, "documents"), "doc_id", "text", lexicon)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Collocation mining: document-level PMI over token pairs; top-50
    // by co-occurrence count with exact-integer inputs and 1e-9-fixed
    // scores.
    "q92_pmi" -> ((s, dir) => {
      Vocab.cooccurrencePmi(t(s, dir, "documents"), "doc_id", "text", minPairDocs = 2L)
        .orderBy(col("c_ab").desc, col("tok_a"), col("tok_b"))
        .limit(50)
    })
  )

  val oracles: Map[String, String] = Map(
    "q125_lr_quality" ->
      lrOracleSql(buckets = 64, iters = 5, lr = 0.25, labelSql = "lang = 'en'"),
    "q18_dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS survivor_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY 1""",
    "q19_token_stats" ->
      """SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_ws,
         len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpe,
         list_sum(list_transform(string_split(text, ' '), x -> len(x)))::BIGINT AS sum_len,
         round(len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')), 6) AS ttr
         FROM documents ORDER BY doc_id""",
    "q20_quality_score" ->
      """SELECT doc_id, wc,
         round(stop_ratio, 6) AS stop_ratio,
         floor((0.3 * least(1.0, wc / 50)
              + 0.3 * ttr
              + 0.2 * least(1.0, mean_len / 8)
              + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
         FROM (
           SELECT doc_id,
             len(t)::BIGINT AS wc,
             len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t) AS stop_ratio,
             len(list_distinct(t))::DOUBLE / len(t) AS ttr,
             list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
         ORDER BY doc_id""",
    "q21_langid" ->
      """SELECT doc_id, lang,
         CASE WHEN gmax IS NULL OR gmax = 0 THEN 'und'
              WHEN s_en = gmax THEN 'en'
              WHEN s_de = gmax THEN 'de'
              WHEN s_fr = gmax THEN 'fr'
              WHEN s_es = gmax THEN 'es'
              ELSE 'zh' END AS lang_pred
         FROM (
           SELECT doc_id, lang, s_en, s_de, s_fr, s_es, s_zh,
             greatest(s_en, s_de, s_fr, s_es, s_zh) AS gmax
           FROM (
             SELECT doc_id, lang,
               len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x))) AS s_en,
               len(list_filter(t, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
               len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
               len(list_filter(t, x -> list_contains(['el','los','las','es','una'], x))) AS s_es,
               len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
             FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)))
         ORDER BY doc_id""",
    "q22_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
         CASE WHEN len(t) < 3 THEN md5(text)
              ELSE list_min(list_transform(
                     list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2]))),
                     s -> md5(s))) END AS fp_winnow
         FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
         ORDER BY doc_id""",
    "q23_jaccard_pairs" -> jaccardPairsSql,
    "q24_minhash_lsh" -> jaccardPairsSql,
    // Recomputes the 60-bit md5 simhash per doc in SQL, then evaluates
    // the exact predicate set {hamming <= 3 AND jaccard >= 0.5}
    // quadratically — the piece-join's pigeonhole recall is 1, so the
    // Spark result equals this set bit-for-bit.
    "q25_simhash" ->
      s"""$shingleCte,
         hs AS (SELECT doc_id, sh,
                  list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hv
                FROM d),
         sims AS (SELECT doc_id, sh,
             list_sum(list_transform(range(0, 60), k ->
               CASE WHEN list_sum(list_transform(hv, x ->
                      CASE WHEN (x >> k) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS sim
           FROM hs)
         SELECT doc_a, doc_b, jaccard FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             bit_count(xor(a.sim, b.sim)) AS ham,
             round(len(list_intersect(a.sh, b.sh))::DOUBLE
                   / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
           FROM sims a JOIN sims b ON a.doc_id < b.doc_id)
         WHERE ham <= 3 AND jaccard >= 0.5 ORDER BY doc_a, doc_b""",
    "q45_dedup_clusters" ->
      s"""$shingleCte, $jaccardPairsCte
         SELECT DISTINCT
           min(doc_a) OVER (PARTITION BY doc_b) AS keep,
           doc_b AS "drop"
         FROM pairs ORDER BY keep, "drop"""",
    "q26_embedding_neardup" ->
      s"""SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a", "b")} AS cos
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         WHERE cos >= 0.45 ORDER BY id_a, id_b""",
    "q27_ann_topk" ->
      s"""SELECT q_id, c_id, cos, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${duckCos("q", "c")} AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${duckCos("q", "c")} DESC, c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id >= 10)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // Mirrors lshTopK(planes=2): bucket = two hyperplane sign bits
    // (plane constants inlined as literals — re-derivable from
    // md5("plane:p"), see Similarity.hyperplane), bucket equi-join,
    // then the identical scoring/ranking as q27.
    "q28_ann_lsh" ->
      s"""$embCte,
         b AS (SELECT vec_id, emb, nrm,
                 ${planeBitSql(0, 1L)} + ${planeBitSql(1, 2L)} AS bucket
               FROM n)
         SELECT q_id, c_id, cos, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${duckCosPre("q", "c")} AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${duckCosPre("q", "c")} DESC, c.vec_id) AS rank
           FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < 10 AND c.vec_id >= 10)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // q209: the 4-plane bucket replay; a corpus row is a candidate iff
    // its bucket is the query's own OR one bit-flip away — exactly the
    // Hamming-1 probe set the engine explodes.
    "q209_ann_multiprobe" ->
      s"""$embCte,
         b AS (SELECT vec_id, emb, nrm,
                 ${planeBitSql(0, 1L)} + ${planeBitSql(1, 2L)}
                 + ${planeBitSql(2, 4L)} + ${planeBitSql(3, 8L)} AS bucket
               FROM n)
         SELECT q_id, c_id, cos, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id, ${duckCosPre("q", "c")} AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${duckCosPre("q", "c")} DESC, c.vec_id) AS rank
           FROM b q JOIN b c
             ON bit_count(xor(q.bucket, c.bucket)) <= 1
             AND q.vec_id < 10 AND c.vec_id >= 10)
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // Mirrors ivfTopK(nlist=16, nprobe=4): centroids = the 16 corpus
    // vectors sorting first by md5(vec_id) (seedCentroids' uniform
    // deterministic sample), assignment/probing by rounded cosine with
    // centroid-id tiebreak.
    "q40_ann_ivf" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE vec_id >= 10
                  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         c AS (SELECT vec_id AS c_id, emb, nrm FROM n WHERE vec_id >= 10),
         q AS (SELECT vec_id AS q_id, emb, nrm FROM n WHERE vec_id < 10),
         assigned AS (SELECT list_id, c_id, emb, nrm FROM (
           SELECT ct.cent_id AS list_id, c.c_id, c.emb, c.nrm,
             row_number() OVER (PARTITION BY c.c_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> c.emb[i] * ct.cent_emb[i]))
                 / (c.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM c CROSS JOIN cent ct) WHERE rn = 1),
         probes AS (SELECT q_id, emb, nrm, list_id FROM (
           SELECT q.q_id, q.emb, q.nrm, ct.cent_id AS list_id,
             row_number() OVER (PARTITION BY q.q_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> q.emb[i] * ct.cent_emb[i]))
                 / (q.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM q CROSS JOIN cent ct) WHERE rn <= 4)
         SELECT q_id, c_id, cos, rank FROM (
           SELECT p.q_id, a.c_id, ${duckCosPre("p", "a")} AS cos,
             row_number() OVER (PARTITION BY p.q_id
               ORDER BY ${duckCosPre("p", "a")} DESC, a.c_id) AS rank
           FROM probes p JOIN assigned a USING (list_id))
         WHERE rank <= 5 ORDER BY q_id, rank""",
    // Mirrors cosinePairsLsh(P=6, B=16): per-band bucket values offset
    // into disjoint ranges (b<<6 | bits), candidate = any shared
    // bucket (list_has_any = the explode/equi-join/distinct), then the
    // identical exact-cosine verification as q26.
    "q48_neardup_lsh" ->
      s"""$embCte,
         bk AS (SELECT vec_id, emb, nrm, [${
        (0 until 16).map(b =>
          (0 until 6).map(j => planeBitSql(6 * b + j, 1L << j)).mkString(" + ") +
            s" + ${b.toLong << 6}::BIGINT")
          .mkString(", ")
      }] AS bk FROM n)
         SELECT id_a, id_b, cos FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCosPre("a", "b")} AS cos
           FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND list_has_any(a.bk, b.bk))
         WHERE cos >= 0.45 ORDER BY id_a, id_b""",
    // q127: WAV PCM is lossless, so every decoded quantity re-derives
    // from (doc_id, text) alone: rate from the id, frames/sum from the
    // text bytes (empty text → the one zero pad sample).
    "q127_audio_meta" ->
      """SELECT doc_id::BIGINT AS media_id,
         (4000 + (doc_id % 5) * 2000)::INT AS sample_rate,
         1::INT AS channels,
         greatest(strlen(text), 1)::INT AS n_frames,
         greatest(strlen(text), 1)::BIGINT AS n_samples,
         coalesce(list_sum([ascii(substr(text, i::INT, 1)) FOR i IN range(1, strlen(text)+1)]), 0)::BIGINT AS sample_sum
         FROM documents ORDER BY media_id""",

    // q128: the energy-band bits replayed from text bytes — sample k
    // lands in window (k*64)//n, bit set iff e_w * 64 >= total energy
    // (the same multiply-through integer compare the engine runs),
    // HUGEINT bit-sum folded to Spark's signed BIGINT.
    "q128_audio_fp" ->
      s"""WITH $audioFpCte
         SELECT media_id::BIGINT AS media_id, fp FROM af ORDER BY media_id""",

    // q201: mono Y4M is lossless, so every decoded quantity re-derives
    // from (doc_id, text) alone: dims/fps from the id, frames from
    // ceil(bytes / (w*h)) (empty text → one zero frame), luma sum =
    // text-byte sum (zero padding adds nothing).
    "q201_video_meta" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len,
             coalesce(list_sum([ascii(substr(text, i::INT, 1)) FOR i IN range(1, strlen(text)+1)]), 0)::BIGINT AS bsum
           FROM documents),
         m AS (SELECT doc_id, w, h,
             greatest((len + w*h - 1) // (w*h), 1)::INT AS nf, bsum
           FROM g)
         SELECT doc_id::BIGINT AS media_id, w AS width, h AS height,
           nf AS n_frames, (nf::BIGINT * w * h) AS n_samples,
           bsum AS px_sum
         FROM m ORDER BY media_id""",

    // q202: the temporal energy bits replayed from text bytes over the
    // PADDED luma length n = frames·w·h — sample k keeps its byte
    // index (padding sits at the end, contributing boundaries but no
    // energy); a window spine covers all 64 bits so zero-energy clips
    // (empty text) set every bit, exactly as the engine's zero-total
    // compare does.
    "q202_video_fp" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len, text
           FROM documents),
         m AS (SELECT doc_id, text, len,
             (greatest((len + w*h - 1) // (w*h), 1) * w * h)::BIGINT AS n
           FROM g),
         v AS (SELECT doc_id, n,
             unnest(list_transform(range(1, len+1), i -> {'k': i-1, 'x': ascii(substr(text, i::INT, 1))})) AS u
           FROM m WHERE len > 0),
         e AS (SELECT doc_id, ((u.k * 64) // n) AS w,
             sum((u.x::HUGEINT) * u.x) AS ew
           FROM v GROUP BY doc_id, ((u.k * 64) // n)),
         tot AS (SELECT doc_id, sum(ew) AS te FROM e GROUP BY doc_id),
         spine AS (SELECT m.doc_id, unnest(range(0, 64)) AS w FROM m),
         bits AS (SELECT s.doc_id, s.w,
             coalesce(e.ew, 0::HUGEINT) AS ew, coalesce(t.te, 0::HUGEINT) AS te
           FROM spine s
           LEFT JOIN e ON s.doc_id = e.doc_id AND s.w = e.w
           LEFT JOIN tot t ON s.doc_id = t.doc_id),
         fph AS (SELECT doc_id,
             sum(CASE WHEN ew * 64 >= te THEN 1::HUGEINT << w::INT
                 ELSE 0::HUGEINT END) AS f
           FROM bits GROUP BY doc_id)
         SELECT doc_id::BIGINT AS media_id,
           (CASE WHEN f >= 9223372036854775808 THEN f - 18446744073709551616
                 ELSE f END)::BIGINT AS fp
         FROM fph ORDER BY media_id""",

    // q203: frame sampling + nearest-neighbour resize read back from
    // produced rasters — every 2nd frame of ceil(bytes/(w·h)) frames,
    // 16 samples per resized 4×4 frame.
    "q203_video_frames" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len
           FROM documents),
         m AS (SELECT doc_id,
             greatest((len + w*h - 1) // (w*h), 1)::BIGINT AS nf
           FROM g)
         SELECT doc_id::BIGINT AS media_id, 4 AS resized_w, 4 AS resized_h,
           ((nf + 1) // 2) * 16 AS resized_n,
           ((nf + 1) // 2)::INT AS n_frames_sampled
         FROM m ORDER BY media_id""",

    // q217: AVI/DIB-24 is lossless like mono Y4M, so this is q201's
    // oracle VERBATIM — same geometry, same padding, same byte sums;
    // only the container the engine parses differs.
    "q217_avi_meta" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len,
             coalesce(list_sum([ascii(substr(text, i::INT, 1)) FOR i IN range(1, strlen(text)+1)]), 0)::BIGINT AS bsum
           FROM documents),
         m AS (SELECT doc_id, w, h,
             greatest((len + w*h - 1) // (w*h), 1)::INT AS nf, bsum
           FROM g)
         SELECT doc_id::BIGINT AS media_id, w AS width, h AS height,
           nf AS n_frames, (nf::BIGINT * w * h) AS n_samples,
           bsum AS px_sum
         FROM m ORDER BY media_id""",

    // q218: Motion JPEG is genuinely lossy — geometry facts replay
    // exactly (each decoded JPEG frame is exactly w×h samples), pixel
    // sums are decoder-defined and not emitted (MultimodalSpec pins
    // them to the real in-JVM decode instead).
    "q218_mjpeg_meta" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len
           FROM documents),
         m AS (SELECT doc_id, w, h,
             greatest((len + w*h - 1) // (w*h), 1)::INT AS nf
           FROM g)
         SELECT doc_id::BIGINT AS media_id, w AS width, h AS height,
           nf AS n_frames, (nf::BIGINT * w * h) AS n_samples
         FROM m ORDER BY media_id""",

    // q220: q202's temporal-fingerprint oracle VERBATIM over the AVI
    // container — the two parsers must agree sample-for-sample.
    "q220_avi_fp" ->
      """WITH g AS (SELECT doc_id,
             (4 + doc_id % 5)::INT AS w, (4 + doc_id % 3)::INT AS h,
             strlen(text)::BIGINT AS len, text
           FROM documents),
         m AS (SELECT doc_id, text, len,
             (greatest((len + w*h - 1) // (w*h), 1) * w * h)::BIGINT AS n
           FROM g),
         v AS (SELECT doc_id, n,
             unnest(list_transform(range(1, len+1), i -> {'k': i-1, 'x': ascii(substr(text, i::INT, 1))})) AS u
           FROM m WHERE len > 0),
         e AS (SELECT doc_id, ((u.k * 64) // n) AS w,
             sum((u.x::HUGEINT) * u.x) AS ew
           FROM v GROUP BY doc_id, ((u.k * 64) // n)),
         tot AS (SELECT doc_id, sum(ew) AS te FROM e GROUP BY doc_id),
         spine AS (SELECT m.doc_id, unnest(range(0, 64)) AS w FROM m),
         bits AS (SELECT s.doc_id, s.w,
             coalesce(e.ew, 0::HUGEINT) AS ew, coalesce(t.te, 0::HUGEINT) AS te
           FROM spine s
           LEFT JOIN e ON s.doc_id = e.doc_id AND s.w = e.w
           LEFT JOIN tot t ON s.doc_id = t.doc_id),
         fph AS (SELECT doc_id,
             sum(CASE WHEN ew * 64 >= te THEN 1::HUGEINT << w::INT
                 ELSE 0::HUGEINT END) AS f
           FROM bits GROUP BY doc_id)
         SELECT doc_id::BIGINT AS media_id,
           (CASE WHEN f >= 9223372036854775808 THEN f - 18446744073709551616
                 ELSE f END)::BIGINT AS fp
         FROM fph ORDER BY media_id""",

    // q252: per-(kind, container, decoded) counts — every synthesized
    // container decodes by construction; the raw-text payloads land in
    // 'opaque' with decoded = false, split by the id%3 kind gate.
    "q252_decodability" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE strlen(text) > 0),
         rep AS (
           SELECT 'video' AS kind, 'y4m' AS container, true AS decoded,
             count(*) AS n FROM d
           UNION ALL SELECT 'video', 'riff-avi', true, 2 * count(*) FROM d
           UNION ALL SELECT 'audio', 'riff-wave', true, count(*) FROM d
           UNION ALL SELECT 'image', 'png', true, count(*) FROM d
           UNION ALL SELECT 'image', 'opaque', false, count(*) FROM d
             WHERE (doc_id + 5000000) % 3 = 0
           UNION ALL SELECT 'audio', 'opaque', false, count(*) FROM d
             WHERE (doc_id + 5000000) % 3 = 1
           UNION ALL SELECT 'video', 'opaque', false, count(*) FROM d
             WHERE (doc_id + 5000000) % 3 = 2)
         SELECT kind, container, decoded, n::BIGINT AS n FROM rep
         WHERE n > 0 ORDER BY 1, 2, 3""",

    // q136: the corpus-plus-perturbed-variants fingerprint replay
    // (the audioFpCte machinery over the unioned table), then q126's
    // quadratic hamming pair check.
    "q136_audio_neardup" ->
      """WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             chr(ascii(substr(text, 1, 1)) + 1) || substr(text, 2)
           FROM documents WHERE strlen(text) > 0),
         s AS (
           SELECT doc_id AS media_id,
             CASE WHEN strlen(text) = 0 THEN [0]
                  ELSE [ascii(substr(text, i::INT, 1)) FOR i IN range(1, strlen(text)+1)] END AS vs
           FROM u),
         v AS (SELECT media_id, len(vs)::BIGINT AS n,
                 unnest(list_transform(range(1, len(vs)+1), i -> {'k': i-1, 'x': vs[i]})) AS u2
               FROM s),
         e AS (SELECT media_id, ((u2.k * 64) // n) AS w,
                 sum((u2.x::HUGEINT) * u2.x) AS ew
               FROM v GROUP BY media_id, ((u2.k * 64) // n)),
         tot AS (SELECT media_id, sum(ew) AS te FROM e GROUP BY media_id),
         fph AS (SELECT e.media_id,
                   sum(CASE WHEN e.ew * 64 >= t.te THEN 1::HUGEINT << e.w::INT
                       ELSE 0::HUGEINT END) AS f
                 FROM e JOIN tot t ON e.media_id = t.media_id
                 GROUP BY e.media_id),
         af AS (SELECT media_id,
             (CASE WHEN f >= 9223372036854775808 THEN f - 18446744073709551616
                   ELSE f END)::BIGINT AS fp
           FROM fph)
         SELECT a.media_id::BIGINT AS media_a, b.media_id::BIGINT AS media_b,
           bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         FROM af a JOIN af b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 6
         ORDER BY media_a, media_b""",

    // q29: image rows (doc_id % 3 = 0) carry REAL PNGs — width/height/
    // n_samples/px_sum re-derived here from (doc_id, text) replicate
    // what ImageIO reads back from actual pixels (raster = text bytes
    // zero-padded to w*ceil(len/w)); audio/video rows replay the stub.
    // n_bytes/sha excluded: PNG byte streams are encoder-private.
    "q29_media_meta" ->
      """SELECT media_id, kind,
         (CASE WHEN kind = 'image' THEN w
              ELSE 16 + ascii(substr(text,1,1)) * 16 + ascii(substr(text,2,1)) END)::INT AS width,
         (CASE WHEN kind = 'image' THEN h
              ELSE 16 + ascii(substr(text,3,1)) * 16 + ascii(substr(text,4,1)) END)::INT AS height,
         (CASE WHEN kind = 'image' THEN 1 ELSE len // 1024 + 1 END)::INT AS n_frames,
         (CASE WHEN kind = 'image' THEN w * h ELSE len END)::BIGINT AS n_samples,
         coalesce(list_sum([ascii(substr(text, i::INT, 1)) FOR i IN range(1, len + 1)]), 0)::BIGINT AS px_sum
         FROM (
           SELECT media_id, kind, text, len, w,
             greatest(1, (len + w - 1) // w) AS h
           FROM (
             SELECT doc_id AS media_id,
               (['image','audio','video'])[(doc_id % 3) + 1] AS kind,
               text, strlen(text)::BIGINT AS len,
               16 + (doc_id % 17) AS w
             FROM documents))
         ORDER BY media_id""",
    // Mirrors mediaEmbeddings(dim=16) over synthesizeMixedMedia: ASCII
    // payload bytes == character codes, so the histogram is a
    // char-code histogram — and IMAGE rows (doc_id % 3 = 0) histogram
    // their decoded raster, which appends w*h - len zero-pad samples
    // to bucket 0. Counts are integer-exact, so the norm and
    // per-component division reproduce bit-for-bit.
    "q66_media_embed" ->
      """WITH chars AS (SELECT doc_id AS media_id,
             unnest([ascii(substr(text, i, 1)) % 16 FOR i IN range(1, strlen(text)+1)]) AS bucket
           FROM documents),
         h AS (SELECT media_id, bucket, count(*)::DOUBLE AS c
               FROM chars GROUP BY media_id, bucket),
         pad AS (SELECT doc_id AS media_id,
             (CASE WHEN doc_id % 3 = 0 THEN
               (16 + (doc_id % 17))
                 * greatest(1, (strlen(text) + 16 + (doc_id % 17) - 1) // (16 + (doc_id % 17)))
                 - strlen(text)
             ELSE 0 END)::DOUBLE AS p
           FROM documents),
         spine AS (SELECT doc_id AS media_id, unnest(range(0, 16)) AS bucket
                   FROM documents),
         fullh AS (SELECT s.media_id, s.bucket,
                     coalesce(h.c, 0.0)
                       + CASE WHEN s.bucket = 0 THEN pd.p ELSE 0.0 END AS c
                   FROM spine s
                   LEFT JOIN h ON s.media_id = h.media_id AND s.bucket = h.bucket
                   JOIN pad pd ON s.media_id = pd.media_id),
         n AS (SELECT media_id, sqrt(sum(c * c)) AS nrm FROM fullh GROUP BY media_id)
         SELECT f.media_id, f.bucket::BIGINT AS pos, round(f.c / n.nrm, 6) AS v
         FROM fullh f JOIN n ON f.media_id = n.media_id
         ORDER BY f.media_id, pos""",

    // Mirrors dedupLines(minDocs=2) over the same planted fixture:
    // lines with >= 2 distinct docs drop, survivors rejoin in order.
    "q67_line_dedup" ->
      """WITH f AS (SELECT doc_id, concat_ws(chr(10),
             CASE WHEN doc_id % 4 = 0 THEN 'cookie consent required' ELSE 'head ' || doc_id END,
             text,
             CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter' ELSE 'foot ' || doc_id END) AS input
           FROM documents),
         l AS (SELECT doc_id, u['p']::BIGINT AS pos, u['l'] AS line FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ls)+1), i -> {'p': i, 'l': ls[i]})) AS u
             FROM (SELECT doc_id, string_split(input, chr(10)) AS ls FROM f))),
         dup AS (SELECT line FROM l WHERE len(line) >= 1
                 GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM l
                  WHERE len(line) >= 1 AND line IN (SELECT line FROM dup)
                  GROUP BY doc_id),
         t2 AS (SELECT f.doc_id, string_split(f.input, chr(10)) AS ls, coalesce(c.ps, []) AS ps
                FROM f LEFT JOIN cuts c ON f.doc_id = c.doc_id)
         SELECT doc_id,
           coalesce(array_to_string([ls[i] FOR i IN range(1, len(ls)+1)
                      IF NOT list_contains(ps, i)], chr(10)), '') AS clean_text,
           len(ls)::BIGINT AS n_lines, len(ps)::BIGINT AS n_removed
         FROM t2 ORDER BY doc_id""",

    // q119: same md5 hash-order key as q69's cap, running-sum-before
    // via ROWS UNBOUNDED PRECEDING AND 1 PRECEDING.
    "q119_token_cap" ->
      """WITH k AS (SELECT doc_id, source,
             len(string_split(text, ' '))::BIGINT AS wc,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS key
           FROM documents),
         r AS (SELECT doc_id, source,
                 coalesce(sum(wc) OVER (PARTITION BY source ORDER BY key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
               FROM k)
         SELECT doc_id, source FROM r WHERE cum < 800 ORDER BY doc_id""",

    // q120: q21's marker-count argmax rolled up to a confusion matrix.
    "q120_langid_confusion" ->
      """WITH p AS (
           SELECT lang,
             CASE WHEN gmax IS NULL OR gmax = 0 THEN 'und'
                  WHEN s_en = gmax THEN 'en'
                  WHEN s_de = gmax THEN 'de'
                  WHEN s_fr = gmax THEN 'fr'
                  WHEN s_es = gmax THEN 'es'
                  ELSE 'zh' END AS pred
           FROM (
             SELECT lang, s_en, s_de, s_fr, s_es, s_zh,
               greatest(s_en, s_de, s_fr, s_es, s_zh) AS gmax
             FROM (
               SELECT lang,
                 len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x))) AS s_en,
                 len(list_filter(t, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
                 len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
                 len(list_filter(t, x -> list_contains(['el','los','las','es','una'], x))) AS s_es,
                 len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
               FROM (SELECT lang, string_split(text, ' ') AS t FROM documents))))
         SELECT lang, pred, count(*)::BIGINT AS n FROM p
         GROUP BY lang, pred ORDER BY lang, pred""",

    // q121: floor(log2(max(wc,1))) buckets — integer-exact, map-side.
    "q121_length_histogram" ->
      """SELECT source,
           floor(log2(greatest(len(string_split(text, ' ')), 1)::DOUBLE))::BIGINT AS len_bucket,
           count(*)::BIGINT AS n
         FROM documents GROUP BY 1, 2 ORDER BY source, len_bucket""",

    // q122: the indexed probe must equal the exact cross-corpus pair
    // set (q55's oracle verbatim — same split, same tau).
    "q122_lsh_index" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
         SELECT ref_id, new_id, j AS jaccard FROM (
           SELECT r.doc_id AS ref_id, b.doc_id AS new_id,
                  round(len(list_intersect(r.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(r.sh, b.sh))), 6) AS j
           FROM sh r JOIN sh b ON r.doc_id % 3 = 0 AND b.doc_id % 3 <> 0)
         WHERE j >= 0.5 ORDER BY ref_id, new_id""",

    // q212: both rankings replayed per dim — prefix-slice cosines via
    // the same ascending-fold kernel (list_inner_product == the
    // engine's array_dot), hit counts as plain inner-join counts.
    "q212_matryoshka_recall" -> {
      def cosD(a: String, b: String, d: Int) =
        s"""round(list_inner_product($a.emb[1:$d], $b.emb[1:$d])
           / (sqrt(list_inner_product($a.emb[1:$d], $a.emb[1:$d]))
            * sqrt(list_inner_product($b.emb[1:$d], $b.emb[1:$d]))), 6)"""
      def topk(d: Int, nameAs: String) =
        s"""$nameAs AS (SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY ${cosD("q", "c", d)} DESC, c.vec_id) AS rn
             FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id >= 10)
           WHERE rn <= 5)"""
      s"""WITH e AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         ${topk(16, "t16")},
         ${topk(64, "t64")}
         SELECT q_id, dim, n_hits FROM (
           SELECT a.q_id, 16::BIGINT AS dim, count(*)::BIGINT AS n_hits
           FROM t16 a JOIN t64 b USING (q_id, c_id) GROUP BY 1
           UNION ALL
           SELECT a.q_id, 64::BIGINT, count(*)::BIGINT
           FROM t64 a JOIN t64 b USING (q_id, c_id) GROUP BY 1)
         ORDER BY dim, q_id"""
    },

    // q210: every weight replayed bit-for-bit — same floor-ln grid,
    // int64 weights, HUGEINT dot/norm sums, identical final double.
    "q210_tfidf_pairs" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents),
         tf AS (SELECT doc_id AS doc, t, count(*)::BIGINT AS tf
           FROM tok GROUP BY 1, 2),
         nn AS (SELECT count(DISTINCT doc_id)::BIGINT AS n FROM documents),
         dfq AS (SELECT t, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         w AS (SELECT doc, t,
             (tf * CAST(floor(ln(nn.n::DOUBLE / df) * 1e6) AS BIGINT)) AS w
           FROM tf JOIN dfq USING (t) CROSS JOIN nn
           WHERE df <= 500
             AND CAST(floor(ln(nn.n::DOUBLE / df) * 1e6) AS BIGINT) > 0),
         norms AS (SELECT doc, sum((w::HUGEINT) * w) AS n2 FROM w GROUP BY 1),
         dots AS (SELECT a.doc AS doc_a, b.doc AS doc_b,
             sum((a.w::HUGEINT) * b.w) AS dot
           FROM w a JOIN w b ON a.t = b.t AND a.doc < b.doc
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, cos FROM (
           SELECT d.doc_a, d.doc_b,
             floor(d.dot::DOUBLE
               / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) * 1e6) / 1e6 AS cos
           FROM dots d
           JOIN norms na ON d.doc_a = na.doc
           JOIN norms nb ON d.doc_b = nb.doc)
         WHERE cos >= 0.9 ORDER BY doc_a, doc_b""",

    // q206: q122's replay minus the forgotten reference slice — the
    // delete must make those docs exactly as absent as never-indexed.
    "q206_index_forget" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
         SELECT ref_id, new_id, j AS jaccard FROM (
           SELECT r.doc_id AS ref_id, b.doc_id AS new_id,
                  round(len(list_intersect(r.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(r.sh, b.sh))), 6) AS j
           FROM sh r JOIN sh b
             ON r.doc_id % 3 = 0 AND r.doc_id % 5 <> 0 AND b.doc_id % 3 <> 0)
         WHERE j >= 0.5 ORDER BY ref_id, new_id""",

    // q118: q115's shingle definition on both sides; known = the gram
    // exists in the standing (doc_id % 5 != 0) corpus.
    "q118_batch_novelty" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id,
             unnest(CASE WHEN len(t) < 3 THEN [text]
               ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS g
           FROM d),
         ref AS (SELECT DISTINCT g FROM sh WHERE doc_id % 5 <> 0),
         b AS (SELECT s.doc_id, s.g,
                 CASE WHEN r.g IS NULL THEN 0 ELSE 1 END AS known
               FROM sh s LEFT JOIN ref r ON s.g = r.g
               WHERE s.doc_id % 5 = 0)
         SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(known)::BIGINT AS n_known,
           floor((count(*) - sum(known))::DOUBLE / count(*) * 1e6) / 1e6 AS novelty
         FROM b GROUP BY doc_id ORDER BY doc_id""",

    // q115: q85's shingle definition (short docs collapse to one
    // whole-text shingle), gram doc-frequency >= 2 = shared.
    "q115_ngram_novelty" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id,
             unnest(CASE WHEN len(t) < 3 THEN [text]
               ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS g
           FROM d),
         f AS (SELECT g, count(DISTINCT doc_id) AS nd FROM sh GROUP BY g)
         SELECT s.doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN f.nd >= 2 THEN 0 ELSE 1 END)::BIGINT AS n_novel,
           floor(sum(CASE WHEN f.nd >= 2 THEN 0 ELSE 1 END)::DOUBLE
                 / count(*) * 1e6) / 1e6 AS novelty
         FROM sh s JOIN f ON s.g = f.g
         GROUP BY s.doc_id ORDER BY s.doc_id""",

    // q116: q107's component labeling rolled up to a size histogram.
    "q116_cluster_report" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node, min(reach) AS component_id FROM walk GROUP BY node),
         sz AS (SELECT component_id, count(*)::BIGINT AS cluster_size
                FROM comp GROUP BY component_id)
         SELECT cluster_size, count(*)::BIGINT AS n_clusters
         FROM sz GROUP BY cluster_size ORDER BY cluster_size""",

    // q152: containment semantics replayed with P contains() scans —
    // the oracle pays the P-fold cost the automaton avoids.
    "q152_multi_contains" ->
      """WITH ps AS (SELECT unnest(['join order', 'table scan', 'spark window',
                                    'slow sort', 'customer line']) AS p,
                            unnest(range(0, 5)) AS i)
         SELECT d.doc_id, ps.i::BIGINT AS pat
         FROM documents d CROSS JOIN ps
         WHERE contains(d.text, ps.p)
         ORDER BY doc_id, pat""",

    // q151: full sketch replay — same md5 bucket derivation, zero-
    // filled grid via the cross-joined spine.
    "q151_cms_sketch" ->
      """WITH wd AS (SELECT source, unnest(string_split(text, ' ')) AS w
                     FROM documents),
         js AS (SELECT unnest(range(0, 3)) AS j),
         bs AS (SELECT unnest(range(0, 32)) AS b),
         hits AS (SELECT source, j,
             ('0x' || substr(md5(j::VARCHAR || ':' || w), 1, 15))::BIGINT % 32 AS b
           FROM wd CROSS JOIN js),
         cnt AS (SELECT source, j, b, count(*)::BIGINT AS c
                 FROM hits GROUP BY 1, 2, 3),
         grid AS (SELECT s.source, js.j, bs.b
                  FROM (SELECT DISTINCT source FROM documents) s
                  CROSS JOIN js CROSS JOIN bs)
         SELECT g.source, (g.j * 32 + g.b)::BIGINT AS pos,
           coalesce(c.c, 0)::BIGINT AS c
         FROM grid g LEFT JOIN cnt c
           ON g.source = c.source AND g.j = c.j AND g.b = c.b
         ORDER BY g.source, pos""",

    // q149: PMI over the q111 bigram-extraction idiom, identical op
    // order in the single log expression.
    "q149_collocations" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pairs AS (SELECT u['w1'] AS w1, u['w2'] AS w2 FROM (
           SELECT unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
             i -> {'w1': t[i], 'w2': t[i+1]})) AS u FROM toks)),
         bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
         wd AS (SELECT unnest(t) AS w FROM toks),
         uni AS (SELECT w, count(*)::BIGINT AS c FROM wd GROUP BY 1),
         tot AS (SELECT (SELECT sum(c) FROM uni)::BIGINT AS nu,
                        (SELECT sum(c12) FROM bi)::BIGINT AS nb)
         SELECT b.w1, b.w2, b.c12,
           floor(ln((b.c12::DOUBLE * tt.nu * tt.nu)
                    / (tt.nb::DOUBLE * u1.c * u2.c)) * 1e6) / 1e6 AS pmi
         FROM bi b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
         CROSS JOIN tot tt
         WHERE b.c12 >= 5
         ORDER BY pmi DESC, b.w1, b.w2 LIMIT 50""",

    // q150: same quantized dimension sums, list-ordered vectors, one
    // rounded cosine per label.
    "q150_centroid_drift" ->
      """WITH e2 AS (SELECT label,
             CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
             list_transform(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
         px AS (SELECT label, side, u['p'] AS p, u['v'] AS v FROM (
           SELECT label, side, unnest(list_transform(range(1, 65),
             i -> {'p': i, 'v': CAST(floor(emb[i] * 1e6 + 0.5) AS BIGINT)})) AS u
           FROM e2)),
         sums AS (SELECT label, side, p, sum(v)::BIGINT AS s2,
                    count(*)::BIGINT AS cnt
                  FROM px GROUP BY 1, 2, 3),
         vecs AS (SELECT label, side, list(s2 ORDER BY p) AS vec,
                    max(cnt)::BIGINT AS n
                  FROM sums GROUP BY 1, 2)
         SELECT a.label,
           round(
             list_sum(list_transform(range(1, 65), i -> a.vec[i]::DOUBLE * b.vec[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> a.vec[i]::DOUBLE * a.vec[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.vec[i]::DOUBLE * b.vec[i]::DOUBLE)))), 6)
             AS drift_cos,
           a.n AS n_a, b.n AS n_b
         FROM vecs a JOIN vecs b ON a.label = b.label
         WHERE a.side = 'a' AND b.side = 'b'
         ORDER BY a.label""",

    // q148: q116's reachability-walk components, coalesced to self for
    // unpaired docs, split by the same first-md5-nibble rule.
    "q148_leakage_split" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node, min(reach) AS component_id FROM walk GROUP BY node),
         lab AS (SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS grp
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
         SELECT doc_id, grp,
           CASE WHEN substr(md5(grp::VARCHAR), 1, 1) IN ('c', 'd', 'e', 'f')
                THEN 'test' ELSE 'train' END AS split
         FROM lab ORDER BY doc_id""",

    // q117: q20's quality, exact percent ranks (ties share a rank),
    // the explicit (rank-1)/greatest(n-1,1) form on both engines.
    "q117_quality_pct" ->
      """WITH q AS (
           SELECT doc_id, source,
             floor((0.3 * least(1.0, wc / 50)
                  + 0.3 * ttr
                  + 0.2 * least(1.0, mean_len / 8)
                  + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
           FROM (
             SELECT doc_id, source,
               len(t)::BIGINT AS wc,
               len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t) AS stop_ratio,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len
             FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)))
         SELECT doc_id, source, quality,
           floor((rank() OVER (PARTITION BY source ORDER BY quality) - 1)::DOUBLE
                 / greatest(count(*) OVER (PARTITION BY source) - 1, 1) * 1e6) / 1e6 AS q_pct
         FROM q ORDER BY doc_id""",

    // q114: the same combining-mark injection (chr(769) = U+0301),
    // DuckDB's nfc_normalize/strip_accents match Java Normalizer
    // NFC / NFD-minus-Mn semantics.
    "q114_text_normalize" ->
      """SELECT doc_id,
           nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS norm,
           strip_accents(nfc_normalize(replace(text, 'e', 'e' || chr(769)))) AS folded
         FROM documents ORDER BY doc_id""",

    // q113: same md5 rank key as the cap/sample family, count window,
    // thresholds via the (0.8 + 0.1) fold.
    "q113_stratified_split" ->
      """WITH k AS (SELECT doc_id, source,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS key
           FROM documents),
         r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk,
                 count(*) OVER (PARTITION BY source) AS n
               FROM k)
         SELECT doc_id, source,
           CASE WHEN rk <= floor(n * 0.8) THEN 'train'
                WHEN rk <= floor(n * (0.8 + 0.1)) THEN 'val'
                ELSE 'test' END AS split
         FROM r ORDER BY doc_id""",

    // q112: q20's quality expression, per-source DECIMAL moments
    // (decimal square BEFORE the sum), the identical z expression.
    "q112_quality_zscore" ->
      """WITH q AS (
           SELECT doc_id, source,
             floor((0.3 * least(1.0, wc / 50)
                  + 0.3 * ttr
                  + 0.2 * least(1.0, mean_len / 8)
                  + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
           FROM (
             SELECT doc_id, source,
               len(t)::BIGINT AS wc,
               len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t) AS stop_ratio,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len
             FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents))),
         st AS (SELECT source,
                  sum(quality::DECIMAL(18,6)) AS s,
                  sum(quality::DECIMAL(18,6) * quality::DECIMAL(18,6)) AS ssq,
                  count(*)::BIGINT AS n
                FROM q GROUP BY source),
         z AS (SELECT q.doc_id, q.source, q.quality,
                 CAST(st.s AS DOUBLE) / st.n AS m,
                 (CAST(st.ssq AS DOUBLE) -
                   CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE) / st.n) / st.n AS v
               FROM q JOIN st ON q.source = st.source)
         SELECT doc_id, source, quality,
           CASE WHEN v <= 0.0 THEN 0.0
                ELSE round((quality - m) / sqrt(v), 6) END AS zq
         FROM z ORDER BY doc_id""",

    // q111: the KN statistics as rollups of the observed-bigram count
    // table; the P expression written in the identical op order.
    "q111_kneser_ney" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pairs AS (
           SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2 FROM (
             SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
               i -> {'w1': t[i], 'w2': t[i+1]})) AS u
             FROM toks)),
         bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
         l AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1f
               FROM bi GROUP BY 1),
         r AS (SELECT w2, count(*)::BIGINT AS n1b FROM bi GROUP BY 1),
         ty AS (SELECT count(*)::BIGINT AS types FROM bi),
         stats AS (
           SELECT b.w1, b.w2,
             round(ln((b.c12::DOUBLE - 0.75) / l.c1::DOUBLE +
               (0.75 * l.n1f::DOUBLE / l.c1::DOUBLE) *
                 (r.n1b::DOUBLE / ty.types::DOUBLE)), 6)::DECIMAL(16,6) AS lp
           FROM bi b JOIN l ON b.w1 = l.w1 JOIN r ON b.w2 = r.w2 CROSS JOIN ty)
         SELECT p.doc_id, count(*)::BIGINT AS n_bigrams,
           floor(-CAST(sum(s.lp) AS DOUBLE) / count(*) * 1e6) / 1e6 AS xent_kn
         FROM pairs p JOIN stats s ON p.w1 = s.w1 AND p.w2 = s.w2
         GROUP BY p.doc_id ORDER BY p.doc_id""",

    // q110: in the exact regime the sketch equals the plain count
    // table sorted (c desc, token).
    "q110_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
                    WHERE text IS NOT NULL),
         c AS (SELECT tok, count(*)::BIGINT AS c FROM w GROUP BY tok)
         SELECT row_number() OVER (ORDER BY c DESC, tok)::BIGINT AS rank,
           tok AS token, c
         FROM c ORDER BY rank""",

    // q140: q71's report CTE + quantile_disc quartiles over the same
    // floored-double quality + q138's distinct-shingle count, joined
    // per source.
    "q140_dataset_card" ->
      """WITH base AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS t
                       FROM documents),
         q AS (SELECT doc_id, source, lang, md5(text) AS fp,
             len(t)::BIGINT AS wc,
             floor((0.3 * least(1.0, len(t) / 50)
                   + 0.3 * (len(list_distinct(t))::DOUBLE / len(t))
                   + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                   + 0.2 * (len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t))) * 1e6) / 1e6 AS qd
           FROM base),
         rep AS (SELECT source, count(*)::BIGINT AS n_docs,
             count(DISTINCT fp)::BIGINT AS n_distinct,
             floor((1.0 - count(DISTINCT fp)::DOUBLE / nullif(count(fp), 0)) * 1e6) / 1e6 AS dup_rate,
             sum(wc)::BIGINT AS n_tokens,
             floor(sum(wc)::DOUBLE / nullif(count(fp), 0) * 1e6) / 1e6 AS avg_tokens,
             floor(sum(qd::DECIMAL(16,6))::DOUBLE / nullif(count(fp), 0) * 1e6) / 1e6 AS avg_quality,
             count(DISTINCT lang)::BIGINT AS n_langs
           FROM q GROUP BY source),
         quart AS (SELECT source,
             quantile_disc(qd, 0.25) AS q25,
             quantile_disc(qd, 0.5) AS q50,
             quantile_disc(qd, 0.75) AS q75
           FROM q GROUP BY source),
         ss AS (SELECT DISTINCT source, sh FROM (
             SELECT source,
               unnest(CASE WHEN len(t) < 3 THEN [text]
                 ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS sh
             FROM base)),
         shc AS (SELECT source, count(*)::BIGINT AS n_shingles FROM ss GROUP BY source)
         SELECT rep.*, quart.q25, quart.q50, quart.q75, shc.n_shingles
         FROM rep JOIN quart ON rep.source = quart.source
         JOIN shc ON rep.source = shc.source
         ORDER BY rep.source""",

    // q141: full training replay — the jaccard pair CTE becomes the
    // symmetric edge list, then 5 PageRank iterations unroll as CTE
    // generations of the SAME int64 fixed-point arithmetic (// is
    // DuckDB integer division; Spark's div — identical on the
    // non-negative values here).
    "q141_neardup_pagerank" -> pageRankSql,
    "q153_ppr_related" -> pprSql,

    // q159: the q148 reachability-walk components + size rollup +
    // one 1.0/size division.
    "q159_dedup_weights" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node, min(reach) AS component_id FROM walk GROUP BY node),
         lab AS (SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS grp
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         sz AS (SELECT grp, count(*)::BIGINT AS cluster_size FROM lab GROUP BY 1)
         SELECT l.doc_id, l.grp, sz.cluster_size,
           1.0 / sz.cluster_size AS w
         FROM lab l JOIN sz ON l.grp = sz.grp
         ORDER BY l.doc_id""",

    // q158: same enumeration (posting × other-source spine, left join
    // for the absent side), identical term op order, DECIMAL sum.
    "q158_source_js" -> {
      val pa = "((ca + 1)::DOUBLE / (na + v))"
      val qb = "((cb + 1)::DOUBLE / (nb + v))"
      val m = s"(($pa + $qb) / 2.0)"
      s"""WITH cnt AS (SELECT source AS src, w, count(*)::BIGINT AS c FROM (
             SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY 1, 2),
         tot AS (SELECT src, sum(c)::BIGINT AS n FROM cnt GROUP BY 1),
         vv AS (SELECT count(DISTINCT w)::BIGINT AS v FROM cnt),
         rws AS (SELECT a.src AS sa, tb.src AS sb, a.w, a.c AS ca,
                   coalesce(b.c, 0)::BIGINT AS cb, ta.n AS na, tb.n AS nb, vv.v
                 FROM cnt a
                 CROSS JOIN tot tb
                 LEFT JOIN cnt b ON b.src = tb.src AND b.w = a.w
                 JOIN tot ta ON ta.src = a.src
                 CROSS JOIN vv
                 WHERE a.src <> tb.src),
         terms AS (SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b, w,
                     round(0.5 * $pa * ln($pa / $m)
                         + 0.5 * $qb * ln($qb / $m), 9)::DECIMAL(28,9) AS term
                   FROM rws),
         ded AS (SELECT source_a, source_b, w, max(term) AS t
                 FROM terms GROUP BY 1, 2, 3)
         SELECT source_a, source_b, floor(sum(t)::DOUBLE * 1e6) / 1e6 AS js
         FROM ded GROUP BY 1, 2 ORDER BY source_a, source_b"""
    },

    // q156: the identical plane literals, list_sum dot, same
    // floor grid and 1/sqrt(16) scale.
    "q156_jl_project" -> {
      val parts = (0 until 16).map { p =>
        s"""SELECT vec_id, ${p}::BIGINT AS j,
             floor(list_sum(list_transform(range(1, 65),
               i -> emb[i] * (${planeSql(p)})[i])) / sqrt(16.0) * 1e6) / 1e6 AS v
           FROM e"""
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
                     FROM embeddings)
         $parts ORDER BY vec_id, j"""
    },

    // q157: same sqrt grid, exact int64 normalizer, one `//`.
    "q157_temperature_mix" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS n_docs
                    FROM documents GROUP BY 1),
         s AS (SELECT source, n_docs,
                 CAST(floor(sqrt(n_docs::DOUBLE) * 1e6) AS BIGINT) AS sfx
               FROM c),
         tt AS (SELECT sum(sfx)::BIGINT AS t FROM s)
         SELECT source, n_docs, sfx,
           ((sfx * 1000000) // tt.t)::DOUBLE / 1e6 AS w
         FROM s CROSS JOIN tt ORDER BY source""",

    // q155: id-ordered 3-way self-join counts each triangle once
    // (a<b<c); per-node rollup over the triangle corners.
    "q155_triangle_stats" ->
      s"""$shingleCte,
         $jaccardPairsCte,
         und AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
         deg AS (SELECT id, count(*)::BIGINT AS degree FROM (
                   SELECT a AS id FROM und UNION ALL SELECT b FROM und)
                 GROUP BY id),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM und e1 JOIN und e2 ON e1.b = e2.a
                 JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         pn AS (SELECT id, count(*)::BIGINT AS triangles FROM (
                  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
                  UNION ALL SELECT z FROM tri)
                GROUP BY id)
         SELECT d.doc_id, coalesce(deg.degree, 0)::BIGINT AS degree,
           coalesce(pn.triangles, 0)::BIGINT AS triangles
         FROM documents d
         LEFT JOIN deg ON d.doc_id = deg.id
         LEFT JOIN pn ON d.doc_id = pn.id
         ORDER BY d.doc_id""",
    "q154_label_prop" -> labelPropSql,

    "q161_kcore" -> kcoreSql,

    "q163_retrieval_eval" -> retrievalEvalSql,

    // q178: same int64 grid pooling, truncating `//`, identical
    // final norm expression.
    "q178_embed_pool" ->
      """WITH e AS (SELECT vec_id // 4 AS g, r.k AS j,
             CAST(floor(embedding[r.k + 1]::DOUBLE * 1e6 + 0.5) AS BIGINT) AS fx
           FROM embeddings, range(0, 64) r(k)),
         pooled AS (SELECT g, j, count(*)::BIGINT AS n, sum(fx)::BIGINT AS sfx
                    FROM e GROUP BY 1, 2),
         p2 AS (SELECT g, j, (sfx // n)::BIGINT AS pfx FROM pooled),
         norms AS (SELECT g, sum(pfx * pfx)::BIGINT AS n2 FROM p2 GROUP BY 1)
         SELECT p.g, p.j, p.pfx,
           floor(p.pfx / sqrt(n.n2) * 1e6) / 1e6 AS pooled_norm
         FROM p2 p JOIN norms n ON p.g = n.g
         ORDER BY p.g, p.j""",

    // q179: q27's exact and q40's IVF replays at k=10 / nprobe=2,
    // full-outer recall rollup on the `//` grid.
    "q179_ann_recall" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE vec_id >= 10
                  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         c AS (SELECT vec_id AS c_id, emb, nrm FROM n WHERE vec_id >= 10),
         q AS (SELECT vec_id AS q_id, emb, nrm FROM n WHERE vec_id < 10),
         assigned AS (SELECT list_id, c_id, emb, nrm FROM (
           SELECT ct.cent_id AS list_id, c.c_id, c.emb, c.nrm,
             row_number() OVER (PARTITION BY c.c_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> c.emb[i] * ct.cent_emb[i]))
                 / (c.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM c CROSS JOIN cent ct) WHERE rn = 1),
         probes AS (SELECT q_id, emb, nrm, list_id FROM (
           SELECT q.q_id, q.emb, q.nrm, ct.cent_id AS list_id,
             row_number() OVER (PARTITION BY q.q_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> q.emb[i] * ct.cent_emb[i]))
                 / (q.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM q CROSS JOIN cent ct) WHERE rn <= 2),
         approx AS (SELECT q_id, c_id FROM (
           SELECT p.q_id, a.c_id,
             row_number() OVER (PARTITION BY p.q_id
               ORDER BY ${duckCosPre("p", "a")} DESC, a.c_id) AS rank
           FROM probes p JOIN assigned a USING (list_id))
           WHERE rank <= 10),
         exact AS (SELECT q_id, c_id FROM (
           SELECT q.q_id, c.c_id,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY ${duckCosPre("q", "c")} DESC, c.c_id) AS rank
           FROM q CROSS JOIN c)
           WHERE rank <= 10),
         j AS (SELECT coalesce(e.q_id, a.q_id) AS q_id,
                 (e.q_id IS NOT NULL) AS in_e, (a.q_id IS NOT NULL) AS in_a
               FROM exact e FULL OUTER JOIN approx a
               ON e.q_id = a.q_id AND e.c_id = a.c_id)
         SELECT q_id,
           sum(CASE WHEN in_e THEN 1 ELSE 0 END)::BIGINT AS n_exact,
           sum(CASE WHEN in_a THEN 1 ELSE 0 END)::BIGINT AS n_approx,
           sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END)::BIGINT AS n_common,
           ((sum(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) * 1000000)
             // sum(CASE WHEN in_e THEN 1 ELSE 0 END))::DOUBLE / 1e6 AS recall
         FROM j GROUP BY 1 ORDER BY q_id""",

    // q177: q25's simhash replay at ham<=2 vs the exact pair set,
    // full-outer confusion rollup on the same `//` grids.
    "q177_sketch_eval" ->
      s"""$shingleCte,
         hs AS (SELECT doc_id, sh,
                  list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hv
                FROM d),
         sims AS (SELECT doc_id, sh,
             list_sum(list_transform(range(0, 60), k ->
               CASE WHEN list_sum(list_transform(hv, x ->
                      CASE WHEN (x >> k) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << k) ELSE 0::BIGINT END))::BIGINT AS sim
           FROM hs),
         pred AS (SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.sim, b.sim)) AS ham,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
             FROM sims a JOIN sims b ON a.doc_id < b.doc_id)
           WHERE ham <= 2 AND jaccard >= 0.5),
         tr AS (SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
             FROM d a JOIN d b ON a.doc_id < b.doc_id)
           WHERE jaccard >= 0.5),
         j AS (SELECT coalesce(p.doc_a, t.doc_a) AS doc_a,
                 coalesce(p.doc_b, t.doc_b) AS doc_b,
                 (p.doc_a IS NOT NULL) AS in_p, (t.doc_a IS NOT NULL) AS in_t
               FROM pred p FULL OUTER JOIN tr t
               ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
         c AS (SELECT
                 sum(CASE WHEN in_t THEN 1 ELSE 0 END)::BIGINT AS n_truth,
                 sum(CASE WHEN in_p THEN 1 ELSE 0 END)::BIGINT AS n_pred,
                 sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END)::BIGINT AS tp,
                 sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END)::BIGINT AS fp,
                 sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END)::BIGINT AS fn
               FROM j)
         SELECT n_truth, n_pred, tp, fp, fn,
           (CASE WHEN n_pred > 0 THEN (tp * 1000000) // n_pred ELSE 0 END)::DOUBLE / 1e6 AS precision,
           (CASE WHEN n_truth > 0 THEN (tp * 1000000) // n_truth ELSE 0 END)::DOUBLE / 1e6 AS recall
         FROM c""",

    // q175: same power-of-two bucket key and `//` waste grids.
    "q175_padding_waste" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok
                    FROM documents WHERE text IS NOT NULL),
         b AS (SELECT doc_id, n_tok,
                 CAST(power(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT) AS btop
               FROM d),
         m AS (SELECT max(n_tok)::BIGINT AS gmax FROM d)
         SELECT btop, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS real_tokens,
           (btop * count(*))::BIGINT AS padded_bucketed,
           (count(*) * m.gmax)::BIGINT AS padded_global,
           (((btop * count(*) - sum(n_tok)) * 1000000)
             // (btop * count(*)))::DOUBLE / 1e6 AS waste_bucketed,
           (((count(*) * m.gmax - sum(n_tok)) * 1000000)
             // (count(*) * m.gmax))::DOUBLE / 1e6 AS waste_global
         FROM b CROSS JOIN m GROUP BY btop, m.gmax ORDER BY btop""",

    // q176: HUGEINT gap moments (same integers as the DECIMAL sums),
    // identical guarded σ/μ expression on the 1e-6 grid.
    "q176_burstiness" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
         g AS (SELECT user_id,
                 t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap
               FROM e),
         gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
         a AS (SELECT user_id, count(*)::BIGINT AS n_gaps,
                 CAST(sum(gap::HUGEINT) AS DOUBLE) AS sd,
                 CAST(sum(gap::HUGEINT * gap::HUGEINT) AS DOUBLE) AS ssd
               FROM gg GROUP BY 1)
         SELECT user_id, n_gaps,
           floor(sd / n_gaps * 1e6) / 1e6 AS mean_gap_us,
           CASE WHEN ssd > 0 THEN
             floor((sqrt(greatest(ssd / n_gaps - (sd / n_gaps) * (sd / n_gaps), 0))
                    - sd / n_gaps)
                 / (sqrt(greatest(ssd / n_gaps - (sd / n_gaps) * (sd / n_gaps), 0))
                    + sd / n_gaps) * 1e6) / 1e6
           ELSE 0.0 END AS burstiness
         FROM a ORDER BY user_id""",

    // q171: q20's quality expression, row_number mod 8, DECIMAL mean.
    "q171_curriculum_shards" ->
      """WITH q AS (
           SELECT doc_id,
             floor((0.3 * least(1.0, wc / 50)
                  + 0.3 * ttr
                  + 0.2 * least(1.0, mean_len / 8)
                  + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
           FROM (
             SELECT doc_id,
               len(t)::BIGINT AS wc,
               len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t) AS stop_ratio,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
         r AS (SELECT doc_id, quality,
                 row_number() OVER (ORDER BY quality, doc_id)::BIGINT AS rn
               FROM q)
         SELECT ((rn - 1) % 8)::BIGINT AS shard, count(*)::BIGINT AS n,
           min(quality) AS q_min, max(quality) AS q_max,
           floor(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 1e6) / 1e6 AS q_mean
         FROM r GROUP BY 1 ORDER BY shard""",

    // q170: identical perturbation, blocking passes, and integer
    // agreement weights.
    "q170_record_linkage" ->
      s"""WITH $linkageCtes
         SELECT id_a, id_b, score, score >= 9 AS is_match
         FROM sc ORDER BY id_a, id_b""",

    // q190: q159's reachability-walk weights + the same int64 token
    // grid rollup.
    "q190_effective_size" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         en AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM en
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node, min(reach) AS component_id FROM walk GROUP BY node),
         lab AS (SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS grp
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         sz AS (SELECT grp, count(*)::BIGINT AS cluster_size FROM lab GROUP BY 1),
         tok AS (SELECT doc_id, source,
                   len(string_split(text, ' '))::BIGINT AS n_tok FROM documents)
         SELECT t.source, count(*)::BIGINT AS n_docs,
           sum(t.n_tok)::BIGINT AS raw_tokens,
           (sum((t.n_tok * 1000000) // sz.cluster_size) // 1000000)::BIGINT
             AS effective_tokens
         FROM tok t
         JOIN lab l ON t.doc_id = l.doc_id
         JOIN sz ON l.grp = sz.grp
         GROUP BY t.source ORDER BY t.source""",

    // q191: per corpus vector the best probe by (cos desc, p_id asc);
    // a row exists iff the best cosine clears tau (best-of-filtered ==
    // filtered-best since max >= tau whenever any candidate is).
    "q191_semantic_decon" ->
      s"""SELECT c_id, p_id, cos FROM (
           SELECT c.vec_id AS c_id, p.vec_id AS p_id, ${duckCos("p", "c")} AS cos,
             row_number() OVER (PARTITION BY c.vec_id
               ORDER BY ${duckCos("p", "c")} DESC, p.vec_id) AS rn
           FROM embeddings c JOIN embeddings p ON c.vec_id >= 10 AND p.vec_id < 10)
         WHERE rn = 1 AND cos >= 0.40 ORDER BY c_id""",

    // q192: q48's banded-bucket candidate generation (same md5 plane
    // literals), nonnegative-cosine gate, rank both directions, keep
    // edges nominated from BOTH ends.
    "q192_mutual_knn" ->
      s"""$embCte,
         bk AS (SELECT vec_id, emb, nrm, [${
        (0 until 16).map(b =>
          (0 until 6).map(j => planeBitSql(6 * b + j, 1L << j)).mkString(" + ") +
            s" + ${b.toLong << 6}::BIGINT")
          .mkString(", ")
      }] AS bk FROM n)
         , p0 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                  ${duckCosPre("a", "b")} AS cos
                FROM bk a JOIN bk b
                  ON a.vec_id < b.vec_id AND list_has_any(a.bk, b.bk)),
         pairs AS (SELECT id_a, id_b, cos FROM p0 WHERE cos >= 0.0),
         directed AS (SELECT id_a AS src, id_b AS dst, cos FROM pairs
                      UNION ALL SELECT id_b, id_a, cos FROM pairs),
         knn AS (SELECT src, dst, cos FROM (
             SELECT src, dst, cos,
               row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
             FROM directed) WHERE rn <= 3)
         SELECT k.src AS id_a, k.dst AS id_b, k.cos
         FROM knn k JOIN knn r ON k.src = r.dst AND k.dst = r.src
         WHERE k.src < k.dst ORDER BY id_a, id_b""",

    // q193: q116's reachability-walk components, origin = min node
    // (the component label), rolled to (origin_source, dup_source).
    "q193_dup_origin" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         en AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM en
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node AS doc_id, min(reach) AS component_id
                  FROM walk GROUP BY node),
         lab AS (SELECT c.doc_id, c.component_id, d.source
                 FROM comp c JOIN documents d USING (doc_id)),
         orig AS (SELECT component_id, source AS origin_source
                  FROM lab WHERE doc_id = component_id)
         SELECT o.origin_source, l.source AS dup_source,
           count(DISTINCT l.component_id)::BIGINT AS n_clusters,
           count(*)::BIGINT AS n_docs
         FROM lab l JOIN orig o USING (component_id)
         WHERE l.doc_id <> l.component_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q194: q19's token definitions rolled per source; ratios on the
    // integer 1e-6 grid (floor div, then one exact /1e6).
    "q194_tokenizer_fertility" ->
      """WITH s AS (SELECT source,
           len(string_split(text, ' '))::BIGINT AS n_ws,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS n_bpe,
           length(text)::BIGINT AS n_chars
         FROM documents)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_ws)::BIGINT AS words,
           sum(n_bpe)::BIGINT AS tokens,
           sum(n_chars)::BIGINT AS chars,
           ((sum(n_bpe)::BIGINT * 1000000) // sum(n_ws)::BIGINT) / 1e6 AS fertility,
           ((sum(n_chars)::BIGINT * 1000000) // sum(n_bpe)::BIGINT) / 1e6 AS chars_per_token
         FROM s GROUP BY source ORDER BY source""",

    // q195: the q78 gopher pass, q75 blocklist predicate, q51
    // repetition fractions and q20 quality formula composed per doc,
    // rolled to per-source fail counts.
    "q195_quality_signals" ->
      """WITH t0 AS (SELECT doc_id, source, text, string_split(text, ' ') AS t
                     FROM documents),
         g AS (SELECT doc_id,
             (len(t) >= 50 AND len(t) <= 100000
              AND floor(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) * 1e6) / 1e6 >= 3.0
              AND floor(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) * 1e6) / 1e6 <= 10.0
              AND floor(len(list_filter(t, x -> NOT regexp_matches(x, '[a-z0-9]')))::DOUBLE / len(t) * 1e6) / 1e6 <= 0.1
              AND floor(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(t) * 1e6) / 1e6 >= 0.8
              AND len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x))) >= 2)
               AS gopher_pass,
             (len(list_intersect(list_distinct(t), ['window', 'salt', 'bloom'])) = 0)
               AS block_pass,
             (floor((0.3 * least(1.0, len(t) / 50)
                   + 0.3 * len(list_distinct(t))::DOUBLE / len(t)
                   + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                   + 0.2 * len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t))
                 * 1e6) / 1e6 >= 0.5) AS qual_pass
           FROM t0),
         bg AS (SELECT doc_id, unnest(
             CASE WHEN len(t) < 2 THEN [text]
                  ELSE list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1])) END) AS gr
           FROM t0),
         bc AS (SELECT doc_id, gr, count(*) AS c FROM bg GROUP BY 1, 2),
         rep0 AS (SELECT doc_id,
             (floor(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c) * 1e6) / 1e6 <= 0.2
              AND floor(max(c)::DOUBLE / sum(c) * 1e6) / 1e6 <= 0.1) AS rep_pass
           FROM bc GROUP BY doc_id)
         SELECT t0.source, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN NOT g.gopher_pass THEN 1 ELSE 0 END)::BIGINT AS n_gopher_fail,
           sum(CASE WHEN NOT g.block_pass THEN 1 ELSE 0 END)::BIGINT AS n_block_fail,
           sum(CASE WHEN NOT coalesce(rep0.rep_pass, true) THEN 1 ELSE 0 END)::BIGINT AS n_rep_fail,
           sum(CASE WHEN NOT g.qual_pass THEN 1 ELSE 0 END)::BIGINT AS n_qual_fail,
           sum(CASE WHEN g.gopher_pass AND g.block_pass
                     AND coalesce(rep0.rep_pass, true) AND g.qual_pass
                    THEN 1 ELSE 0 END)::BIGINT AS n_keep
         FROM t0 JOIN g USING (doc_id) LEFT JOIN rep0 USING (doc_id)
         GROUP BY t0.source ORDER BY t0.source""",

    // q196: q105's quantizer replay at nlist=8, rolled to cell sizes
    // with integer-grid share and imbalance.
    "q196_cluster_balance" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
         lab AS (SELECT cent_id, cent_emb, cent_nrm,
                   't' || row_number() OVER (ORDER BY cent_id) AS topic FROM cent),
         assigned AS (SELECT c_id, topic FROM (
           SELECT c.vec_id AS c_id, l.topic,
             row_number() OVER (PARTITION BY c.vec_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> c.emb[i] * l.cent_emb[i]))
                 / (c.nrm * l.cent_nrm), 6) DESC, l.cent_id) AS rn
           FROM n c CROSS JOIN lab l) WHERE rn = 1),
         sizes AS (SELECT topic, count(*)::BIGINT AS n FROM assigned GROUP BY topic),
         tot AS (SELECT sum(n)::BIGINT AS total, max(n)::BIGINT AS nmax FROM sizes)
         SELECT s.topic, s.n,
           ((s.n * 1000000) // t.total) / 1e6 AS share,
           ((t.nmax * 8 * 1000000) // t.total) / 1e6 AS imbalance
         FROM sizes s CROSS JOIN tot t ORDER BY s.topic""",

    // q200: same norm fold as duckCos, scaled-floor grid, integer
    // rollup.
    "q200_embedding_health" ->
      """WITH e AS (SELECT label, list_transform(embedding, x -> x::DOUBLE) AS emb
                    FROM embeddings),
         nn AS (SELECT label, len(emb) AS d,
                  sqrt(list_sum(list_transform(range(1, len(emb)+1),
                    i -> emb[i] * emb[i]))) AS nrm
                FROM e),
         fx AS (SELECT label, d, isfinite(nrm) AS fin,
                  CASE WHEN isfinite(nrm)
                       THEN floor(nrm * 1e6 + 0.5)::BIGINT END AS fx
                FROM nn)
         SELECT label, count(*)::BIGINT AS n,
           sum(CASE WHEN d <> 64 THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
           sum(CASE WHEN NOT fin THEN 1 ELSE 0 END)::BIGINT AS n_nonfinite,
           sum(CASE WHEN fx = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
           min(fx) / 1e6 AS min_norm,
           max(fx) / 1e6 AS max_norm,
           CASE WHEN count(fx) > 0
                THEN (sum(fx) // count(fx)) / 1e6 END AS mean_norm
         FROM fx GROUP BY label ORDER BY label""",

    // q199: identical rank rule, 1e-6 ln grid and single slope
    // expression.
    "q199_zipf_slope" ->
      """WITH wc AS (SELECT source, w, count(*)::BIGINT AS c FROM (
             SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY 1, 2),
         ranked AS (SELECT source, c,
             row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
           FROM wc),
         pts AS (SELECT source,
             floor(ln(rank::DOUBLE) * 1e6)::BIGINT AS x,
             floor(ln(c::DOUBLE) * 1e6)::BIGINT AS y
           FROM ranked WHERE rank <= 64),
         m AS (SELECT source, count(*)::BIGINT AS k,
             sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
             sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
           FROM pts GROUP BY source)
         SELECT source, k,
           round((k * sxy - sx * sy)::DOUBLE / (k * sxx - sx * sx)::DOUBLE, 6)
             AS slope
         FROM m ORDER BY source""",

    // q188: identical (k, side, id) total order and rank-window
    // candidate rule, same score body as q170.
    "q188_sorted_blocking" ->
      s"""WITH $linkageSidesSql,
         u AS (SELECT id_a AS id, 0::BIGINT AS side, strlen(text_a)::DOUBLE AS k FROM L
               UNION ALL
               SELECT id_b, 1::BIGINT, strlen(text_b)::DOUBLE FROM R),
         rk AS (SELECT id, side,
                  row_number() OVER (ORDER BY k, side, id)::BIGINT AS rn
                FROM u),
         cand AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
                  FROM rk l JOIN rk r
                  ON l.side = 0 AND r.side = 1 AND abs(l.rn - r.rn) <= 8),
         $linkageScoreSql
         SELECT id_a, id_b, score, score >= 9 AS is_match
         FROM sc ORDER BY id_a, id_b""",

    // q186: same deterministic top-1024 vocabulary cut and `//` grid.
    "q186_vocab_coverage" ->
      """WITH occ AS (SELECT source, unnest(string_split(text, ' ')) AS w
                      FROM documents),
         v AS (SELECT w, count(*)::BIGINT AS c FROM occ GROUP BY 1),
         top AS (SELECT w FROM (
             SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rk FROM v)
           WHERE rk <= 1024)
         SELECT source, count(*)::BIGINT AS n_tokens,
           count(top.w)::BIGINT AS n_covered,
           ((count(top.w) * 1000000) // count(*))::DOUBLE / 1e6 AS coverage
         FROM occ LEFT JOIN top ON occ.w = top.w
         GROUP BY source ORDER BY source""",

    // q185: q142's containment predicate, source rollup, `//` grid.
    "q185_containment_matrix" ->
      s"""$shingleCte,
         p AS (SELECT doc_a, doc_b FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6)
                 AS containment
             FROM d a JOIN d b ON a.doc_id <> b.doc_id)
           WHERE containment >= 0.8),
         ss AS (SELECT source AS source_contained, count(*)::BIGINT AS n_source_docs
                FROM documents GROUP BY 1),
         mx AS (SELECT sa.source AS source_contained,
                  sb.source AS source_container,
                  count(*)::BIGINT AS n_pairs,
                  count(DISTINCT p.doc_a)::BIGINT AS n_docs_contained
                FROM p
                JOIN documents sa ON p.doc_a = sa.doc_id
                JOIN documents sb ON p.doc_b = sb.doc_id
                GROUP BY 1, 2)
         SELECT mx.source_contained, mx.source_container, mx.n_pairs,
           mx.n_docs_contained,
           ((mx.n_docs_contained * 1000000) // ss.n_source_docs)::DOUBLE / 1e6
             AS pct_contained
         FROM mx JOIN ss ON mx.source_contained = ss.source_contained
         ORDER BY mx.source_contained, mx.source_container""",

    // q222: shard/shard_pos replayed from the md5 keys (q56's
    // formula), content + position-weighted fingerprints from text;
    // the round trip is the identity, so manifest_ok is uniformly
    // true — any reader drop/dupe/reorder would break the engine side
    // of the compare, not this oracle.
    "q222_shard_roundtrip" ->
      """WITH d AS (SELECT doc_id, source, text,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS k,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
           FROM documents),
         s AS (SELECT source, h, (k % 8) AS shard,
             (row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) - 1) AS shard_pos
           FROM d)
         SELECT source, count(*)::BIGINT AS n_docs,
           CAST(sum(h::HUGEINT) % 2305843009213693951 AS BIGINT) AS fingerprint,
           CAST(sum(h::HUGEINT * (shard * 100000 + shard_pos + 1)) % 2305843009213693951 AS BIGINT) AS order_fp,
           true AS manifest_ok
         FROM s GROUP BY source ORDER BY source""",

    // q228: the tar container round-trip is the identity over the
    // documents table — sharding, entry layout, and parsing are all
    // semantically invisible.
    "q228_tar_shards" ->
      """SELECT doc_id, text, lang, source
         FROM documents ORDER BY doc_id""",

    // q232: the priority-sampling rank replayed exactly — the key is
    // (hash+1)::DOUBLE / w::DOUBLE, IEEE-identical in both engines.
    "q232_priority_sample" ->
      """WITH d AS (SELECT source, doc_id, n_chars,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)::DOUBLE
               / n_chars::DOUBLE AS key
           FROM documents WHERE n_chars > 0),
         r AS (SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
           FROM d)
         SELECT source, doc_id, n_chars, rk::BIGINT AS sample_rank
         FROM r WHERE rk <= 5 ORDER BY source, rk""",

    // q233: the ORC container round-trip is the identity.
    "q233_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    // q184: same md5-int60 content hash, HUGEINT modular sum.
    "q184_version_manifest" ->
      """WITH d AS (SELECT source,
             ('0x' || substr(md5(text), 1, 15))::BIGINT AS h,
             len(string_split(text, ' '))::BIGINT AS n_tok
           FROM documents)
         SELECT source, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           count(DISTINCT h)::BIGINT AS n_distinct,
           CAST(sum(h::HUGEINT) % 2305843009213693951 AS BIGINT) AS fingerprint
         FROM d GROUP BY 1 ORDER BY source""",

    // q183: q170's matches as symmetric edges, reachability-walk
    // component labels (q159's oracle shape), size rollup over the
    // full record universe.
    "q183_entity_resolution" ->
      s"""WITH RECURSIVE $linkageCtes,
         m AS (SELECT id_a, id_b FROM sc WHERE score >= 9),
         e AS (SELECT id_a AS x, id_b AS y FROM m
               UNION ALL SELECT id_b, id_a FROM m),
         en AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM en
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x),
         comp AS (SELECT node, min(reach) AS component_id FROM walk GROUP BY node),
         nodes AS (SELECT doc_id AS node FROM documents
                   UNION ALL
                   SELECT doc_id + 1000000 FROM documents WHERE doc_id % 3 = 0),
         lab AS (SELECT n.node, coalesce(c.component_id, n.node) AS entity_id
                 FROM nodes n LEFT JOIN comp c ON n.node = c.node),
         sz AS (SELECT entity_id, count(*)::BIGINT AS n_records
                FROM lab GROUP BY 1)
         SELECT l.node, l.entity_id, sz.n_records
         FROM lab l JOIN sz ON l.entity_id = sz.entity_id
         ORDER BY l.node""",

    // q168: same pairs, same raw-shingle postings, same (df, s)
    // per-pair ranking.
    "q168_dup_evidence" ->
      s"""$shingleCte,
         $jaccardPairsCte,
         post AS (SELECT doc_id, unnest(sh) AS s FROM d),
         dfs AS (SELECT s, count(*)::BIGINT AS df FROM post GROUP BY 1),
         shared AS (SELECT p.doc_a, p.doc_b, a.s
                    FROM pairs p
                    JOIN post a ON a.doc_id = p.doc_a
                    JOIN post b ON b.doc_id = p.doc_b AND b.s = a.s),
         rk AS (SELECT sh.doc_a, sh.doc_b, sh.s, f.df,
                  row_number() OVER (PARTITION BY sh.doc_a, sh.doc_b
                                     ORDER BY f.df, sh.s)::BIGINT AS rnk
                FROM shared sh JOIN dfs f ON sh.s = f.s)
         SELECT doc_a, doc_b, rnk, s AS shingle, df FROM rk WHERE rnk <= 3
         ORDER BY doc_a, doc_b, rnk""",

    // q167: q125's full LR replay as a nested subquery, same bin
    // rule, DECIMAL confidence, `//` accuracy grid.
    "q167_calibration" -> {
      val lr = lrOracleSql(buckets = 64, iters = 5, lr = 0.25,
        labelSql = "lang = 'en'")
      s"""WITH scores AS (SELECT * FROM ($lr) z),
         lab AS (SELECT s.doc_id, s.score,
                   (CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y
                 FROM scores s JOIN documents d ON s.doc_id = d.doc_id),
         b AS (SELECT ntile(10) OVER (ORDER BY score, doc_id)::BIGINT AS bin,
                 score, y
               FROM lab)
         SELECT bin, count(*)::BIGINT AS n,
           floor(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 1e6) / 1e6 AS conf,
           ((sum(y) * 1000000) // count(*))::DOUBLE / 1e6 AS acc,
           abs(floor(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*) * 1e6) / 1e6
             - ((sum(y) * 1000000) // count(*))::DOUBLE / 1e6) AS gap
         FROM b GROUP BY 1 ORDER BY bin"""
    },

    // q166: q20's quality expression, the same (r·N + m − 1)//m
    // position rule, identical (score, id) total orders.
    "q166_quantile_norm" ->
      """WITH q AS (
           SELECT doc_id, source,
             floor((0.3 * least(1.0, wc / 50)
                  + 0.3 * ttr
                  + 0.2 * least(1.0, mean_len / 8)
                  + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
           FROM (
             SELECT doc_id, source,
               len(t)::BIGINT AS wc,
               len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t) AS stop_ratio,
               len(list_distinct(t))::DOUBLE / len(t) AS ttr,
               list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len
             FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents))),
         nn AS (SELECT count(*)::BIGINT AS n FROM q),
         sr AS (SELECT doc_id, source, quality,
                  row_number() OVER (PARTITION BY source ORDER BY quality, doc_id)::BIGINT AS r,
                  count(*) OVER (PARTITION BY source)::BIGINT AS m FROM q),
         gl AS (SELECT quality AS norm_score,
                  row_number() OVER (ORDER BY quality, doc_id)::BIGINT AS grn FROM q)
         SELECT s.doc_id, s.source, s.quality, g.norm_score
         FROM sr s CROSS JOIN nn
         JOIN gl g ON ((s.r * nn.n + s.m - 1) // s.m) = g.grn
         ORDER BY s.doc_id""",

    // q165: same ntile cut, first-occurrence type attribution,
    // 20-row running sums.
    "q165_vocab_growth" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
                      len(string_split(text, ' '))::BIGINT AS dl
                    FROM documents WHERE text IS NOT NULL),
         dk AS (SELECT doc_id, dl, t,
                  ntile(20) OVER (ORDER BY doc_id)::BIGINT AS b FROM d),
         toks AS (SELECT b, sum(dl)::BIGINT AS tk FROM dk GROUP BY 1),
         firsts AS (SELECT w, min(doc_id) AS fd FROM (
                      SELECT doc_id, unnest(t) AS w FROM dk) GROUP BY 1),
         newt AS (SELECT dk.b, count(*)::BIGINT AS nt
                  FROM firsts f JOIN dk ON f.fd = dk.doc_id GROUP BY 1)
         SELECT t.b AS bucket,
           sum(t.tk) OVER (ORDER BY t.b ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens,
           sum(coalesce(n.nt, 0)) OVER (ORDER BY t.b ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_types
         FROM toks t LEFT JOIN newt n ON t.b = n.b
         ORDER BY bucket""",

    // q164: identical unit histograms, ln-based entropy terms on the
    // same int64 grid, `//` ratio grids.
    "q164_lexical_stats" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         wc AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM (
                  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM d)
                GROUP BY 1, 2),
         ws AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
                  count(*)::BIGINT AS n_distinct,
                  count(CASE WHEN c = 1 THEN 1 END)::BIGINT AS n_hapax
                FROM wc GROUP BY 1),
         cc AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM (
                  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d)
                GROUP BY 1, 2),
         cl AS (SELECT doc_id, len(text)::BIGINT AS n FROM d),
         ent AS (SELECT cc.doc_id,
                   sum(CAST(floor((cc.c::DOUBLE / cl.n)
                     * ln(cl.n::DOUBLE / cc.c) * 1e9) AS BIGINT))::BIGINT AS ent_fx
                 FROM cc JOIN cl ON cc.doc_id = cl.doc_id GROUP BY 1)
         SELECT w.doc_id, w.n_words, w.n_distinct, w.n_hapax,
           ((w.n_distinct * 1000000) // w.n_words)::DOUBLE / 1e6 AS ttr,
           ((w.n_hapax * 1000000) // w.n_distinct)::DOUBLE / 1e6 AS hapax_ratio,
           (coalesce(e.ent_fx, 0) // 1000)::DOUBLE / 1e6 AS char_entropy
         FROM ws w LEFT JOIN ent e ON w.doc_id = e.doc_id
         ORDER BY w.doc_id""",

    "q146_mmr_select" -> mmrSql,

    // q145: CDC replay — identical md5-gram boundary rule, chunk
    // assembly, and per-source distinct-fp rollup.
    "q145_cdc_chunks" ->
      """WITH tt AS (SELECT doc_id, source, string_split(text, ' ') AS t
                     FROM documents WHERE text IS NOT NULL),
         b AS (SELECT doc_id, source, t,
                 CASE WHEN len(t) < 4 THEN CAST([] AS BIGINT[])
                      ELSE list_filter(range(4, len(t) + 1),
                        i -> substr(md5(array_to_string(list_slice(t, i - 3, i), ' ')), 1, 1) = '0')
                 END AS bpos
               FROM tt),
         bb AS (SELECT doc_id, source, t,
                  list_concat(list_concat([0], bpos), [len(t)]) AS bounds
                FROM b),
         ch AS (SELECT doc_id, source,
                  unnest(list_filter(list_transform(range(1, len(bounds)),
                    k -> array_to_string(list_slice(t, bounds[k] + 1, bounds[k + 1]), ' ')),
                    c -> c <> '')) AS chunk_text
                FROM bb)
         SELECT source, count(*)::BIGINT AS n_chunks,
           count(DISTINCT md5(chunk_text))::BIGINT AS n_distinct,
           floor((1.0 - count(DISTINCT md5(chunk_text))::DOUBLE / count(*)) * 1e6) / 1e6
             AS dedup_ratio,
           sum(len(string_split(chunk_text, ' ')))::BIGINT AS n_words
         FROM ch GROUP BY source ORDER BY source""",

    // q144: full PQ replay — md5-ordered seed codebooks, per-block
    // argmin encode (rounded L2², codeword-id tiebreak), int64 ADC
    // table sums.
    // q215: q40's cell pruning composed with q144's codebook/encode/
    // ADC replay, corpus-restricted and per-query.
    "q215_ivf_pq" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n WHERE vec_id >= 10
                  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         c AS (SELECT vec_id AS c_id, emb, nrm FROM n WHERE vec_id >= 10),
         q AS (SELECT vec_id AS q_id, emb, nrm FROM n WHERE vec_id < 5),
         assigned AS (SELECT list_id, c_id FROM (
           SELECT ct.cent_id AS list_id, c.c_id,
             row_number() OVER (PARTITION BY c.c_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> c.emb[i] * ct.cent_emb[i]))
                 / (c.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM c CROSS JOIN cent ct) WHERE rn = 1),
         probes AS (SELECT q_id, list_id FROM (
           SELECT q.q_id, ct.cent_id AS list_id,
             row_number() OVER (PARTITION BY q.q_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> q.emb[i] * ct.cent_emb[i]))
                 / (q.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM q CROSS JOIN cent ct) WHERE rn <= 4),
         seeds AS (SELECT emb, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS i
                   FROM e WHERE vec_id >= 10
                   ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         js AS (SELECT unnest(range(1, 9)) AS j),
         cb AS (SELECT js.j, seeds.i, list_slice(seeds.emb, (js.j-1)*8+1, js.j*8) AS cw
                FROM seeds CROSS JOIN js),
         blocks AS (SELECT e.vec_id, js.j, list_slice(e.emb, (js.j-1)*8+1, js.j*8) AS sub
                    FROM e CROSS JOIN js WHERE e.vec_id >= 10),
         enc AS (SELECT vec_id, j, i AS code FROM (
                   SELECT b.vec_id, b.j, cc.i,
                     row_number() OVER (PARTITION BY b.vec_id, b.j ORDER BY
                       round(list_sum(list_transform(range(1, 9),
                         t -> (b.sub[t]-cc.cw[t])*(b.sub[t]-cc.cw[t]))), 6), cc.i) AS rn
                   FROM blocks b JOIN cb cc ON b.j = cc.j) WHERE rn = 1),
         qblocks AS (SELECT e.vec_id AS q_id, js.j,
             list_slice(e.emb, (js.j-1)*8+1, js.j*8) AS sub
           FROM e CROSS JOIN js WHERE e.vec_id < 5),
         tab AS (SELECT qb.q_id, cc.j, cc.i,
                   CAST(floor(list_sum(list_transform(range(1, 9),
                     t -> (qb.sub[t]-cc.cw[t])*(qb.sub[t]-cc.cw[t]))) * 1e6) AS BIGINT) AS efx
                 FROM cb cc JOIN qblocks qb ON cc.j = qb.j),
         cand AS (SELECT p.q_id, a.c_id FROM probes p JOIN assigned a USING (list_id)),
         adc AS (SELECT cand.q_id, enc.vec_id AS c_id, sum(t.efx)::BIGINT AS adc_fx
                 FROM cand JOIN enc ON cand.c_id = enc.vec_id
                 JOIN tab t ON t.q_id = cand.q_id AND enc.j = t.j AND enc.code = t.i
                 GROUP BY 1, 2)
         SELECT q_id, c_id, adc_fx, rank FROM (
           SELECT q_id, c_id, adc_fx,
             row_number() OVER (PARTITION BY q_id ORDER BY adc_fx, c_id) AS rank
           FROM adc)
         WHERE rank <= 10 ORDER BY q_id, rank""",

    "q144_pq_adc" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         seeds AS (SELECT emb, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) AS i
                   FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         js AS (SELECT unnest(range(1, 9)) AS j),
         cb AS (SELECT js.j, seeds.i, list_slice(seeds.emb, (js.j-1)*8+1, js.j*8) AS cw
                FROM seeds CROSS JOIN js),
         blocks AS (SELECT e.vec_id, js.j, list_slice(e.emb, (js.j-1)*8+1, js.j*8) AS sub
                    FROM e CROSS JOIN js),
         enc AS (SELECT vec_id, j, i AS code FROM (
                   SELECT b.vec_id, b.j, c.i,
                     row_number() OVER (PARTITION BY b.vec_id, b.j ORDER BY
                       round(list_sum(list_transform(range(1, 9),
                         t -> (b.sub[t]-c.cw[t])*(b.sub[t]-c.cw[t]))), 6), c.i) AS rn
                   FROM blocks b JOIN cb c ON b.j = c.j) WHERE rn = 1),
         qb AS (SELECT j, sub FROM blocks WHERE vec_id = 0),
         tab AS (SELECT c.j, c.i,
                   CAST(floor(list_sum(list_transform(range(1, 9),
                     t -> (q.sub[t]-c.cw[t])*(q.sub[t]-c.cw[t]))) * 1e6) AS BIGINT) AS efx
                 FROM cb c JOIN qb q ON c.j = q.j),
         adc AS (SELECT enc.vec_id, sum(t.efx)::BIGINT AS adc_fx
                 FROM enc JOIN tab t ON enc.j = t.j AND enc.code = t.i
                 GROUP BY 1)
         SELECT vec_id, adc_fx FROM adc ORDER BY adc_fx, vec_id LIMIT 25""",

    // q143: q81's BM25 CTE stack (top-100), the q27 cosine CTE stack
    // (top-100 for query vec 0), RRF-fused with int64 `//` arithmetic.
    "q143_hybrid_rrf" ->
      s"""WITH docs AS (
           SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
                  string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL),
         stats AS (
           SELECT count(*)::BIGINT AS n,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
         posting AS (
           SELECT doc_id, dl, tok AS term, count(*)::BIGINT AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS tok FROM docs)
           WHERE tok IN ('spark', 'join', 'window')
           GROUP BY 1, 2, 3),
         dfs AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY 1),
         scored AS (
           SELECT p.doc_id,
             CAST(floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * (1.2 + 1.0))
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * (p.dl / s.avgdl)))
               * 1e9) AS BIGINT) AS fx
           FROM posting p JOIN dfs f ON p.term = f.term CROSS JOIN stats s),
         agg AS (SELECT doc_id, CAST(sum(fx) AS BIGINT) AS score_fx
                 FROM scored GROUP BY 1),
         bs AS (SELECT doc_id,
             row_number() OVER (ORDER BY score_fx DESC, doc_id) AS r
           FROM agg ORDER BY score_fx DESC, doc_id LIMIT 100),
         e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         nv AS (SELECT vec_id, emb,
                 sqrt(list_sum(list_transform(range(1, 65), i -> emb[i] * emb[i]))) AS nrm
               FROM e),
         qv AS (SELECT emb, nrm FROM nv WHERE vec_id = 0),
         vs AS (SELECT nv.vec_id AS doc_id,
             row_number() OVER (ORDER BY ${duckCosPre("nv", "qv")} DESC, nv.vec_id) AS r
           FROM nv CROSS JOIN qv ORDER BY r LIMIT 100),
         u AS (SELECT doc_id, 1000000000::BIGINT // (60 + r) AS c FROM bs
               UNION ALL
               SELECT doc_id, 1000000000::BIGINT // (60 + r) FROM vs),
         f AS (SELECT doc_id, sum(c)::BIGINT AS rrf_fx FROM u GROUP BY 1)
         SELECT doc_id, rrf_fx FROM f ORDER BY rrf_fx DESC, doc_id LIMIT 25""",

    // q142: brute-force ordered containment over the same shingle CTE.
    "q142_containment_pairs" ->
      s"""$shingleCte
         SELECT doc_a, doc_b, containment FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh), 6)
               AS containment
           FROM d a JOIN d b ON a.doc_id <> b.doc_id)
         WHERE containment >= 0.8 ORDER BY doc_a, doc_b""",

    // q139: identical version synthesis + md5 full-outer classify.
    "q139_corpus_diff" ->
      """WITH a AS (SELECT doc_id, md5(text) AS fa FROM documents),
         bv AS (SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
                FROM documents WHERE doc_id % 11 <> 0
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 13 = 0),
         b AS (SELECT doc_id, md5(text) AS fb FROM bv)
         SELECT coalesce(a.doc_id, b.doc_id)::BIGINT AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                WHEN fa <> fb THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
         ORDER BY doc_id""",

    // q137: the same md5-uniform (u = (key+1)/2^60), the same
    // round(ln(u)/w, 6) ranking — round is half-away-from-zero in
    // both engines, so negative keys agree too.
    "q137_weighted_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT + 1.0)
                      / 1152921504606846976.0) / wt, 6) AS sk
           FROM (SELECT doc_id, source,
                   len(string_split(text, ' '))::DOUBLE AS wt FROM documents)
           WHERE wt > 0
           ORDER BY sk DESC, doc_id LIMIT 100)
         ORDER BY doc_id""",

    // q138: exact grouped distinct — the sketch never fills at
    // k=16384, so size(kmv) IS count(distinct).
    "q138_distinct_kmv" ->
      """WITH ss AS (
           SELECT DISTINCT source, sh FROM (
             SELECT source,
               unnest(CASE WHEN len(t) < 3 THEN [text]
                 ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS sh
             FROM (SELECT source, text, string_split(text, ' ') AS t FROM documents)))
         SELECT source, count(*)::BIGINT AS n_distinct
         FROM ss GROUP BY source ORDER BY source""",

    // q219: the KMV LOSSY path replayed bit-for-bit — same shingle
    // set as q138, then the sketch algorithm itself: h = first 16 hex
    // chars of md5 as a 64-bit unsigned (exactly KmvSketchAgg.hash64's
    // big-endian first-8-bytes), k-th smallest per source, and the
    // engine's estimator arithmetic operation-for-operation:
    // u = double(U - 2^63) + 2^63 (the exact toDouble-then-shift the
    // engine performs — NOT double(U), which could double-round
    // differently), est = (k-1)·2^64 / (u + 1). Floored to the
    // integer grid.
    "q219_kmv_estimate" ->
      """WITH ss AS (
           SELECT DISTINCT source, sh FROM (
             SELECT source,
               unnest(CASE WHEN len(t) < 3 THEN [text]
                 ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS sh
             FROM (SELECT source, text, string_split(text, ' ') AS t FROM documents))),
         h AS (SELECT source,
             ('0x' || substr(md5(sh), 1, 16))::UBIGINT AS h
           FROM ss),
         r AS (SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY source) AS n
           FROM h),
         kth AS (SELECT source, h, n FROM r
           WHERE rn = (CASE WHEN n < 256 THEN n ELSE 256 END))
         SELECT source,
           least(n, 256)::BIGINT AS n_minima,
           CASE WHEN n < 256 THEN n::BIGINT
                ELSE CAST(floor(
                  255.0 * 1.8446744073709552e19 /
                  ((CAST(h::HUGEINT - 9223372036854775808 AS DOUBLE)
                    + 9.223372036854776e18) + 1.0)) AS BIGINT)
           END AS est_floor
         FROM kth ORDER BY source""",

    // q133: q20's quality replica bucketed (least(floor(q*10), 9)),
    // +0.5 Laplace smoothing over the 10-bucket spine, PSI terms
    // rounded 6dp and DECIMAL-summed — identical arithmetic to
    // populationStability.
    "q133_psi_drift" ->
      """WITH ql AS (
           SELECT source, CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
             least(floor((floor((0.3 * least(1.0, len(t) / 50)
                  + 0.3 * len(list_distinct(t))::DOUBLE / len(t)
                  + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                  + 0.2 * len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t)) * 1e6) / 1e6) * 10)::INT, 9) AS bucket
           FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)),
         c AS (SELECT source, bucket,
                 sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)::BIGINT AS ca,
                 sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)::BIGINT AS cb
               FROM ql GROUP BY 1, 2),
         spine AS (SELECT DISTINCT source, unnest(range(0, 10))::INT AS bucket
                   FROM documents),
         f AS (SELECT s.source, s.bucket,
                 coalesce(c.ca, 0)::BIGINT AS ca, coalesce(c.cb, 0)::BIGINT AS cb
               FROM spine s LEFT JOIN c ON s.source = c.source AND s.bucket = c.bucket),
         t2 AS (SELECT source, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
                FROM f GROUP BY 1),
         terms AS (SELECT f.source, t2.na, t2.nb,
             round(((ca + 0.5) / (na::DOUBLE + 5.0) - (cb + 0.5) / (nb::DOUBLE + 5.0))
               * ln(((ca + 0.5) / (na::DOUBLE + 5.0)) / ((cb + 0.5) / (nb::DOUBLE + 5.0))), 6)::DECIMAL(16,6) AS term
           FROM f JOIN t2 ON f.source = t2.source)
         SELECT source, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
           sum(term)::DOUBLE AS psi
         FROM terms GROUP BY source ORDER BY source""",

    // q134: the identical strip chain (dotall non-greedy block
    // removal, tag->space, entity decode in the same order, explicit
    // whitespace class) — RE2 and Java agree on every pattern here.
    "q134_html_extract" ->
      """SELECT doc_id, trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(h, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '<[^>]+>', ' ', 'g'),
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', chr(34)), '&#39;', chr(39)),
           '[ \t\n\r]+', ' ', 'g')) AS clean
         FROM (SELECT doc_id,
             '<html><head><title>Doc ' || doc_id::VARCHAR ||
             '</title><script type="text/javascript">var n = 1 < 2 && 3 > 2;</script>' ||
             '<style>.nav{display:none}</style></head><body><!-- boilerplate -->' ||
             '<div class="nav">Home &amp;&nbsp;Index</div><p>' || text ||
             '</p><p>&quot;quoted&#39; &lt;tag&gt;</p></body></html>' AS h
           FROM documents)
         ORDER BY doc_id""",

    // q132: bucket = three md5-hyperplane sign bits (the q28
    // machinery), candidates join on the bucket, label mismatch as
    // the residual, ranked (cos desc, neg_id) per anchor.
    "q132_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         n AS (SELECT vec_id, label, emb,
                 sqrt(list_sum(list_transform(range(1, 65), i -> emb[i] * emb[i]))) AS nrm
               FROM e),
         b AS (SELECT vec_id, label, emb, nrm,
                 ${planeBitSql(0, 1L)} + ${planeBitSql(1, 2L)} + ${planeBitSql(2, 4L)} AS bucket
               FROM n)
         SELECT q_id, neg_id, cos, rank FROM (
           SELECT a.vec_id AS q_id, c.vec_id AS neg_id,
             ${duckCosPre("a", "c")} AS cos,
             row_number() OVER (PARTITION BY a.vec_id
               ORDER BY ${duckCosPre("a", "c")} DESC, c.vec_id) AS rank
           FROM b a JOIN b c ON a.bucket = c.bucket AND a.label <> c.label)
         WHERE rank <= 5 ORDER BY q_id, rank""",

    // q131: the same integer grid (floor(x·1e6 + 0.5)), exact HUGEINT
    // moments via the d² dimension-pair self-join, and the identical
    // final division expression — every covariance cell replays
    // bit-for-bit.
    "q131_embed_cov" ->
      """WITH q AS (SELECT vec_id,
             list_transform(embedding, x -> floor(x::DOUBLE * 1000000 + 0.5)::BIGINT) AS qv
           FROM embeddings),
         e AS (SELECT vec_id,
             unnest(list_transform(range(1, len(qv)+1), k -> {'i': k-1, 'x': qv[k]})) AS u
           FROM q),
         p AS (SELECT a.u.i::INT AS i, b.u.i::INT AS j,
                 sum(a.u.x::HUGEINT * b.u.x) AS sp,
                 sum(a.u.x::HUGEINT) AS si,
                 sum(b.u.x::HUGEINT) AS sj,
                 count(*)::HUGEINT AS n
               FROM e a JOIN e b ON a.vec_id = b.vec_id
               GROUP BY 1, 2)
         SELECT i, j,
           (n * sp - si * sj)::DOUBLE
             / (n::DOUBLE * n::DOUBLE * 1000000.0 * 1000000.0) AS cov
         FROM p ORDER BY i, j""",

    // q129: the window form the mergeable heap replaces — q20's
    // quality replica ranked (quality desc, doc_id asc) per source,
    // top 5. The aggregate's tie rule (min key wins) IS the window's
    // doc_id-asc tiebreak.
    "q129_topk_by" ->
      """WITH q AS (
           SELECT doc_id, source,
             floor((0.3 * least(1.0, len(t) / 50)
                  + 0.3 * len(list_distinct(t))::DOUBLE / len(t)
                  + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                  + 0.2 * len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t)) * 1e6) / 1e6 AS quality
           FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents)),
         r AS (SELECT source, doc_id, quality,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality DESC, doc_id) AS rank
               FROM q)
         SELECT source, rank::BIGINT AS rank, doc_id::BIGINT AS doc_id, quality
         FROM r WHERE rank <= 5 ORDER BY source, rank""",

    // q130: exact-regime check — group sizes sit far under the 4096
    // capacity at sf0.01, so the sketch IS the sorted value list and
    // the quantiles are DuckDB's own quantile_disc.
    "q130_quantile_sketch" ->
      """WITH q AS (
           SELECT source,
             floor((0.3 * least(1.0, len(t) / 50)
                  + 0.3 * len(list_distinct(t))::DOUBLE / len(t)
                  + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                  + 0.2 * len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t)) * 1e6) / 1e6 AS quality
           FROM (SELECT source, string_split(text, ' ') AS t FROM documents))
         SELECT source, u.p, u.v
         FROM (SELECT source,
                 quantile_disc(quality, 0.25) AS v25,
                 quantile_disc(quality, 0.5) AS v50,
                 quantile_disc(quality, 0.75) AS v75,
                 quantile_disc(quality, 0.9) AS v90
               FROM q GROUP BY source),
           unnest([{'p': 0.25::DOUBLE, 'v': v25}, {'p': 0.5::DOUBLE, 'v': v50},
                   {'p': 0.75::DOUBLE, 'v': v75}, {'p': 0.9::DOUBLE, 'v': v90}]) AS t(u)
         ORDER BY source, u.p""",

    // q109: q74's xent/bucket CTE + the q65-style md5 keep threshold,
    // rates by bucket.
    "q109_ppl_resample" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
         t AS (SELECT sum(c) AS n, count(*) AS v FROM c),
         lp AS (SELECT w, round(ln((c + 1)::DOUBLE / (n + v)::DOUBLE), 6)::DECIMAL(16,6) AS lp
                FROM c CROSS JOIN t),
         d AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 floor(-sum(lp)::DOUBLE / count(*) * 1e6) / 1e6 AS xent
               FROM w JOIN lp USING (w) GROUP BY doc_id),
         b AS (SELECT doc_id, n_tokens, xent,
                 CASE WHEN xent < 3.40 THEN 'head'
                      WHEN xent < 3.41 THEN 'middle'
                      ELSE 'tail' END AS bucket
               FROM d)
         SELECT doc_id, n_tokens, xent, bucket FROM b
         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
               < floor(CASE bucket WHEN 'head' THEN 1.0
                                   WHEN 'middle' THEN 0.5
                                   ELSE 0.1 END * 1152921504606846976)::BIGINT
         ORDER BY doc_id""",

    // q108: the same deletion-neighborhood construction (self plus
    // each single-char deletion), variant equi-join, levenshtein
    // verify — DuckDB's levenshtein is the same classic DP.
    "q108_fuzzy_match" ->
      """WITH s AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier
                    WHERE s_name IS NOT NULL),
         v AS (SELECT id, nm, unnest(list_distinct(list_append(
                 list_transform(range(1, len(nm)+1),
                   i -> substr(nm, 1, i-1) || substr(nm, i+1)),
                 nm))) AS var
               FROM s),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                    a.nm AS na, b.nm AS nb
                  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id)
         SELECT id_a, id_b, levenshtein(na, nb)::BIGINT AS dist
         FROM cand WHERE levenshtein(na, nb) <= 1
         ORDER BY id_a, id_b""",

    // q107: q23's pair CTE, then exact reachability — the recursive
    // walk enumerates reachable nodes (UNION dedups), min(reach) is
    // the component label the pointer-jumping engine converges to.
    "q107_dedup_components" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x)
         SELECT node AS doc_id, min(reach)::BIGINT AS component_id
         FROM walk GROUP BY node ORDER BY doc_id""",

    // q123: identical final labeling to q107 — incremental fold ==
    // full recompute is the operator's contract.
    "q123_components_incremental" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         nodes AS (SELECT DISTINCT x AS node FROM e),
         walk(node, reach) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT w.node, e.y FROM walk w JOIN e ON w.reach = e.x)
         SELECT node AS doc_id, min(reach)::BIGINT AS component_id
         FROM walk GROUP BY node ORDER BY doc_id""",

    // q106: the canonicalization steps replayed CTE-by-CTE (fragment,
    // tracking-param rebuild, prefix lowering/www/port strip, trailing
    // slash), then q69's hash-ranked cap keyed on the host.
    "q106_url_host_cap" ->
      """WITH u AS (SELECT doc_id,
             (CASE doc_id % 4 WHEN 0 THEN 'https://WWW.Example.COM'
               WHEN 1 THEN 'http://example.com:80'
               WHEN 2 THEN 'https://News.Site.org'
               ELSE 'https://blog.hub.net' END)
             || '/Page/' || (doc_id % 7)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss&id=' || doc_id
                      WHEN doc_id % 3 = 2 THEN '?id=' || doc_id || '&fbclid=XYZ'
                      ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
           FROM documents),
         nf AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS s FROM u),
         sp AS (SELECT doc_id, s,
             CASE WHEN strpos(s, '?') > 0 THEN substr(s, 1, strpos(s, '?') - 1) ELSE s END AS base,
             CASE WHEN strpos(s, '?') > 0 THEN substr(s, strpos(s, '?') + 1) ELSE '' END AS qs
           FROM nf),
         rq AS (SELECT doc_id,
             CASE WHEN strpos(s, '?') = 0 THEN s
                  WHEN len(kept) > 0 THEN base || '?' || array_to_string(kept, '&')
                  ELSE base END AS s
           FROM (SELECT doc_id, s, base,
                   list_filter(string_split(qs, '&'),
                     p -> NOT regexp_matches(p, '^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)=')) AS kept
                 FROM sp)),
         pf AS (SELECT doc_id, s,
             regexp_extract(s, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS prefix
           FROM rq),
         cn AS (SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(prefix), '^(https?://)www\.', '\1')
                   , '^(http://[^/:]+):80$', '\1')
                 , '^(https://[^/:]+):443$', '\1')
               || substr(s, len(prefix) + 1), '/$', '') AS canon_url
           FROM pf),
         h AS (SELECT doc_id, canon_url,
             regexp_replace(lower(regexp_extract(canon_url,
               '^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]+@)?([^/?#:]+)', 1)),
               '^www\.', '') AS host
           FROM cn),
         r AS (SELECT doc_id, canon_url, host,
             row_number() OVER (PARTITION BY host ORDER BY
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) AS rk
           FROM h)
         SELECT doc_id, canon_url, host FROM r WHERE rk <= 50 ORDER BY doc_id""",

    // q105: q40's md5-seeded assignment CTE labeled by cent_id rank,
    // then q65's mixture arithmetic keyed on the topic (weights-left
    // join + coalesce replicates the zero-row-source collapse).
    "q105_topic_mix" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 4),
         lab AS (SELECT cent_id, cent_emb, cent_nrm,
                   't' || row_number() OVER (ORDER BY cent_id) AS topic FROM cent),
         assigned AS (SELECT c_id AS vec_id, topic FROM (
           SELECT c.vec_id AS c_id, l.topic,
             row_number() OVER (PARTITION BY c.vec_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> c.emb[i] * l.cent_emb[i]))
                 / (c.nrm * l.cent_nrm), 6) DESC, l.cent_id) AS rn
           FROM n c CROSS JOIN lab l) WHERE rn = 1),
         w(src, w) AS (VALUES ('t1', 0.4), ('t2', 0.3), ('t3', 0.2), ('t4', 0.1)),
         sizes AS (SELECT w.src, coalesce(s.n, 0.0) AS n, w.w FROM w
                   LEFT JOIN (SELECT topic AS src, count(*)::DOUBLE AS n
                              FROM assigned GROUP BY topic) s ON w.src = s.src),
         b AS (SELECT min(n / w) AS b FROM sizes),
         f AS (SELECT src, CASE WHEN n = 0.0 THEN 0.0
                                ELSE least(1.0, w * b / n) END AS f
               FROM sizes CROSS JOIN b)
         SELECT a.vec_id, a.topic FROM assigned a JOIN f ON a.topic = f.src
         WHERE ('0x' || substr(md5(a.vec_id::VARCHAR), 1, 15))::BIGINT
               < floor(f.f * 1152921504606846976)::BIGINT
         ORDER BY a.vec_id""",

    // q104: the REAL pixel-grid pHash replayed from source bytes: the
    // gray raster is the text bytes zero-padded to w*ceil(len/w); row
    // r maps to mesh cell r*8//h, col c to c*8//w; bit bi*8+bj set iff
    // cell-sum · n_total >= total-sum · n_cell (exact ints — the same
    // cross-product compare ImageCodec.perceptualHash runs on decoded
    // pixels). Bit 63 wraps HUGEINT → signed BIGINT like Scala's Long.
    "q104_media_phash" ->
      s"""WITH $phashFpsCte
         SELECT fp, min(media_id)::BIGINT AS survivor_id, count(*)::BIGINT AS n_copies
         FROM f2 GROUP BY fp ORDER BY survivor_id""",

    // q126: same fingerprints, quadratic hamming predicate.
    "q126_phash_neardup" ->
      s"""WITH $phashFpsCte
         SELECT a.media_id::BIGINT AS media_a, b.media_id::BIGINT AS media_b,
           bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
         FROM f2 a JOIN f2 b ON a.media_id < b.media_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY media_a, media_b""",

    // q103: same bigram model arithmetic as bigramCrossEntropyScores —
    // (1.0 - 0.7) written as the SAME foldable expression the Scala
    // side computes (a 0.3 literal differs in the last bit), ln
    // rounded to 6dp DECIMAL at the leaf, summed exactly.
    "q103_bigram_xent" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         pairs AS (
           SELECT doc_id, u['w1'] AS w1, u['w2'] AS w2 FROM (
             SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-1,0)+1),
               i -> {'w1': t[i], 'w2': t[i+1]})) AS u
             FROM toks)),
         uni AS (SELECT w, count(*)::BIGINT AS c
                 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
         tot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM uni),
         bi AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pairs GROUP BY 1, 2),
         stats AS (
           SELECT b.w1, b.w2,
             round(ln(0.7 * (b.c12::DOUBLE / u1.c::DOUBLE) +
                      (1.0 - 0.7) * ((u2.c + 1)::DOUBLE / (t.n + t.v)::DOUBLE)), 6)::DECIMAL(16,6) AS lp
           FROM bi b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
           CROSS JOIN tot t)
         SELECT p.doc_id, count(*)::BIGINT AS n_bigrams,
           floor(-CAST(sum(s.lp) AS DOUBLE) / count(*) * 1e6) / 1e6 AS xent_bi
         FROM pairs p JOIN stats s ON p.w1 = s.w1 AND p.w2 = s.w2
         GROUP BY p.doc_id ORDER BY p.doc_id""",

    // q102: q67's cut-and-reassemble shape at paragraph granularity —
    // split on the double newline, same >=2-distinct-docs test.
    "q102_paragraph_dedup" ->
      """WITH f AS (SELECT doc_id, concat_ws(chr(10)||chr(10),
             'intro ' || doc_id,
             text,
             CASE WHEN doc_id % 3 = 0 THEN 'legal footer line'||chr(10)||'all rights reserved'
                  ELSE 'tail ' || doc_id END) AS input
           FROM documents),
         l AS (SELECT doc_id, u['p']::BIGINT AS pos, u['l'] AS line FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(ls)+1), i -> {'p': i, 'l': ls[i]})) AS u
             FROM (SELECT doc_id, string_split(input, chr(10)||chr(10)) AS ls FROM f))),
         dup AS (SELECT line FROM l WHERE len(line) >= 1
                 GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM l
                  WHERE len(line) >= 1 AND line IN (SELECT line FROM dup)
                  GROUP BY doc_id),
         t2 AS (SELECT f.doc_id, string_split(f.input, chr(10)||chr(10)) AS ls, coalesce(c.ps, []) AS ps
                FROM f LEFT JOIN cuts c ON f.doc_id = c.doc_id)
         SELECT doc_id,
           coalesce(array_to_string([ls[i] FOR i IN range(1, len(ls)+1)
                      IF NOT list_contains(ps, i)], chr(10)||chr(10)), '') AS clean_text,
           len(ls)::BIGINT AS n_lines, len(ps)::BIGINT AS n_removed
         FROM t2 ORDER BY doc_id""",

    // Mirrors mixCorpusBy(tokenCountWs): q65's budget arithmetic with
    // n = summed whitespace token counts (integer-exact before the
    // double cast), same md5 sample key, same floor-then-cast.
    "q68_token_mix" ->
      """WITH w(src, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
         sizes AS (SELECT source AS src, sum(len(string_split(text, ' ')))::DOUBLE AS n
                   FROM documents GROUP BY source),
         j AS (SELECT s.src, s.n, w.w, s.n / w.w AS cap
               FROM sizes s JOIN w ON s.src = w.src),
         b AS (SELECT min(cap) AS b FROM j),
         f AS (SELECT src, least(1.0, w * b / n) AS f FROM j CROSS JOIN b)
         SELECT d.doc_id, d.source FROM documents d JOIN f ON d.source = f.src
         WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
               < floor(f.f * 1152921504606846976)::BIGINT
         ORDER BY d.doc_id""",

    // Mirrors capPerGroup(cap=5): exact rank over the md5 hash key
    // with id tiebreak, at most 5 rows per source.
    "q69_source_cap" ->
      """WITH k AS (SELECT doc_id, source,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS key
           FROM documents),
         r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
               FROM k)
         SELECT doc_id, source FROM r WHERE rk <= 5 ORDER BY doc_id""",

    // Mirrors containsBlocklisted: set-intersection emptiness over the
    // distinct token list.
    "q75_blocklist" ->
      """SELECT doc_id, source FROM documents
         WHERE len(list_intersect(list_distinct(string_split(text, ' ')),
                   ['window', 'salt', 'bloom'])) = 0
         ORDER BY doc_id""",

    // Mirrors crossEntropyScores + perplexityBucket(3.40, 3.41):
    // per-word smoothed log-prob rounded 6dp, DECIMAL sum, one
    // floor-truncated division, CASE buckets.
    "q74_lm_xent" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
         t AS (SELECT sum(c) AS n, count(*) AS v FROM c),
         lp AS (SELECT w, round(ln((c + 1)::DOUBLE / (n + v)::DOUBLE), 6)::DECIMAL(16,6) AS lp
                FROM c CROSS JOIN t),
         d AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                 floor(-sum(lp)::DOUBLE / count(*) * 1e6) / 1e6 AS xent
               FROM w JOIN lp USING (w) GROUP BY doc_id)
         SELECT doc_id, n_tokens, xent,
           CASE WHEN xent < 3.40 THEN 'head'
                WHEN xent < 3.41 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM d ORDER BY doc_id""",

    // Mirrors collapsePairsBy(score = n_chars): q45's pair CTE, edges
    // oriented to the (score desc, id asc) better endpoint, argmax
    // keeper per drop, chains followed to the root via a recursive CTE
    // (exact for any diameter — the Spark side pointer-jumps).
    "q73_quality_collapse" ->
      s"""WITH RECURSIVE $shingleCteBody, $jaccardPairsCte,
         e AS (SELECT doc_a AS x, doc_b AS y FROM pairs
               UNION ALL SELECT doc_b, doc_a FROM pairs),
         sc AS (SELECT doc_id, n_chars AS s FROM documents),
         o AS (SELECT e.x, e.y, b.s AS sy FROM e
               JOIN sc a ON e.x = a.doc_id JOIN sc b ON e.y = b.doc_id
               WHERE b.s > a.s OR (b.s = a.s AND e.y < e.x)),
         m AS (SELECT x AS drp, y AS keep FROM (
             SELECT x, y, row_number() OVER (PARTITION BY x ORDER BY sy DESC, y ASC) AS rn
             FROM o) WHERE rn = 1),
         r AS (SELECT drp, keep FROM m WHERE keep NOT IN (SELECT drp FROM m)
               UNION
               SELECT m.drp, r.keep FROM m JOIN r ON m.keep = r.drp)
         SELECT keep, drp AS "drop" FROM r ORDER BY "drop"""",

    // Mirrors bpePairCounts: distinct-word frequencies, adjacent char
    // pairs, integer sums; same (count desc, pair) tiebreak.
    "q72_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         v AS (SELECT w, count(*) AS freq FROM w GROUP BY w),
         p AS (SELECT freq, unnest(CASE WHEN length(w) < 2 THEN []::VARCHAR[]
                 ELSE list_transform(range(1, length(w)), i -> substr(w, i, 2)) END) AS pair
               FROM v)
         SELECT pair, sum(freq)::BIGINT AS n FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 200""",

    // Mirrors corpusReport: q20's quality replica summed as DECIMAL,
    // integer token sums, one division per mean, floor-truncated to
    // 6dp (the qualityScore convention — round-half differs across
    // engines at boundary values, floor does not).
    "q71_corpus_report" ->
      """WITH q AS (SELECT doc_id, source, lang, md5(text) AS fp,
             len(t)::BIGINT AS wc,
             (floor((0.3 * least(1.0, len(t) / 50)
                   + 0.3 * (len(list_distinct(t))::DOUBLE / len(t))
                   + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                   + 0.2 * (len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t))) * 1e6) / 1e6)::DECIMAL(16,6) AS q
           FROM (SELECT doc_id, source, lang, text, string_split(text, ' ') AS t FROM documents))
         SELECT source, count(*)::BIGINT AS n_docs,
           count(DISTINCT fp)::BIGINT AS n_distinct,
           floor((1.0 - count(DISTINCT fp)::DOUBLE / nullif(count(fp), 0)) * 1e6) / 1e6 AS dup_rate,
           sum(wc)::BIGINT AS n_tokens,
           floor(sum(wc)::DOUBLE / nullif(count(fp), 0) * 1e6) / 1e6 AS avg_tokens,
           floor(sum(q)::DOUBLE / nullif(count(fp), 0) * 1e6) / 1e6 AS avg_quality,
           count(DISTINCT lang)::BIGINT AS n_langs
         FROM q GROUP BY source ORDER BY source""",

    // Mirrors scrubContaminatedSpans(n=8): probe 8-gram set from the
    // held-out subset, positional gram match on the rest, q60's scrub
    // tail (every word covered by a matched span drops).
    "q70_scrub_contaminated" ->
      """WITH pg AS (SELECT DISTINCT unnest(list_transform(range(1, greatest(len(t)-7,0)+1),
             i -> array_to_string(list_slice(t, i, i+7), ' '))) AS gram
           FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 29 = 0)),
         e AS (SELECT doc_id, s['pos']::BIGINT AS pos, s['gram'] AS gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-7,0)+1),
               i -> {'pos': i, 'gram': array_to_string(list_slice(t, i, i+7), ' ')})) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
                   WHERE doc_id % 29 <> 0))),
         cuts AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM e
                  WHERE gram IN (SELECT gram FROM pg) GROUP BY doc_id),
         t AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks, coalesce(c.ps, []) AS ps
               FROM documents d LEFT JOIN cuts c ON d.doc_id = c.doc_id
               WHERE d.doc_id % 29 <> 0)
         SELECT doc_id,
           coalesce(array_to_string([toks[i] FOR i IN range(1, len(toks)+1)
                      IF len([p FOR p IN ps IF i >= p AND i <= p+7]) = 0], ' '), '') AS clean_text,
           len([i FOR i IN range(1, len(toks)+1)
                IF len([p FOR p IN ps IF i >= p AND i <= p+7]) > 0])::BIGINT AS n_cut
         FROM t ORDER BY doc_id""",

    // Mirrors contaminationMatches(n=3, minShared=3): distinct-trigram
    // lists, quadratic docs x probes intersect (affordable at sf0.01).
    "q52_decontamination" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
         SELECT d.doc_id, p.doc_id AS probe_id,
                len(list_intersect(d.sh, p.sh))::BIGINT AS shared
         FROM sh d JOIN sh p
           ON d.doc_id % 29 <> 0 AND p.doc_id % 29 = 0
          AND len(list_intersect(d.sh, p.sh)) >= 3
         ORDER BY d.doc_id, probe_id""",
    // Mirrors docDuplicatedSpans(n=8, minDocs=2): 8-gram spans with
    // 1-based positions, kept when >= 2 distinct docs share the gram.
    "q59_dup_spans" ->
      """WITH e AS (SELECT doc_id, s['pos']::BIGINT AS pos, s['gram'] AS gram FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t)-7,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(t, i, i+7), ' ')})) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
         dup AS (SELECT gram FROM e GROUP BY gram
                 HAVING count(DISTINCT doc_id) >= 2)
         SELECT doc_id, pos, gram FROM e
         WHERE gram IN (SELECT gram FROM dup)
         ORDER BY doc_id, pos""",

    // q101: same 8-gram extraction as q59, then the gaps-and-islands
    // diagonal merge — pos_a - row_number() over (pair, diagonal)
    // groups consecutive shared grams into one maximal span.
    "q101_maximal_spans" ->
      """WITH e AS (SELECT doc_id, s['pos']::BIGINT AS pos, s['gram'] AS gram FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t)-7,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(t, i, i+7), ' ')})) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
         m AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.pos AS pos_a, b.pos AS pos_b
           FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         g AS (
           SELECT doc_a, doc_b, pos_a, pos_b,
             pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, pos_a - pos_b
                                        ORDER BY pos_a) AS grp
           FROM m),
         spans AS (
           SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
             (count(*) + 7)::BIGINT AS span_words
           FROM g GROUP BY doc_a, doc_b, pos_a - pos_b, grp)
         SELECT doc_a, doc_b, start_a, start_b, span_words
         FROM spans WHERE span_words >= 12
         ORDER BY doc_a, doc_b, start_a, start_b, span_words""",

    // Mirrors mixCorpus: same budget arithmetic (double ops in the
    // same order), same md5-derived sample key, floor() before the
    // BIGINT cast on both engines.
    "q65_data_mixing" ->
      """WITH w(src, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
         sizes AS (SELECT source AS src, count(*)::DOUBLE AS n
                   FROM documents GROUP BY source),
         j AS (SELECT s.src, s.n, w.w, s.n / w.w AS cap
               FROM sizes s JOIN w ON s.src = w.src),
         b AS (SELECT min(cap) AS b FROM j),
         f AS (SELECT src, least(1.0, w * b / n) AS f FROM j CROSS JOIN b)
         SELECT d.doc_id, d.source FROM documents d JOIN f ON d.source = f.src
         WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
               < floor(f.f * 1152921504606846976)::BIGINT
         ORDER BY d.doc_id""",

    // Mirrors chunkDocuments(window=50, stride=40): starts = 1, 41,
    // 81, ... plus the snap-to-end start, distinct, in order.
    "q64_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         s AS (SELECT doc_id, t,
                 list_sort(list_distinct(list_append(
                   range(1, greatest(len(t) - 49, 1) + 1, 40),
                   greatest(len(t) - 49, 1)))) AS starts
               FROM d),
         e AS (SELECT doc_id, u['cid']::BIGINT AS chunk_id,
                 u['st']::BIGINT AS start_pos,
                 array_to_string(list_slice(t, u['st'], u['st'] + 49), ' ') AS chunk_text
               FROM (SELECT doc_id, t,
                       unnest(list_transform(range(1, len(starts) + 1),
                         i -> {'cid': i, 'st': starts[i]})) AS u
                     FROM s))
         SELECT doc_id, chunk_id, start_pos, chunk_text,
           len(string_split(chunk_text, ' '))::BIGINT AS n_words
         FROM e ORDER BY doc_id, chunk_id""",

    // q124: the greedy snapped walk replayed as a recursive CTE — each
    // step's cut is the latest separator token inside the tolerance
    // window of lc+50, else the hard cut; tails never snap.
    "q124_chunk_snapped" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, string_split(text, ' ') AS t,
                  len(string_split(text, ' '))::BIGINT AS n
           FROM documents),
         ch AS (
           SELECT doc_id, t, n, 0::BIGINT AS lc, 0::BIGINT AS chunk_id,
                  NULL::BIGINT AS s, NULL::BIGINT AS e
           FROM d
           UNION ALL
           SELECT doc_id, t, n, e_new, chunk_id + 1, lc + 1, e_new
           FROM (
             SELECT doc_id, t, n, lc, chunk_id,
               CASE WHEN lc + 50 <= n THEN
                 coalesce(
                   list_max(list_filter(range(greatest(lc + 1, lc + 50 - 8), lc + 50 + 1),
                     p -> regexp_matches(t[p::INT], '[.!?]$'))),
                   lc + 50)
               ELSE n END AS e_new
             FROM ch WHERE lc < n))
         SELECT doc_id, chunk_id, s AS start_pos,
           array_to_string(list_slice(t, s, e), ' ') AS chunk_text,
           (e - s + 1)::BIGINT AS n_words
         FROM ch WHERE chunk_id > 0
         ORDER BY doc_id, chunk_id""",

    // Mirrors dsirLogWeights(target = lang 'de'): per-word smoothed
    // log-ratio rounded to 6dp, summed as DECIMAL for order
    // independence.
    "q63_dsir_weights" ->
      """WITH w AS (SELECT doc_id, lang = 'de' AS is_t,
                      unnest(string_split(text, ' ')) AS w FROM documents),
         c AS (SELECT w, count(*) AS c_all,
                 sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t
               FROM w GROUP BY w),
         t AS (SELECT sum(c_all) AS n_all, sum(c_t) AS n_t, count(*) AS v FROM c),
         r AS (SELECT w, round(ln((c_t + 1) / (n_t + v)) - ln((c_all + 1) / (n_all + v)), 6)::DECIMAL(16,6) AS lw
               FROM c CROSS JOIN t)
         SELECT doc_id, sum(lw)::DOUBLE AS log_weight, count(*)::BIGINT AS n_tokens
         FROM w JOIN r USING (w) GROUP BY doc_id ORDER BY doc_id""",

    // Mirrors semDedup(tau=0.45, nlist=16): q40's seed-centroid
    // assignment (seedCentroids' md5-ordered sample), within-cell
    // pairs, each drop keyed to its smallest keeper.
    "q62_semdedup" ->
      s"""$embCte,
         cent AS (SELECT vec_id AS cent_id, emb AS cent_emb, nrm AS cent_nrm
                  FROM n ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         a AS (SELECT list_id, c_id, emb, nrm FROM (
           SELECT ct.cent_id AS list_id, n.vec_id AS c_id, n.emb, n.nrm,
             row_number() OVER (PARTITION BY n.vec_id ORDER BY
               round(list_sum(list_transform(range(1, 65), i -> n.emb[i] * ct.cent_emb[i]))
                 / (n.nrm * ct.cent_nrm), 6) DESC, ct.cent_id) AS rn
           FROM n CROSS JOIN cent ct) WHERE rn = 1),
         p AS (SELECT x.c_id AS a_id, y.c_id AS drop_id,
                 round(list_sum(list_transform(range(1, 65), i -> x.emb[i] * y.emb[i]))
                   / (x.nrm * y.nrm), 6) AS cos
               FROM a x JOIN a y ON x.list_id = y.list_id AND x.c_id < y.c_id)
         SELECT drop_id, keep_id, cos FROM (
           SELECT drop_id, a_id AS keep_id, cos,
             row_number() OVER (PARTITION BY drop_id ORDER BY a_id) AS rn
           FROM p WHERE cos >= 0.45) WHERE rn = 1
         ORDER BY drop_id""",

    // Mirrors Pii.redact/matchCount over the same planted fixture.
    // regexp_replace needs the 'g' flag (DuckDB defaults to
    // first-match-only; Spark replaces all).
    "q61_pii_redact" ->
      """WITH f AS (SELECT doc_id, concat_ws(' ', text,
             CASE WHEN doc_id % 3 = 0 THEN 'contact user' || doc_id || '@example.com' ELSE 'mail none' END,
             CASE WHEN doc_id % 4 = 0 THEN 'call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE 'tel none' END,
             CASE WHEN doc_id % 5 = 0 THEN 'from 10.0.' || (doc_id % 256) || '.7' ELSE 'host local' END,
             CASE WHEN doc_id % 7 = 0 THEN 'wallet 0x' || lpad(hex(doc_id), 40, '0') ELSE 'wallet none' END) AS input
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(input,
             '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
             '0x[0-9a-fA-F]{40}', '<ADDR>', 'g') AS clean_text,
           len(regexp_extract_all(input, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_email,
           len(regexp_extract_all(input, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b'))::BIGINT AS n_phone,
           len(regexp_extract_all(input, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS n_ip,
           len(regexp_extract_all(input, '0x[0-9a-fA-F]{40}'))::BIGINT AS n_addr
         FROM f ORDER BY doc_id""",

    // Mirrors scrubDuplicatedSpans(n=8, minDocs=2): q59's cut list,
    // grouped per doc, then every covered word index dropped. DuckDB
    // yields NULL for a fully-scrubbed text; Spark's concat_ws yields
    // '' — coalesce to align.
    "q60_span_scrub" ->
      """WITH e AS (SELECT doc_id, s['pos']::BIGINT AS pos, s['gram'] AS gram FROM (
             SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t)-7,0)+1),
                 i -> {'pos': i, 'gram': array_to_string(list_slice(t, i, i+7), ' ')})) AS s
             FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
         dup AS (SELECT gram FROM e GROUP BY gram
                 HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT doc_id, list(pos ORDER BY pos) AS ps FROM e
                  WHERE gram IN (SELECT gram FROM dup) GROUP BY doc_id),
         t AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks, coalesce(c.ps, []) AS ps
               FROM documents d LEFT JOIN cuts c ON d.doc_id = c.doc_id)
         SELECT doc_id,
           coalesce(array_to_string([toks[i] FOR i IN range(1, len(toks)+1)
                      IF len([p FOR p IN ps IF i >= p AND i <= p+7]) = 0], ' '), '') AS clean_text,
           len([i FOR i IN range(1, len(toks)+1)
                IF len([p FOR p IN ps IF i >= p AND i <= p+7]) > 0])::BIGINT AS n_cut
         FROM t ORDER BY doc_id""",

    // Mirrors Vocab.vocabulary: unnest words once for totals, once
    // distinct-per-doc for document frequency.
    "q58_vocabulary" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents)
         SELECT d.term, d.doc_freq, t.term_freq FROM
           (SELECT term, count(*)::BIGINT AS doc_freq FROM
              (SELECT DISTINCT doc_id, term FROM w) GROUP BY term) d
           JOIN
           (SELECT term, count(*)::BIGINT AS term_freq FROM w GROUP BY term) t
           USING (term)
         ORDER BY term""",

    // Mirrors int8Quantize + brute-force top-k: same floor(x/s + 0.5)
    // grid (s = max|x|/127), integer dot products, identical ranking.
    "q57_ann_quantized" ->
      """WITH qz AS (SELECT vec_id,
             list_transform(emb, x -> floor(x / s + 0.5)) AS qv
           FROM (SELECT vec_id,
                   list_transform(embedding, x -> x::DOUBLE) AS emb,
                   greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-30) / 127 AS s
                 FROM embeddings))
         SELECT q_id, c_id, cos, rank FROM (
           SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             round(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])))), 6) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY round(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i]))
                 / (sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])))), 6) DESC,
               c.vec_id) AS rank
           FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id >= 10)
         WHERE rank <= 5 ORDER BY q_id, rank""",

    // Mirrors splitByHash(train 0.8/val 0.1/test 0.1): identical
    // md5-derived key and the SAME cumulative thresholds (interpolated
    // from Curation.sampleThreshold so double-rounding can't diverge).
    "q76_hash_split" -> {
      val cum = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
        .map(Curation.sampleThreshold)
      s"""SELECT doc_id,
           CASE WHEN k < ${cum(0)} THEN 'train'
                WHEN k < ${cum(1)} THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS k
               FROM documents)
         ORDER BY doc_id"""
    },

    // Mirrors refinedTopK(k=5, shortlist=20): q57's quantized grid
    // ranks the 20-deep shortlist, q27's exact cosine re-ranks it.
    "q77_ann_refine" ->
      s"""$embCte,
         qz AS (SELECT vec_id,
                  list_transform(emb, x -> floor(x / s + 0.5)) AS qv
                FROM (SELECT vec_id, emb,
                        greatest(list_max(list_transform(emb, x -> abs(x))), 1e-30) / 127 AS s
                      FROM e)),
         short AS (SELECT q_id, c_id FROM (
             SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i]))
                   / (sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])))), 6) DESC,
                 c.vec_id) AS r
             FROM qz q JOIN qz c ON q.vec_id < 10 AND c.vec_id >= 10)
           WHERE r <= 20)
         SELECT q_id, c_id, cos, rank FROM (
           SELECT s.q_id, s.c_id, ${duckCosPre("q", "c")} AS cos,
             row_number() OVER (PARTITION BY s.q_id
               ORDER BY ${duckCosPre("q", "c")} DESC, s.c_id) AS rank
           FROM short s JOIN n q ON q.vec_id = s.q_id JOIN n c ON c.vec_id = s.c_id)
         WHERE rank <= 5 ORDER BY q_id, rank""",

    // Mirrors q80: q66's embedding derivation over REAL decoded
    // rasters (the % 3 = 0 slice is exactly the image rows — pad
    // zeros counted into bucket 0), then the q26-style exact pair
    // join at tau 0.995.
    "q80_media_neardup" ->
      """WITH chars AS (SELECT doc_id AS media_id,
             unnest([ascii(substr(text, i, 1)) % 16 FOR i IN range(1, strlen(text)+1)]) AS bucket
           FROM documents WHERE doc_id % 3 = 0),
         h AS (SELECT media_id, bucket, count(*)::DOUBLE AS c
               FROM chars GROUP BY media_id, bucket),
         pad AS (SELECT doc_id AS media_id,
             ((16 + (doc_id % 17))
               * greatest(1, (strlen(text) + 16 + (doc_id % 17) - 1) // (16 + (doc_id % 17)))
               - strlen(text))::DOUBLE AS p
           FROM documents WHERE doc_id % 3 = 0),
         spine AS (SELECT doc_id AS media_id, unnest(range(0, 16)) AS bucket
                   FROM documents WHERE doc_id % 3 = 0),
         fullh AS (SELECT s.media_id, s.bucket,
                     coalesce(h.c, 0.0)
                       + CASE WHEN s.bucket = 0 THEN pd.p ELSE 0.0 END AS c
                   FROM spine s
                   LEFT JOIN h ON s.media_id = h.media_id AND s.bucket = h.bucket
                   JOIN pad pd ON s.media_id = pd.media_id),
         nn AS (SELECT media_id, sqrt(sum(c * c)) AS nrm FROM fullh GROUP BY media_id),
         e AS (SELECT f.media_id, list(round(f.c / nn.nrm, 6) ORDER BY f.bucket) AS emb
               FROM fullh f JOIN nn ON f.media_id = nn.media_id GROUP BY f.media_id),
         v AS (SELECT media_id, emb,
                 sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e)
         SELECT id_a, id_b, cos FROM (
           SELECT a.media_id AS id_a, b.media_id AS id_b,
             round(list_sum(list_transform(range(1, 17), i -> a.emb[i] * b.emb[i]))
               / (a.nrm * b.nrm), 6) AS cos
           FROM v a JOIN v b ON a.media_id < b.media_id)
         WHERE cos >= 0.995 ORDER BY id_a, id_b""",

    // Mirrors weightedHashSample(qualityScore, 0.6): q20's truncated
    // quality formula drives the keep threshold over the same
    // md5-derived key space — one double multiply + compare, so the
    // decision replays bit-for-bit.
    "q79_weighted_sample" ->
      """WITH q AS (
           SELECT doc_id, source,
             floor((0.3 * least(1.0, len(t) / 50)
                  + 0.3 * (len(list_distinct(t))::DOUBLE / len(t))
                  + 0.2 * least(1.0, (list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t)) / 8)
                  + 0.2 * (len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::DOUBLE / len(t))) * 1e6) / 1e6 AS qs,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS k
           FROM (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents))
         SELECT doc_id, source FROM q
         WHERE k::DOUBLE < least(greatest(qs * 0.6, 0.0), 1.0) * 1152921504606846976.0
         ORDER BY doc_id""",

    // Mirrors gopherStats defaults: identical tokenization, truncated
    // ratios, and flag comparisons on the truncated values.
    "q78_gopher_rules" ->
      """WITH g AS (SELECT doc_id,
             len(t)::BIGINT AS word_count,
             floor(list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) * 1e6) / 1e6 AS mean_word_len,
             floor(len(list_filter(t, x -> NOT regexp_matches(x, '[a-z0-9]')))::DOUBLE / len(t) * 1e6) / 1e6 AS symbol_ratio,
             floor(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(t) * 1e6) / 1e6 AS alpha_ratio,
             len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x)))::BIGINT AS stop_hits
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
         SELECT doc_id, word_count, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
           (word_count >= 50 AND word_count <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
            AND stop_hits >= 2) AS pass
         FROM g ORDER BY doc_id""",

    // Mirrors shuffleShards(numShards=8): same md5-derived 60-bit key,
    // same shard mod, same (key, id)-ordered intra-shard positions.
    "q56_shard_shuffle" ->
      """SELECT doc_id, (k % 8)::INT AS shard,
                (row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) - 1)::BIGINT
                  AS shard_pos
         FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS k
               FROM documents)
         ORDER BY doc_id""",

    // Mirrors jaccardPairsAgainst: quadratic ref x batch intersect
    // (affordable at sf0.01; the engine's prefix filter replaces it).
    "q55_dedup_incremental" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
         SELECT ref_id, new_id, j AS jaccard FROM (
           SELECT r.doc_id AS ref_id, b.doc_id AS new_id,
                  round(len(list_intersect(r.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(r.sh, b.sh))), 6) AS j
           FROM sh r JOIN sh b ON r.doc_id % 3 = 0 AND b.doc_id % 3 <> 0)
         WHERE j >= 0.5 ORDER BY ref_id, new_id""",

    // Mirrors decontaminate: q52's match set anti-joined away.
    "q54_decontaminate" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
         bad AS (SELECT DISTINCT d.doc_id
           FROM sh d JOIN sh p
             ON d.doc_id % 29 <> 0 AND p.doc_id % 29 = 0
            AND len(list_intersect(d.sh, p.sh)) >= 3)
         SELECT doc_id, lang FROM documents
         WHERE doc_id % 29 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id""",

    // Mirrors packSequences(seqLen=2048): exclusive running sum over
    // doc_id order; DuckDB's single window = the same global prefix
    // sum the engine computes distributed.
    "q53_sequence_pack" ->
      """SELECT doc_id, wc,
                (cum_before // 2048)::BIGINT AS pack_id,
                (cum_before % 2048)::BIGINT AS pack_offset
         FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS wc,
                      coalesce(sum(len(string_split(text, ' '))::BIGINT) OVER (
                        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cum_before
               FROM documents)
         ORDER BY doc_id""",
    // Mirrors repetitionStats(n=2): non-distinct bigram unnest, per-doc
    // count table, same floor-truncated fraction arithmetic.
    "q51_repetition" ->
      """WITH g AS (SELECT doc_id, unnest(
             CASE WHEN len(t) < 2 THEN [text]
                  ELSE list_transform(range(1, len(t)), i -> concat_ws(' ', t[i], t[i+1])) END) AS g
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
         SELECT doc_id, sum(c)::BIGINT AS grams,
           floor(max(c)::DOUBLE / sum(c) * 1e6) / 1e6 AS top_gram_frac,
           floor(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c) * 1e6) / 1e6 AS dup_gram_frac
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    // Mirrors stratifiedHashSample: same md5-derived 60-bit key, same
    // per-stratum thresholds (inlined from Curation.sampleThreshold).
    "q49_hash_sample" ->
      s"""SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT <
           (CASE WHEN lang = 'en' THEN ${Curation.sampleThreshold(0.5)}
                 WHEN lang = 'de' THEN ${Curation.sampleThreshold(0.25)}
                 ELSE ${Curation.sampleThreshold(0.1)} END)
         ORDER BY doc_id""",
    // Mirrors curateCorpus: exact-dedup survivors -> quadratic jaccard
    // near-dup drops -> the q20/q21 quality + lang-ID formulas.
    "q50_corpus_curation" ->
      """WITH ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         dd AS (SELECT d.doc_id, d.text FROM documents d JOIN ex ON d.doc_id = ex.doc_id),
         shg AS (SELECT doc_id,
             CASE WHEN len(t) < 3 THEN [text]
                  ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END AS sh
           FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM dd)),
         drops AS (SELECT DISTINCT doc_b AS doc_id FROM (
             SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
             FROM shg a JOIN shg b ON a.doc_id < b.doc_id)
           WHERE jaccard >= 0.5),
         stats AS (SELECT doc_id, wc,
             CASE WHEN gmax IS NULL OR gmax = 0 THEN 'und'
                  WHEN s_en = gmax THEN 'en'
                  WHEN s_de = gmax THEN 'de'
                  WHEN s_fr = gmax THEN 'fr'
                  WHEN s_es = gmax THEN 'es'
                  ELSE 'zh' END AS lang_pred,
             floor((0.3 * least(1.0, wc / 50)
                  + 0.3 * ttr
                  + 0.2 * least(1.0, mean_len / 8)
                  + 0.2 * stop_ratio) * 1e6) / 1e6 AS quality
           FROM (
             SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gmax,
               s_en::DOUBLE / wc AS stop_ratio
             FROM (
               SELECT doc_id,
                 len(t)::BIGINT AS wc,
                 len(list_distinct(t))::DOUBLE / len(t) AS ttr,
                 list_sum(list_transform(t, x -> len(x)))::DOUBLE / len(t) AS mean_len,
                 len(list_filter(t, x -> list_contains(['the','a','of','in','to','and'], x))) AS s_en,
                 len(list_filter(t, x -> list_contains(['der','die','und','das','ist'], x))) AS s_de,
                 len(list_filter(t, x -> list_contains(['le','la','les','et','est'], x))) AS s_fr,
                 len(list_filter(t, x -> list_contains(['el','los','las','es','una'], x))) AS s_es,
                 len(list_filter(t, x -> list_contains(['de5','shi4','le5','zai4','he2'], x))) AS s_zh
               FROM (SELECT doc_id, string_split(text, ' ') AS t FROM dd))))
         SELECT doc_id, lang_pred, quality, wc FROM stats
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)
           AND lang_pred = 'en' AND quality >= 0.5
         ORDER BY doc_id""",
    // q41: image rows (doc_id % 3 = 0) run the REAL resize path —
    // Graphics2D bilinear to 32×64, PNG re-encode, re-decode — so
    // resized dims/sample-count are read back from product pixels
    // (32, 64, 2048, one frame). Stub rows: truncation resize to
    // 32*64/64 = 32 bytes; frames of 64 bytes sampled at stride 2
    // -> ceil(ceil(len/64)/2).
    "q41_media_ops" ->
      """SELECT doc_id AS media_id,
         32 AS resized_w,
         64 AS resized_h,
         (CASE WHEN doc_id % 3 = 0 THEN 2048 ELSE 32 END)::BIGINT AS resized_n,
         (CASE WHEN doc_id % 3 = 0 THEN 1
              ELSE (((strlen(text) + 63) // 64) + 1) // 2 END)::INT AS n_frames_sampled
         FROM documents ORDER BY media_id""",
    // q81: same BM25 arithmetic tree as Search.bm25TopK — constants
    // written as the SAME foldable expressions ((1.2 + 1.0), not 2.2:
    // both engines fold in double, so the bits match the Scala-side
    // lit(K1 + 1.0)); per-term scores floored to 1e-9 int64, summed
    // exactly.
    "q81_bm25" -> bm25Sql,

    // q147: the index-backed query must equal the from-scratch BM25 —
    // q81's oracle verbatim (the index is a materialization, not a new
    // semantics).
    "q147_search_index" -> bm25Sql,
    // q100: q81's BM25 CTE stack, then exact-dup collapse of the
    // shortlist keeping the best-scored representative per text.
    "q100_search_dedup" ->
      """WITH docs AS (
           SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
                  string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL),
         stats AS (
           SELECT count(*)::BIGINT AS n,
                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs),
         posting AS (
           SELECT doc_id, dl, tok AS term, count(*)::BIGINT AS tf
           FROM (SELECT doc_id, dl, unnest(t) AS tok FROM docs)
           WHERE tok IN ('spark', 'join', 'window')
           GROUP BY 1, 2, 3),
         dfs AS (SELECT term, count(*)::BIGINT AS df FROM posting GROUP BY 1),
         scored AS (
           SELECT p.doc_id,
             CAST(floor(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (p.tf * (1.2 + 1.0))
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * (p.dl / s.avgdl)))
               * 1e9) AS BIGINT) AS fx
           FROM posting p JOIN dfs f ON p.term = f.term CROSS JOIN stats s),
         agg AS (SELECT doc_id, CAST(sum(fx) AS BIGINT) AS score_fx
                 FROM scored GROUP BY 1),
         short AS (
           SELECT doc_id, score_fx FROM agg
           ORDER BY score_fx DESC, doc_id LIMIT 100),
         tagged AS (
           SELECT sh.doc_id, sh.score_fx, md5(d.text) AS fp,
             row_number() OVER (PARTITION BY md5(d.text)
                                ORDER BY sh.score_fx DESC, sh.doc_id) AS rn
           FROM short sh JOIN documents d ON sh.doc_id = d.doc_id)
         SELECT doc_id, score_fx FROM tagged WHERE rn = 1
         ORDER BY score_fx DESC, doc_id LIMIT 20""",
    // q83: add-1-smoothed multinomial NB over the dense vocab × lang
    // grid; counts exact ints, log-likelihoods floored to 1e-9 int64 at
    // the leaf, int64 sums — bit-identical to NaiveBayes.fit/predict.
    "q83_nb_lang" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         occ AS (SELECT doc_id, lang, unnest(t) AS tok FROM d),
         cnt AS (SELECT lang, tok, count(*)::BIGINT AS c FROM occ GROUP BY 1, 2),
         vocab AS (SELECT DISTINCT tok FROM occ),
         vsize AS (SELECT count(*)::BIGINT AS v FROM vocab),
         cls AS (SELECT lang, count(*)::BIGINT AS ndocs,
                        CAST(sum(len(t)) AS BIGINT) AS ntok FROM d GROUP BY 1),
         tot AS (SELECT count(*)::BIGINT AS n FROM d),
         mat AS (
           SELECT cl.lang, v.tok,
             CAST(floor(ln((coalesce(c.c, 0) + 1)::DOUBLE / (cl.ntok + s.v)) * 1e9) AS BIGINT) AS lp
           FROM cls cl CROSS JOIN vocab v CROSS JOIN vsize s
           LEFT JOIN cnt c ON c.lang = cl.lang AND c.tok = v.tok),
         prior AS (
           SELECT cl.lang,
             CAST(floor(ln(cl.ndocs::DOUBLE / t.n) * 1e9) AS BIGINT) AS lprior
           FROM cls cl CROSS JOIN tot t),
         doctok AS (SELECT doc_id, tok, count(*)::BIGINT AS k FROM occ GROUP BY 1, 2),
         score AS (
           SELECT dt.doc_id, m.lang, CAST(sum(dt.k * m.lp) AS BIGINT) AS s
           FROM doctok dt JOIN mat m ON dt.tok = m.tok
           GROUP BY 1, 2),
         post AS (
           SELECT sc.doc_id, sc.lang, sc.s + p.lprior AS score_fx
           FROM score sc JOIN prior p ON sc.lang = p.lang),
         pred AS (
           SELECT doc_id, lang AS pred, score_fx,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_fx DESC, lang) AS r
           FROM post),
         pbest AS (
           SELECT lang AS pred, lprior AS score_fx FROM prior
           ORDER BY lprior DESC, lang LIMIT 1)
         SELECT d2.doc_id, d2.lang,
           coalesce(pr.pred, pb.pred) AS pred,
           coalesce(pr.pred, pb.pred) = d2.lang AS correct,
           coalesce(pr.score_fx, pb.score_fx) AS score_fx
         FROM documents d2
         LEFT JOIN (SELECT doc_id, pred, score_fx FROM pred WHERE r = 1) pr
           ON pr.doc_id = d2.doc_id
         CROSS JOIN pbest pb
         WHERE d2.doc_id IS NOT NULL
         ORDER BY d2.doc_id""",
    // q85: same 3-word shingle definition as the jaccard family
    // (shingleCteBody), but keyed by source with a corpus-wide
    // distinct; empty intersections drop out on both engines.
    "q85_corpus_overlap" ->
      """WITH ss AS (
           SELECT DISTINCT source, sh FROM (
             SELECT source,
               unnest(CASE WHEN len(t) < 3 THEN [text]
                 ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS sh
             FROM (SELECT source, text, string_split(text, ' ') AS t FROM documents))),
         sz AS (SELECT source, count(*)::BIGINT AS n FROM ss GROUP BY 1),
         inter AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS inter
           FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.src_a, i.src_b, i.inter,
           round(i.inter::DOUBLE / (x.n + y.n - i.inter), 6) AS jaccard
         FROM inter i
         JOIN sz x ON i.src_a = x.source
         JOIN sz y ON i.src_b = y.source
         ORDER BY 1, 2""",

    // q135: the KMV sketches are complete at k=16384, so the expected
    // output is exactly the q85 computation.
    "q135_overlap_kmv" ->
      """WITH ss AS (
           SELECT DISTINCT source, sh FROM (
             SELECT source,
               unnest(CASE WHEN len(t) < 3 THEN [text]
                 ELSE list_distinct(list_transform(range(1, greatest(len(t)-2,0)+1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) END) AS sh
             FROM (SELECT source, text, string_split(text, ' ') AS t FROM documents))),
         sz AS (SELECT source, count(*)::BIGINT AS n FROM ss GROUP BY 1),
         inter AS (
           SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS inter
           FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
           GROUP BY 1, 2)
         SELECT i.src_a, i.src_b, i.inter,
           round(i.inter::DOUBLE / (x.n + y.n - i.inter), 6) AS jaccard
         FROM inter i
         JOIN sz x ON i.src_a = x.source
         JOIN sz y ON i.src_b = y.source
         ORDER BY 1, 2""",
    "q97_blocklist_join" ->
      """SELECT doc_id, source FROM documents
         WHERE len(list_intersect(string_split(text, ' '),
                   ['the', 'spark', 'join'])) = 0
         ORDER BY doc_id""",
    // q92: doc-level PMI — distinct token sets, pair counts via a
    // doc-keyed self-join (equivalent to the engine's sorted-set double
    // explode), ln fixed at 1e-9 like the other scorers.
    "q92_pmi" ->
      """WITH d AS (
           SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
           FROM documents),
         dt AS (SELECT doc_id, unnest(toks) AS tok FROM d),
         n AS (SELECT count(*)::BIGINT AS n FROM d),
         ca AS (SELECT tok, count(*)::BIGINT AS c FROM dt GROUP BY 1),
         pairs AS (
           SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS c_ab
           FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
           GROUP BY 1, 2),
         scored AS (
           SELECT p.tok_a, p.tok_b, p.c_ab,
             CAST(floor(ln((p.c_ab::DOUBLE * n.n) / (x.c::DOUBLE * y.c)) * 1e9) AS BIGINT) AS pmi_fx
           FROM pairs p
           JOIN ca x ON p.tok_a = x.tok
           JOIN ca y ON p.tok_b = y.tok
           CROSS JOIN n
           WHERE p.c_ab >= 2)
         SELECT tok_a, tok_b, c_ab, pmi_fx FROM scored
         ORDER BY c_ab DESC, tok_a, tok_b LIMIT 50"""
  )
}
