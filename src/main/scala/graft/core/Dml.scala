package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write row DML over a [[VersionLog]] table — DELETE and
  * MERGE (upsert), the two mutations a standing corpus actually takes
  * (right-to-be-forgotten scrubs; late corrections / backfills). Every
  * operation composes [[VersionLog]]'s three write-path primitives:
  *
  *  1. [[VersionLog.head]] reads the latest version; ONE probe scan of
  *     it finds the files that contain any affected row
  *     (`input_file_name` + the predicate / key join — filters push
  *     into the parquet scan, so untouched files cost a footer, not a
  *     read) together with the row counters;
  *  2. [[VersionLog.rewrite]] rewrites only those files (minus deleted
  *     rows / minus superseded key rows) into a fresh `d<N>/` or
  *     `m<N>_kept/` dir, keeping file granularity;
  *  3. [[VersionLog.commit]] records (untouched ∪ rewritten ∪ inserted)
  *     as the next version — the OLD version still lists the old files,
  *     so the pre-mutation table keeps time-traveling until
  *     [[VersionLog.vacuum]], and a crashed mutation leaves only an
  *     unreferenced orphan dir, never a half-mutated version.
  *
  * Work scales with the AFFECTED files, not the table: a delete that
  * touches 0.1% of files rewrites 0.1% (pair with Z-ordered layout /
  * zone-map-friendly predicates so affected rows cluster into few
  * files).
  */
object Dml {

  private def relOf(root: String, fileUri: String): String = {
    val p = new Path(fileUri).toUri.getPath
    require(p.startsWith(root + "/"), s"file $p escapes table root $root")
    p.stripPrefix(root + "/")
  }

  private def untouchedBy(
      head: VersionLog.Head, affected: Seq[String]): Seq[(String, Long)] = {
    val hit = affected.toSet
    head.entries.filterNot { case (rel, _) => hit(rel) }
  }

  /** DELETE rows matching `predicate` (NULL predicate rows are KEPT —
    * only a definite TRUE deletes, SQL DELETE semantics). Returns
    * (newVersion, rowsDeleted). No matching rows → no new version.
    */
  def deleteWhere(
      spark: SparkSession, dir: String, predicate: Column): (Int, Long) = {
    val head = VersionLog.head(spark, dir, "DELETE")
    val hit = coalesce(predicate, lit(false))
    // filter BEFORE projecting the file name: a filter above a
    // nondeterministic projection does not push into the parquet scan
    deleteRows(head,
      head.df.filter(hit).select(input_file_name().as("__graft_file")))(
      _.filter(!hit))
  }

  /** DELETE by KEY SET — the copy-on-write twin of [[deleteWhere]] for
    * "remove these specific records" (a CDC delete batch, a takedown
    * id list): rows whose `keys` values match ANY row of `keyDf` are
    * removed. The key frame is delta-sized by nature ⇒ broadcast
    * semi-join finds the affected files in one pruned scan; only those
    * rewrite (key-anti-joined). NULL keys in `keyDf` match nothing
    * (SQL semantics). Returns (newVersion, rowsDeleted); no matches →
    * no new version.
    */
  def deleteMatching(spark: SparkSession, dir: String,
      keyDf: DataFrame, keys: Seq[String]): (Int, Long) = {
    require(keys.nonEmpty, "a key-set DELETE needs at least one key column")
    val head = VersionLog.head(spark, dir, "DELETE")
    val delKeys = broadcast(keyDf.select(keys.map(col): _*))
    // the file name is captured BEFORE the join: after it the plan has
    // two file sources and input_file_name refuses to bind
    deleteRows(head, head.df.withColumn("__graft_file", input_file_name())
        .join(delKeys, keys, "left_semi"))(
      _.join(delKeys, keys, "left_anti").select(head.df.columns.map(col): _*))
  }

  /** The DELETE both forms share: `hits` carries one `__graft_file`
    * row per deleted table row, and `keep` maps an affected file's rows
    * to its survivors. ONE aggregate over `hits` answers both planner
    * questions (affected file set + deleted rows per file); only the
    * affected files rewrite, into `d<N>/`.
    */
  private def deleteRows(head: VersionLog.Head, hits: DataFrame)(
      keep: DataFrame => DataFrame): (Int, Long) = {
    val perFile = hits.groupBy(col("__graft_file"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val affected = perFile.map(r => relOf(head.root, r.getString(0))).toSeq.sorted
    if (affected.isEmpty) return (head.v, 0L)
    val untouched = untouchedBy(head, affected)
    // an all-rows delete is refused BEFORE any write — a versioned
    // table never goes empty. The survivor probe is bounded work: a
    // limit-1 read of the untouched files (one footer/row group, not
    // a full-table count — at corpus scale that count opens every
    // footer). Untouched files can legitimately be ZERO-ROW part files
    // (an anti-join with an empty partition writes one), so an empty
    // untouched probe FALLS THROUGH to the kept-rows probe over the
    // affected files — never straight to a refusal.
    val survivors =
      (untouched.nonEmpty && !head.read(untouched.map(_._1)).isEmpty) ||
        !keep(head.read(affected)).isEmpty
    require(survivors,
      s"DELETE would empty the table at ${head.dir} — drop the table instead")
    val kept = VersionLog.rewrite(head, affected, s"d${head.v + 1}")(keep)
    (VersionLog.commit(head, untouched ++ kept, "delete", None, "DELETE"),
      perFile.map(_.getLong(1)).sum)
  }

  /** MERGE + key-set DELETE as ONE copy-on-write rewrite — the CDC
    * apply shape ([[Cdc.applyChangeFeed]]) and, with no delete keys,
    * [[mergeInto]]. The reduced feed keeps one LAST event per key, so
    * upsert keys and delete keys are DISJOINT by construction; both
    * legs then share one affected-file probe and ONE survivors-only
    * rewrite of each affected file, where the two-pass form (mergeInto
    * then deleteMatching) probed twice, rewrote a file holding both an
    * upserted and a deleted key twice (the second rewrite reading the
    * first's output), and minted two versions. The minted version is a
    * standard "merge" step (m<N>_kept / m<N>_new dirs): deleted rows
    * read back from the replica's own change feed as preimage deletes
    * exactly as the two-pass form produced.
    *
    * Caller contract (private[core], enforced by [[Cdc]]'s reduction
    * and [[mergeInto]]'s validation): `upserts` carries at most one row
    * per key and is NON-EMPTY with `upCount` rows already counted;
    * `deleteKeys` may be empty; the key sets are disjoint; NULL keys in
    * `deleteKeys` match nothing (join semantics). The probe checks
    * disjointness on the keys the table holds, where an overlap would
    * count a row as both replaced and deleted. Returns (newVersion,
    * replaced, inserted, deleted).
    */
  private[core] def mergeApply(spark: SparkSession, dir: String,
      upserts: DataFrame, deleteKeys: DataFrame, keys: Seq[String],
      upCount: Long): (Int, Long, Long, Long) = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    require(upCount > 0L, "mergeApply needs a non-empty upsert batch")
    val head = VersionLog.head(spark, dir, "MERGE")
    // additive evolution: dropped or retyped columns refuse, extra
    // columns append nullable after the table's
    val (evolved, extras) = VersionLog.evolveAdditively(
      head.df.schema, upserts.schema, "MERGE updates")
    val outCols = evolved.fieldNames.toSeq
    // one flagged key set drives the shared probe: +1 rows are upsert
    // keys (their table hits are REPLACED rows), 0 rows delete keys
    // (their hits are DELETED rows)
    val keyFlags = upserts.select(keys.map(col): _*)
      .withColumn("__graft_up", lit(1))
      .unionByName(deleteKeys.select(keys.map(col): _*)
        .withColumn("__graft_up", lit(0)))
    // ONE scan answers every planner question: affected file set
    // (metadata-scale collect_set), replaced rows, deleted rows, the
    // distinct upsert keys that hit, and whether a hit key carries both
    // flags (keyFlags is unique per key when the key sets are disjoint,
    // so the inner join preserves table-row multiplicity). The file
    // name is captured BEFORE the join (see deleteMatching). Replaced
    // rows and matched keys differ when the table holds duplicate
    // keys, where one update row legitimately replaces several rows.
    val probeRow = head.df
      .withColumn("__graft_file", input_file_name())
      .join(broadcast(keyFlags), keys)
      .agg(collect_set(col("__graft_file")).as("files"),
        count(when(col("__graft_up") === 1, lit(1))).as("n_rep"),
        count(when(col("__graft_up") === 0, lit(1))).as("n_del"),
        countDistinct(when(col("__graft_up") === 1,
          struct(keys.map(col): _*))).as("mk"),
        countDistinct(struct(keys.map(col): _*)).as("hk"),
        countDistinct(struct((keys :+ "__graft_up").map(col): _*)).as("hkf"))
      .head()
    require(probeRow.getLong(4) == probeRow.getLong(5),
      "mergeApply needs disjoint upsert and delete key sets: " +
        s"${probeRow.getLong(5) - probeRow.getLong(4)} key(s) of $dir are in both")
    val affected =
      probeRow.getSeq[String](0).map(f => relOf(head.root, f)).sorted
    val next = head.v + 1
    // survivors = rows matching NO flagged key (upserted-away and
    // deleted rows drop in the same anti join); the re-select restores
    // the evolved column order (a using-column join moves the keys to
    // the FRONT, and positional consumers like the change feed's
    // exceptAll need one physical layout), NULL-filling added columns
    val tableCols = head.df.columns.toSet
    val kept =
      if (affected.isEmpty) Seq.empty
      else VersionLog.rewrite(head, affected, s"m${next}_kept")(
        _.join(broadcast(keyFlags.select(keys.map(col): _*)), keys, "left_anti")
          .select(outCols.map(c =>
            if (tableCols(c)) col(c)
            else lit(null).cast(evolved(c).dataType).as(c)): _*))
    val inserted = VersionLog.writeDir(head, s"m${next}_new",
      upserts.select(outCols.map(col): _*).coalesce(VersionLog.filesFor(upCount)))
    val untouched = untouchedBy(head, affected)
    // upsert keys are unique, so inserts = the keys that matched
    // nothing — exact and non-negative even when the table holds
    // duplicate keys
    (VersionLog.commit(head, untouched ++ kept ++ inserted, "merge",
       if (extras.isEmpty) None else Some(evolved.json), "MERGE"),
      probeRow.getLong(1), upCount - probeRow.getLong(3), probeRow.getLong(2))
  }

  /** MERGE (upsert): rows of `updates` REPLACE current rows sharing
    * their `keys` values; keys absent from the table INSERT. `updates`
    * must carry the table's columns (extra columns evolve the table
    * additively) and at most one row per key (both checked loudly — a
    * duplicate-key merge is ambiguous, not a race to resolve silently).
    * Returns (newVersion, replaced, inserted).
    */
  def mergeInto(spark: SparkSession, dir: String,
      updates: DataFrame, keys: Seq[String]): (Int, Long, Long) = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    // ONE job validates AND sizes the batch: per-key counts roll up to
    // (total rows, max per-key multiplicity). groupBy keeps NULL key
    // groups, so a duplicated NULL key refuses too.
    val sized = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        coalesce(max(col("c")), lit(0L)).as("mx")).head()
    val (upCount, maxPerKey) = (sized.getLong(0), sized.getLong(1))
    require(maxPerKey <= 1L,
      s"MERGE updates carry duplicate keys (a key appears $maxPerKey " +
        "times) — ambiguous upsert")
    // an empty updates frame is a no-op, not a new version: minting one
    // anyway would accumulate duplicate versions + empty part files
    // under repeated no-op merges (snapshot() is idempotent; MERGE
    // must be too)
    if (upCount == 0L) return (VersionLog.latest(spark, dir), 0L, 0L)
    // with no delete keys the probe's disjointness counts are equal by
    // construction
    val (v, replaced, inserted, _) = mergeApply(spark, dir, updates,
      updates.select(keys.map(col): _*).limit(0), keys, upCount)
    (v, replaced, inserted)
  }
}
