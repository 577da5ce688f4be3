package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Copy-on-write row DML over a [[VersionLog]] table — DELETE and
  * MERGE (upsert), the two mutations a standing corpus actually takes
  * (right-to-be-forgotten scrubs; late corrections / backfills). Both
  * follow the lakehouse copy-on-write shape:
  *
  *  1. ONE scan of the latest version finds the files that contain any
  *     affected row (`input_file_name` + the predicate / key semi-join
  *     — filters push into the parquet scan, so untouched files cost a
  *     footer, not a read);
  *  2. only those files are rewritten (minus deleted rows / minus
  *     superseded key rows), into a fresh `d<N>/` or `m<N>/` dir;
  *  3. the next version lists (untouched ∪ rewritten ∪ inserted) —
  *     the OLD version still lists the old files, so the pre-mutation
  *     table keeps time-traveling until [[VersionLog.vacuum]], and a
  *     crashed mutation leaves only an unreferenced orphan dir, never
  *     a half-mutated version.
  *
  * Work scales with the AFFECTED files, not the table: a delete that
  * touches 0.1% of files rewrites 0.1% (pair with Z-ordered layout /
  * zone-map-friendly predicates so affected rows cluster into few
  * files).
  */
object Dml {

  private def listDirEntries(
      spark: SparkSession, root: String, sub: String): Seq[(String, Long)] = {
    val f = VersionLog.fs(spark, root)
    val p = new Path(s"$root/$sub")
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (s"$sub/${st.getPath.getName}", st.getLen))
      .sortBy(_._1)
  }

  private def relOf(root: String, fileUri: String): String = {
    val p = new Path(fileUri).toUri.getPath
    require(p.startsWith(root + "/"), s"file $p escapes table root $root")
    p.stripPrefix(root + "/")
  }

  /** DELETE rows matching `predicate` (NULL predicate rows are KEPT —
    * only a definite TRUE deletes, SQL DELETE semantics). Returns
    * (newVersion, rowsDeleted). No matching rows → no new version.
    */
  def deleteWhere(
      spark: SparkSession, dir: String, predicate: Column): (Int, Long) = {
    val vs = VersionLog.versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir — snapshot before DML")
    val root = VersionLog.rootUriPath(dir)
    val entries = VersionLog.readEntries(spark, dir, vs.last)
    val current = VersionLog.readVersion(spark, dir, vs.last)
    // ONE pruned scan answers BOTH planner questions — which files hold
    // any TRUE-matching row AND how many rows delete per file (the
    // total was previously a second scan of the affected files); the
    // predicate still pushes into the parquet scan, untouched files
    // cost a footer
    val perFile = current
      .filter(coalesce(predicate, lit(false)))
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val affectedFiles = perFile.map(r => relOf(root, r.getString(0))).toSet
    if (affectedFiles.isEmpty) return (vs.last, 0L)
    val deleted = perFile.map(_.getLong(1)).sum
    val untouched = entries.filterNot { case (rel, _) => affectedFiles(rel) }
    val next = vs.last + 1
    val affectedPaths = affectedFiles.toSeq.sorted.map(rel => s"$root/$rel")
    val affected = spark.read.schema(current.schema).parquet(affectedPaths: _*)
    // an all-rows delete is refused BEFORE any write — a versioned
    // table never goes empty. The survivor probe is bounded work: a
    // limit-1 read of the untouched files (one footer/row group, not
    // the full-table count() this used to be — at corpus scale that
    // count opens every footer). Untouched files can legitimately be
    // ZERO-ROW part files (an anti-join with an empty partition writes
    // one), so an empty untouched probe FALLS THROUGH to the kept-rows
    // probe over the affected files — never straight to a refusal.
    val survivors =
      (untouched.nonEmpty &&
        !spark.read.schema(current.schema)
          .parquet(untouched.map(e => s"$root/${e._1}"): _*).isEmpty) ||
      !affected.filter(!coalesce(predicate, lit(false))).isEmpty
    require(survivors,
      s"DELETE would empty the table at $dir — drop the table instead")
    // the rewrite keeps the table's file granularity: K affected files
    // rewrite to <= K survivors-only files, never to one part file per
    // scan split (small-file cascade under repeated DML — guide §6)
    affected.filter(!coalesce(predicate, lit(false)))
      .coalesce(affectedFiles.size)
      .write.mode("overwrite").parquet(s"$root/d$next")
    val newEntries = (untouched ++ listDirEntries(spark, root, s"d$next"))
      .sortBy(_._1)
    (try VersionLog.writeEntries(spark, dir, next, newEntries, op = "delete")
     catch {
       case e: CommitConflictException => throw new IllegalStateException(
         s"DELETE on $dir lost its commit race — the table changed " +
           "under the rewrite; rerun it against the new head", e)
     }, deleted)
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
    val vs = VersionLog.versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir — snapshot before DML")
    val root = VersionLog.rootUriPath(dir)
    val entries = VersionLog.readEntries(spark, dir, vs.last)
    val current = VersionLog.readVersion(spark, dir, vs.last)
    val delKeys = keyDf.select(keys.map(col): _*)
    // ONE semi-joined scan answers both planner questions (affected
    // file set + deleted rows per file) — the total was previously a
    // second scan of the affected files
    val perFile = current
      .withColumn("__graft_file", input_file_name())
      .join(broadcast(delKeys), keys, "left_semi")
      .groupBy(col("__graft_file"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val affectedFiles = perFile.map(r => relOf(root, r.getString(0))).toSet
    if (affectedFiles.isEmpty) return (vs.last, 0L)
    val deleted = perFile.map(_.getLong(1)).sum
    val untouched = entries.filterNot { case (rel, _) => affectedFiles(rel) }
    val next = vs.last + 1
    val affectedPaths = affectedFiles.toSeq.sorted.map(rel => s"$root/$rel")
    val affected = spark.read.schema(current.schema).parquet(affectedPaths: _*)
    // bounded survivor probe instead of a full-table count — see
    // deleteWhere for the scale rationale and the zero-row-part-file
    // fall-through
    val survivors =
      (untouched.nonEmpty &&
        !spark.read.schema(current.schema)
          .parquet(untouched.map(e => s"$root/${e._1}"): _*).isEmpty) ||
      !affected.join(broadcast(delKeys), keys, "left_anti").isEmpty
    require(survivors,
      s"DELETE would empty the table at $dir — drop the table instead")
    affected.join(broadcast(delKeys), keys, "left_anti")
      .select(current.columns.map(col): _*)
      .coalesce(affectedFiles.size) // keep file granularity (guide §6)
      .write.mode("overwrite").parquet(s"$root/d$next")
    val newEntries = (untouched ++ listDirEntries(spark, root, s"d$next"))
      .sortBy(_._1)
    (try VersionLog.writeEntries(spark, dir, next, newEntries, op = "delete")
     catch {
       case e: CommitConflictException => throw new IllegalStateException(
         s"DELETE on $dir lost its commit race — the table changed " +
           "under the rewrite; rerun it against the new head", e)
     }, deleted)
  }

  /** MERGE + key-set DELETE as ONE copy-on-write rewrite — the CDC
    * apply shape ([[Cdc.applyChangeFeed]]). The reduced feed keeps one
    * LAST event per key, so upsert keys and delete keys are DISJOINT
    * by construction; both legs then share one affected-file probe and
    * ONE survivors-only rewrite of each affected file, where the
    * two-pass form (mergeInto then deleteMatching) probed twice,
    * rewrote a file holding both an upserted and a deleted key twice
    * (the second rewrite reading the first's output), and minted two
    * versions. The minted version is a standard "merge" step
    * (m<N>_kept / m<N>_new dirs): deleted rows read back from the
    * replica's own change feed as preimage deletes exactly as the
    * two-pass form produced.
    *
    * Caller contract (private[core], enforced by [[Cdc]]'s reduction):
    * `upserts` carries at most one row per key and is NON-EMPTY with
    * `upCount` rows already counted; `deleteKeys` may be empty; the key
    * sets are disjoint; NULL keys in `deleteKeys` match nothing (join
    * semantics). The probe checks disjointness on the keys the table
    * holds, where an overlap would count a row as both replaced and
    * deleted. Returns (newVersion, replaced, inserted, deleted).
    */
  private[core] def mergeApply(spark: SparkSession, dir: String,
      upserts: DataFrame, deleteKeys: DataFrame, keys: Seq[String],
      upCount: Long): (Int, Long, Long, Long) = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    require(upCount > 0L, "mergeApply needs a non-empty upsert batch")
    val vs = VersionLog.versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir — snapshot before DML")
    val root = VersionLog.rootUriPath(dir)
    val entries = VersionLog.readEntries(spark, dir, vs.last)
    val current = VersionLog.readVersion(spark, dir, vs.last)
    val (evolvedSchema, extras, tTypes) = driftMatrix(current, upserts)
    val outCols = evolvedSchema.fieldNames.toSeq
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
    // so the inner join preserves table-row multiplicity)
    val probeRow = current
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
    val affectedFiles =
      probeRow.getSeq[String](0).map(f => relOf(root, f)).toSet
    val (replaced, deleted, matchedKeys) =
      (probeRow.getLong(1), probeRow.getLong(2), probeRow.getLong(3))
    val next = vs.last + 1
    val replacedDir = s"m${next}_kept"
    if (affectedFiles.nonEmpty) {
      val affectedPaths = affectedFiles.toSeq.sorted.map(rel => s"$root/$rel")
      val affected = spark.read.schema(current.schema).parquet(affectedPaths: _*)
      val keptCols = outCols.map(c =>
        if (tTypes.contains(c)) col(c)
        else lit(null).cast(evolvedSchema(c).dataType).as(c))
      // survivors = rows matching NO flagged key (upserted-away and
      // deleted rows drop in the same anti join)
      affected.join(broadcast(keyFlags.select(keys.map(col): _*)),
          keys, "left_anti")
        .select(keptCols: _*)
        .coalesce(affectedFiles.size) // keep file granularity (guide §6)
        .write.mode("overwrite").parquet(s"$root/$replacedDir")
    }
    val rowsPerFile = spark.conf.getOption("spark.graft.dml.insertFileRows")
      .map(_.toLong).getOrElse(1L << 20)
    val newFiles = math.max(1L, (upCount + rowsPerFile - 1) / rowsPerFile).toInt
    upserts.select(outCols.map(col): _*)
      .coalesce(newFiles)
      .write.mode("overwrite").parquet(s"$root/m${next}_new")
    val untouched = entries.filterNot { case (rel, _) => affectedFiles(rel) }
    val newEntries = (untouched ++
      (if (affectedFiles.isEmpty) Seq.empty
       else listDirEntries(spark, root, replacedDir)) ++
      listDirEntries(spark, root, s"m${next}_new")).sortBy(_._1)
    val inserted = upCount - matchedKeys
    (try VersionLog.writeEntries(spark, dir, next, newEntries, op = "merge",
       schemaJson = if (extras.isEmpty) None else Some(evolvedSchema.json))
     catch {
       case e: CommitConflictException => throw new IllegalStateException(
         s"CDC apply on $dir lost its commit race — the table changed " +
           "under the rewrite; rerun it against the new head", e)
     }, replaced, inserted, deleted)
  }

  /** The additive-evolution drift matrix shared by [[mergeInto]] and
    * [[mergeApply]]: names AND types compared nullability-insensitively
    * (a name-only check would let an int32 updates column land beside
    * int64 files); DROPPED or RETYPED columns refuse loudly (they need
    * a rewrite); EXTRA columns are ADDITIVE EVOLUTION. Returns (the
    * evolved physical schema — table columns first, new columns
    * appended nullable — the extra fields, and the table's name→type
    * map).
    */
  private def driftMatrix(current: DataFrame, updates: DataFrame):
      (org.apache.spark.sql.types.StructType,
        Array[org.apache.spark.sql.types.StructField], Map[String, String]) = {
    val tTypes = current.schema.fields.map(f =>
      f.name -> f.dataType.catalogString).toMap
    val uTypes = updates.schema.fields.map(f =>
      f.name -> f.dataType.catalogString).toMap
    val dropped = current.schema.fields.filter(f => !uTypes.contains(f.name))
    require(dropped.isEmpty,
      s"MERGE updates DROP columns [${dropped.map(_.name).mkString(",")}] " +
        "— schema evolution is additive only; rewrite the table instead")
    val retyped = current.schema.fields.filter(f =>
      uTypes.get(f.name).exists(_ != f.dataType.catalogString))
    require(retyped.isEmpty,
      s"MERGE updates RETYPE columns [${retyped.map(f =>
        s"${f.name}: ${f.dataType.catalogString} -> ${uTypes(f.name)}")
        .mkString(",")}] — not allowed; rewrite the table instead")
    val extras = updates.schema.fields.filter(f => !tTypes.contains(f.name))
    (org.apache.spark.sql.types.StructType(
      current.schema.fields ++ extras.map(_.copy(nullable = true))),
      extras, tTypes)
  }

  /** MERGE (upsert): rows of `updates` REPLACE current rows sharing
    * their `keys` values; keys absent from the table INSERT. `updates`
    * must carry the table's schema and at most one row per key (both
    * checked loudly — a duplicate-key merge is ambiguous, not a race
    * to resolve silently). Returns (newVersion, replaced, inserted).
    */
  def mergeInto(spark: SparkSession, dir: String,
      updates: DataFrame, keys: Seq[String]): (Int, Long, Long) = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    val vs = VersionLog.versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir — snapshot before DML")
    val root = VersionLog.rootUriPath(dir)
    val entries = VersionLog.readEntries(spark, dir, vs.last)
    val current = VersionLog.readVersion(spark, dir, vs.last)
    // drift matrix + evolved physical order (table columns first, new
    // columns appended) — see [[driftMatrix]]
    val (evolvedSchema, extras, tTypes) = driftMatrix(current, updates)
    val outCols = evolvedSchema.fieldNames.toSeq
    // ONE job validates AND sizes the batch: per-key counts roll up to
    // (total rows, max per-key multiplicity) — the duplicate-key check
    // and the empty-batch early return were previously two separate
    // update-sized jobs. groupBy keeps NULL key groups, so the dup
    // semantics are unchanged from the old groupBy-based check.
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
    if (upCount == 0L) return (vs.last, 0L, 0L)
    val upKeys = updates.select(keys.map(col): _*)
    // ONE semi-joined scan answers ALL THREE planner questions: the
    // files holding superseded rows (collect_set — the file list is
    // metadata-scale by the same bound every lakehouse planner
    // accepts), the replaced ROW count (semi rows live only in those
    // files, so the global count equals the old affected-file count),
    // and the distinct matched keys. Previously the counters were a
    // SECOND scan of the affected files with a second build of the
    // same key-set broadcast. The key set is updates-sized —
    // broadcast-friendly by nature. input_file_name is captured BEFORE
    // the join: after it the plan has two file sources and the
    // function refuses to bind. replaced and matchedKeys differ when
    // the table holds duplicate keys, where one update row
    // legitimately replaces several table rows.
    val probeRow = current
      .withColumn("__graft_file", input_file_name())
      .join(broadcast(upKeys), keys, "left_semi")
      .agg(collect_set(col("__graft_file")).as("files"),
        count(lit(1)).as("n"),
        countDistinct(keys.head, keys.tail: _*).as("mk")).head()
    val affectedFiles =
      probeRow.getSeq[String](0).map(f => relOf(root, f)).toSet
    val next = vs.last + 1
    val replacedDir = s"m${next}_kept"
    val (replaced, matchedKeys) =
      if (affectedFiles.isEmpty) (0L, 0L)
      else {
        val affectedPaths = affectedFiles.toSeq.sorted.map(rel => s"$root/$rel")
        val affected = spark.read.schema(current.schema).parquet(affectedPaths: _*)
        // re-select the evolved column order before writing (a
        // using-column join moves the join keys to the FRONT, and the
        // rewritten files must keep one physical layout — positional
        // consumers like the change feed's exceptAll depend on it);
        // kept rows NULL-fill any newly added columns
        val keptCols = outCols.map(c =>
          if (tTypes.contains(c)) col(c)
          else lit(null).cast(evolvedSchema(c).dataType).as(c))
        affected.join(broadcast(upKeys), keys, "left_anti")
          .select(keptCols: _*)
          .coalesce(affectedFiles.size) // keep file granularity (guide §6)
          .write.mode("overwrite").parquet(s"$root/$replacedDir")
        (probeRow.getLong(1), probeRow.getLong(2))
      }
    // size the inserted-rows dir from the batch itself (guide §6: aim
    // for few right-sized files, not one part file per upstream scan
    // split/shuffle partition — under chained DML those part files
    // become the NEXT merge's "affected files" and the small-file count
    // compounds). Rows-per-file is a conf with a production-sane
    // default; coalesce never raises partition count.
    val rowsPerFile = spark.conf.getOption("spark.graft.dml.insertFileRows")
      .map(_.toLong).getOrElse(1L << 20)
    val newFiles = math.max(1L, (upCount + rowsPerFile - 1) / rowsPerFile).toInt
    updates.select(outCols.map(col): _*)
      .coalesce(newFiles)
      .write.mode("overwrite").parquet(s"$root/m${next}_new")
    val untouched = entries.filterNot { case (rel, _) => affectedFiles(rel) }
    val newEntries = (untouched ++
      (if (affectedFiles.isEmpty) Seq.empty
       else listDirEntries(spark, root, replacedDir)) ++
      listDirEntries(spark, root, s"m${next}_new")).sortBy(_._1)
    // update keys are unique (checked above), so inserts = the keys
    // that matched nothing — exact and non-negative even when the
    // table holds duplicate keys
    val inserted = upCount - matchedKeys
    (try VersionLog.writeEntries(spark, dir, next, newEntries, op = "merge",
       schemaJson = if (extras.isEmpty) None else Some(evolvedSchema.json))
     catch {
       case e: CommitConflictException => throw new IllegalStateException(
         s"MERGE on $dir lost its commit race — the table changed " +
           "under the rewrite; rerun it against the new head", e)
     }, replaced, inserted)
  }
}
