package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Table version log — snapshot isolation and time travel for a plain
  * parquet directory, the Delta/Iceberg capability a standing 100 TB
  * training corpus cannot run without: "train on exactly version N"
  * must stay answerable after later appends, and a rerun must be able
  * to PROVE it read the same bytes. A version is a manifest of the
  * table's live data files (relative path + length) written to
  * `_graft_log/v<n>.list`; reading a version scans exactly that file
  * list, so later appends are invisible by construction — no copied
  * data, no lock, metadata-scale cost only (one short line per file,
  * the same bound every lakehouse commit log accepts).
  *
  * Guarantees and limits, stated plainly:
  *  - version commits are OPTIMISTIC-CONCURRENCY CAS operations
  *    ([[snapshotDetailed]]): concurrent APPENDERS (ingest streams,
  *    snapshot crons) rebase and retry automatically, so many may run
  *    at once; at most one concurrent REWRITER (compact/DML/restore)
  *    is supported — a rewriter losing its race aborts loudly
  *    ([[CommitConflictException]]) instead of dropping the winner's
  *    rows, and must rerun against the new head;
  *  - every rewriter (compact, ZORDER, restore, ALTER, and [[Dml]]'s
  *    DELETE/MERGE) composes three primitives: [[head]] (the latest
  *    version, its entries and frame), [[rewrite]] (a copy-on-write
  *    pass over the affected files, kept file-granular) and [[commit]]
  *    (the CAS at head + 1, where a lost race is that loud abort);
  *  - older versions stay readable after [[compact]]/DML until
  *    [[vacuum]] reclaims them — [[readVersion]] verifies every listed
  *    file still exists with its recorded length and fails LOUDLY
  *    otherwise (the vacuum horizon, surfaced as an error instead of
  *    silently wrong rows);
  *  - every version records the op that minted it (`#op=` header), so
  *    incremental consumers ([[readChanges]], [[readChangeFeed]]) can
  *    classify history: compactions skip as logical no-ops, DML yields
  *    row-level events, unknown rewrites refuse loudly;
  *  - paths are stored relative to the table root, so a table moved or
  *    mounted elsewhere keeps its history.
  */
object VersionLog {

  val LogDir = "_graft_log"

  private[core] def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[core] def rootUriPath(dir: String): String = {
    val p = new Path(dir).toUri.getPath
    if (p.endsWith("/")) p.dropRight(1) else p
  }

  private def versionPath(dir: String, v: Int): Path =
    new Path(s"$dir/$LogDir/v${"%05d".format(v)}.list")

  /** Recorded versions, ascending (empty when no snapshot exists). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val log = new Path(s"$dir/$LogDir")
    val f = fs(spark, dir)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toInt }
      .sorted
  }

  /** The live data files as (relativePath, length), sorted — the
    * deterministic content a snapshot records and compares against.
    * Lengths come straight out of the directory walk's FileStatus
    * entries — a per-file getFileStatus round trip here would cost one
    * extra namenode RPC per file per snapshot (millions at corpus
    * scale).
    */
  private def liveEntries(
      spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val root = rootUriPath(dir)
    Layout.liveDataEntries(spark, dir).toSeq.map { case (p, len) =>
      require(p.startsWith(root + "/"),
        s"data file $p escapes the table root $root")
      (p.stripPrefix(root + "/"), len)
    }.sortBy(_._1)
  }

  /** Memo of parsed version records. SAFE because a version file is
    * IMMUTABLE once committed (the CAS primitive refuses an existing
    * target, and nothing ever rewrites one in place); deletion by
    * [[vacuum]] surfaces as the same loud "not recorded" error via the
    * getFileStatus below, and a table REMOVED AND RE-CREATED at the
    * same path (version numbering restarts at v1) misses the memo
    * because the key carries the version FILE's content identity
    * (modificationTime, length) — read off the same getFileStatus the
    * existence check already pays, so the hardening costs zero extra
    * RPCs. The identity is only as fine as the filesystem's mtime: a
    * re-created table whose same-length version file lands within one
    * mtime tick of the old one (a whole second on some stores) still
    * hits the stale record. Bounded LRU (access-order, 4096 records) so a long-lived
    * service over many tables evicts cold records instead of dumping
    * the whole memo. Without the memo every snapshot/step/changeFeed
    * walk re-opened and re-parsed the same records — one RPC+parse per
    * version per call, the dominant driver-side cost of a multi-step
    * lifecycle scenario.
    */
  private val versionRecords = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int, Long, Long),
        (Map[String, String], Seq[(String, Long)])](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long, Long),
            (Map[String, String], Seq[(String, Long)])]): Boolean =
        size() > 4096
    })

  /** One version record: its `#key=value` header lines (op label,
    * later the schema) and its (relativePath, length) entries. Header
    * lines were introduced with the change-feed work; records without
    * them (older logs) read back with an empty header and their op is
    * inferred from the reserved-dir naming contract — see [[step]].
    */
  private[core] def readVersionFile(spark: SparkSession, dir: String,
      v: Int): (Map[String, String], Seq[(String, Long)]) = {
    val p = versionPath(dir, v)
    val f = fs(spark, dir)
    val st =
      try f.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"requirement failed: version $v is not recorded at $dir/$LogDir")
      }
    val key = (rootUriPath(dir), v, st.getModificationTime, st.getLen)
    val hit = versionRecords.get(key)
    if (hit != null) return hit
    val parsed = readVersionFileUncached(f, p)
    versionRecords.put(key, parsed)
    parsed
  }

  private def readVersionFileUncached(f: org.apache.hadoop.fs.FileSystem,
      p: Path): (Map[String, String], Seq[(String, Long)]) = {
    val lines = readText(f, p).split("\n").toSeq.filter(_.nonEmpty)
    val (hdr, data) = lines.partition(_.startsWith("#"))
    val header = hdr.map { l =>
      val i = l.indexOf('=')
      require(i > 1, s"corrupt version header in $p: '$l'")
      (l.substring(1, i), l.substring(i + 1))
    }.toMap
    val entries = data.map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"corrupt version record in $p: '$line'")
      (line.substring(i + 1), line.substring(0, i).toLong)
    }
    (header, entries)
  }

  private[core] def readEntries(
      spark: SparkSession, dir: String, v: Int): Seq[(String, Long)] =
    readVersionFile(spark, dir, v)._2

  /** Reserved first-segment dir names the maintenance paths write
    * ([[compact]] `c<N>/`, [[graft.core.Dml]] `d<N>/` / `m<N>_*`,
    * [[graft.streaming.IngestStreams]] `b<N>/`). Files under them
    * become table data ONLY by being listed in a version (or, for
    * `b<N>`, by the ingest marker) — a reserved dir on disk that no
    * record claims is a CRASHED attempt's orphan, and [[snapshot]]
    * must never resurrect it (it would double-count every surviving
    * row of a crashed compact/DELETE/MERGE alongside the originals).
    */
  private val ReservedDir = "^(b\\d+|c\\d+|d\\d+|m\\d+_(kept|new))$".r

  /** Cumulative record of files SUPERSEDED by rewrites (compacted /
    * DML-replaced but possibly still on disk awaiting [[vacuum]]) —
    * maintained by [[writeEntries]] so [[snapshot]] reads ONE file
    * instead of re-reading every historical manifest per call (a 24/7
    * per-batch ingest would otherwise go quadratic in batch count).
    */
  private def supersededPath(dir: String): Path =
    new Path(s"$dir/$LogDir/superseded.list")

  private[core] def readSuperseded(spark: SparkSession, dir: String): Set[String] = {
    val p = supersededPath(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Set.empty
    else readText(f, p).split("\n").filter(_.nonEmpty).toSet
  }

  /** The whole of a small metadata file (a version record, the
    * superseded list, a cursor) as UTF-8 text.
    */
  private[graft] def readText(
      f: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Atomically replace `target` with `tmp` — there is NO window where
    * `target` is absent (a delete-then-rename pair would have one, and
    * a crash inside it loses the record being replaced: the exact
    * hazard for the cumulative superseded list, whose loss would let
    * the next [[snapshot]] resurrect compacted/DML-replaced files and
    * double-count their rows). Local filesystems go through java.nio's
    * ATOMIC_MOVE; anything else uses FileContext rename with the
    * OVERWRITE option (atomic on HDFS — the Delta/HDFS commit
    * primitive).
    */
  private def atomicReplace(
      spark: SparkSession, tmp: Path, target: Path): Unit = {
    val scheme = Option(target.toUri.getScheme)
      .orElse(Option(fs(spark, target.toString).getUri.getScheme))
    if (scheme.forall(_ == "file")) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def writeSuperseded(
      spark: SparkSession, dir: String, rels: Set[String]): Unit =
    writeText(spark, supersededPath(dir), rels.toSeq.sorted.map(_ + "\n").mkString)

  /** Stage `text` in an attempt-unique temp file beside `target`, for
    * [[atomicReplace]] or the version CAS to install: two writers of
    * the same target never share a staging file, so neither can
    * clobber or vanish the other's before it lands.
    */
  private def stageText(
      f: org.apache.hadoop.fs.FileSystem, target: Path, text: String): Path = {
    f.mkdirs(target.getParent)
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    tmp
  }

  /** The write twin of [[readText]]: replace a small metadata file (the
    * superseded list, a cursor) with `text` atomically —
    * a crash mid-write leaves the previous content, never a torn file.
    */
  private[graft] def writeText(spark: SparkSession, p: Path, text: String): Unit =
    atomicReplace(spark, stageText(fs(spark, p.toString), p, text), p)

  /** Commit markers: `<dir>/_commits/v<N>` says that unit `N` of a
    * replayable writer (an ingest batch, a state fold, an MV refresh)
    * landed completely. The writer checks [[isCommitted]] before doing
    * any work and calls [[markCommitted]] only after its data is
    * written, so a replay after any crash point redoes an unmarked
    * unit and skips a marked one. Writers that keep versioned state
    * put version `N` at [[stateDir]], and readers take the highest
    * committed one ([[committedState]]): an unmarked `v=N/` is a
    * crashed attempt's orphan and is never read.
    */
  private val CommitDir = "_commits"

  private[graft] def commitMarker(dir: String, n: Long): Path =
    new Path(s"$dir/$CommitDir/v$n")

  /** The committed unit ids under `dir`, ascending. The name match is
    * strict (`v` and digits), so a stray entry such as an editor
    * backup is ignored instead of failing every reader.
    */
  private[graft] def committed(spark: SparkSession, dir: String): Seq[Long] = {
    val commits = new Path(s"$dir/$CommitDir")
    val f = fs(spark, dir)
    if (!f.exists(commits)) Seq.empty
    else f.listStatus(commits).map(_.getPath.getName).toSeq
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }
      .sorted
  }

  private[graft] def isCommitted(spark: SparkSession, dir: String, n: Long): Boolean =
    fs(spark, dir).exists(commitMarker(dir, n))

  /** Mark unit `n` committed; a no-op when it already is. */
  private[graft] def markCommitted(spark: SparkSession, dir: String, n: Long): Unit = {
    val marker = commitMarker(dir, n)
    val f = fs(spark, dir)
    f.mkdirs(marker.getParent)
    f.createNewFile(marker)
  }

  /** Where a versioned-state writer puts the state a marker `n` vouches for. */
  private[graft] def stateDir(dir: String, n: Long): String = s"$dir/v=$n"

  /** The highest committed state under `dir`, if any. */
  private[graft] def committedState(
      spark: SparkSession, dir: String): Option[DataFrame] =
    committed(spark, dir).lastOption.map(n => spark.read.parquet(stateDir(dir, n)))

  /** The table's COMMITTED live files — what [[snapshot]] would record
    * right now: on-disk files minus supersessions (honored only once
    * the latest version really dropped the file — [[writeEntries]]
    * records them BEFORE the version commit, so a crash between the
    * two leaves entries for files still legitimately listed) and minus
    * uncommitted reserved-dir orphans (crashed compact/DML/ingest
    * attempts — see [[ReservedDir]]). This is ALSO the file set every
    * manifest ([[Layout]] zone maps / blooms) over a versioned table
    * must key on: a probe that counted a crashed MERGE's orphan rows
    * as "existing" would drop re-delivered keys that never actually
    * landed anywhere readable.
    */
  private[core] def committedLiveEntries(
      spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val vs = versions(spark, dir)
    val superseded = readSuperseded(spark, dir)
    val latestFiles: Set[String] =
      if (vs.isEmpty) Set.empty
      else readEntries(spark, dir, vs.last).map(_._1).toSet
    def committed(rel: String): Boolean = {
      val seg = rel.takeWhile(_ != '/')
      if (rel.indexOf('/') < 0 || ReservedDir.findFirstIn(seg).isEmpty) true
      else if (latestFiles(rel)) true
      else if (seg.startsWith("b"))
        isCommitted(spark, dir, seg.stripPrefix("b").toLong)
      else false // c/d/m dir no version references: a crashed rewrite
    }
    liveEntries(spark, dir)
      .filterNot { case (rel, _) => superseded(rel) && !latestFiles(rel) }
      .filter { case (rel, _) => committed(rel) }
  }

  /** The EFFECTIVE SCHEMA as of version `v`: the newest `#schema=`
    * header at or below it (None when the table never evolved — reads
    * then infer from the files, exactly the pre-evolution behavior).
    * Reading a version with its effective schema NULL-backfills
    * columns that files written before an additive evolution lack —
    * the lakehouse read-side half of ALTER TABLE ADD COLUMNS, with no
    * data rewritten.
    */
  def effectiveSchema(spark: SparkSession, dir: String,
      v: Int): Option[org.apache.spark.sql.types.StructType] =
    effectiveSchemaJson(spark, dir, v).map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  private[core] def effectiveSchemaJson(
      spark: SparkSession, dir: String, v: Int): Option[String] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(s"$dir/$LogDir/has_schema"))) return None
    // newest header at or below v wins; an EMPTY value is the explicit
    // "inferred" sentinel (a restore back across an evolution boundary
    // writes it so the walk stops there instead of finding the
    // evolution it un-did)
    versions(spark, dir).filter(_ <= v).reverse.iterator
      .map(x => readVersionFile(spark, dir, x)._1.get("schema"))
      .collectFirst { case Some(j) => j }
      .filter(_.nonEmpty)
  }

  /** Memoized footer schema per (session, table root, sampled file)
    * for NEVER-EVOLVED versioned tables: the store enforces one
    * physical schema across a table's files (ingest drift guard, MERGE
    * drift matrix), so one footer's schema serves every later read and
    * every ingest check — without the memo each readVersion/
    * readChanges/readChangeFeed call ran its own footer read. Evolved
    * tables never consult this (their schema travels in version
    * headers). The SAMPLED FILE is part of the key: a table removed and
    * re-created at the same path lands fresh part-file names (writer
    * UUIDs), so a stale schema can never serve a replacement table.
    * Entries for stopped sessions purge on the next lookup, mirroring
    * [[graft.Tables]]'s memo hygiene.
    */
  private val inferredSchemas = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), StructType]()

  /** The schema version `v` reads with — the ONE record of a versioned
    * table's schema, which reads and the ingest drift check share: the
    * effective `#schema=` header ([[effectiveSchema]]), or else the
    * footer of the first file `v` lists. `v = None` asks about the
    * latest version; with no version yet, the first committed live
    * file stands in (a crash before the first snapshot leaves marked
    * batches unversioned). None when no committed file exists at all.
    *
    * The footer is read on the driver, NOT via
    * `spark.read.parquet(f).schema`, whose inference launches a (small)
    * Spark job per memo miss.
    */
  private[graft] def schemaOf(spark: SparkSession, dir: String,
      v: Option[Int] = None): Option[StructType] = {
    val at = v.orElse(versions(spark, dir).lastOption)
    at.flatMap(effectiveSchema(spark, dir, _)).orElse {
      val files = at.fold(
        if (fs(spark, dir).exists(new Path(dir))) committedLiveEntries(spark, dir)
        else Nil)(readEntries(spark, dir, _))
      files.headOption.map { case (rel, _) =>
        val f = s"${rootUriPath(dir)}/$rel"
        inferredSchemas.keySet.removeIf(_._1.sparkContext.isStopped)
        inferredSchemas.computeIfAbsent((spark, rootUriPath(dir), f),
          _ => org.apache.spark.sql.GraftBridge.parquetFileSchema(spark, f))
      }
    }
  }

  /** A reader with version `v`'s schema: missing columns in files
    * older than an evolution read as NULL.
    */
  private def readerFor(spark: SparkSession, dir: String,
      v: Int): org.apache.spark.sql.DataFrameReader =
    schemaOf(spark, dir, Some(v)).fold(spark.read)(st => spark.read.schema(st))

  /** ALTER TABLE ADD COLUMNS as a metadata-only version: the SAME file
    * list re-recorded with a new effective schema. Strictly additive —
    * every current column must survive with its type, and new columns
    * are forced nullable (rows in existing files read as NULL). The
    * "evolve" op is a logical no-op to every incremental consumer.
    */
  def evolveSchema(spark: SparkSession, dir: String, newSchema: StructType): Int = {
    val h = head(spark, dir, "ALTER")
    val (evolved, extras) =
      evolveAdditively(h.df.schema, newSchema, s"ALTER of $dir")
    if (extras.isEmpty) h.v
    else commit(h, h.entries, "evolve", Some(evolved.json), "ALTER")
  }

  /** Additive schema evolution — the one rule MERGE ([[Dml]]), ALTER
    * ([[evolveSchema]]) and evolving ingest
    * ([[graft.streaming.IngestStreams]]) share. Names AND types compare
    * nullability-insensitively (a name-only check would let an int32
    * column land beside int64 files). A RETYPED column always refuses:
    * it needs a rewrite. A column `incoming` lacks refuses unless
    * `nullFills` admits it — the caller's choice (ingest NULL-fills the
    * nullable ones). Columns only `incoming` carries are appended,
    * nullable, after the table's. Returns (the evolved schema, the
    * appended fields).
    */
  private[graft] def evolveAdditively(table: StructType, incoming: StructType,
      what: String, nullFills: StructField => Boolean = _ => false)
      : (StructType, Seq[StructField]) = {
    def types(st: StructType) =
      st.fields.map(f => f.name -> f.dataType.catalogString).toMap
    val (tTypes, inTypes) = (types(table), types(incoming))
    val retyped = table.fieldNames.filter(n => inTypes.get(n).exists(_ != tTypes(n)))
    require(retyped.isEmpty,
      s"$what would RETYPE columns [${retyped.map(n =>
        s"$n: ${tTypes(n)} -> ${inTypes(n)}").mkString(",")}] — schema " +
        "evolution is additive only; rewrite the table instead")
    val dropped = table.fields.filter(f => !inTypes.contains(f.name) && !nullFills(f))
    require(dropped.isEmpty,
      s"$what would DROP columns [${dropped.map(_.name).mkString(",")}] — " +
        "schema evolution is additive only; rewrite the table instead")
    val extras = incoming.fields.toSeq
      .filter(f => !tTypes.contains(f.name)).map(_.copy(nullable = true))
    (StructType(table.fields ++ extras), extras)
  }

  /** Record the table's current live file set as the next version —
    * MINUS files a rewrite already superseded (listed by an older
    * version but replaced since; including them would double-count
    * their rows) and MINUS uncommitted reserved-dir files (a crashed
    * compact/DML/ingest attempt's orphans — see [[ReservedDir]]).
    * Idempotent: when the effective set equals the latest recorded
    * version, no new version is written and the existing number is
    * returned. The record is written to a temp name and renamed into
    * place, so a reader can never observe a half-written version file.
    */
  def snapshot(spark: SparkSession, dir: String): Int =
    snapshotDetailed(spark, dir)._1

  /** [[snapshot]] stamping a new effective schema with the version it
    * mints (the ingest-evolution path — see
    * [[graft.streaming.IngestStreams]]).
    */
  def snapshot(spark: SparkSession, dir: String,
      schemaJson: Option[String]): Int =
    snapshotDetailed(spark, dir, schemaJson = schemaJson)._1

  /** Consecutive commit races a [[snapshotDetailed]] rebases through. */
  private val MaxCommitRetries = 20

  /** [[snapshot]] plus its OCC retry count — (version, retries).
    *
    * Optimistic concurrency: the version commit is a CAS (an atomic
    * create-if-absent of the version file — see [[commitVersionFile]]),
    * so two writers racing for the same version number produce exactly
    * one winner; the loser REBASES — recomputes the committed live set
    * against the new head (a pure function of disk state, so an
    * append-only attempt can always rebase) and retries. This makes
    * concurrent APPENDERS safe (the ingest stream + snapshot cron
    * case); a REWRITER (compact/DML/restore) racing anyone aborts
    * loudly instead — its file list was derived from a head that no
    * longer exists, and silently committing it would drop the winner's
    * rows. Retries are bounded; exhausting them surfaces the conflict.
    */
  def snapshotDetailed(spark: SparkSession, dir: String,
      schemaJson: Option[String] = None): (Int, Int) = {
    var retries = 0
    while (retries <= MaxCommitRetries) {
      val vs = versions(spark, dir)
      val live = committedLiveEntries(spark, dir)
      require(live.nonEmpty, s"refusing to snapshot an empty table at $dir")
      if (schemaJson.isEmpty &&
          vs.nonEmpty && readEntries(spark, dir, vs.last) == live)
        return (vs.last, retries)
      try return (writeEntries(spark, dir, vs.lastOption.getOrElse(0) + 1,
        live, schemaJson = schemaJson), retries)
      catch {
        case _: CommitConflictException => retries += 1 // rebase + retry
      }
    }
    throw new IllegalStateException(
      s"snapshot of $dir lost $MaxCommitRetries consecutive commit races — " +
        "a runaway writer is flooding the log")
  }

  private[core] def writeEntries(spark: SparkSession, dir: String, next: Int,
      entries: Seq[(String, Long)], op: String = "append",
      schemaJson: Option[String] = None): Int = {
    require(!op.contains('\n') && !op.contains('='),
      s"invalid op label '$op'")
    val f = fs(spark, dir)
    val target = versionPath(dir, next)
    // maintain the cumulative superseded record FIRST: files the
    // previous version listed that this one drops were rewritten away.
    // Recording before the version commit makes the pair crash-safe in
    // both orders — a premature entry (version never committed) is
    // neutralized by snapshot's latest-version guard, where the
    // reverse order would lose supersessions forever.
    if (next > 1) {
      val removed = readEntries(spark, dir, next - 1).map(_._1).toSet --
        entries.map(_._1).toSet
      if (removed.nonEmpty)
        writeSuperseded(spark, dir, readSuperseded(spark, dir) ++ removed)
    }
    // the has-schema marker short-circuits effectiveSchema's header
    // walk for never-evolved tables (O(1) instead of O(versions) per
    // read); monotonic, so writing it before the CAS is crash-safe —
    // a lost race leaves the marker set and the walk finds nothing,
    // which reads exactly like an unevolved table
    if (schemaJson.isDefined) {
      require(!schemaJson.get.contains('\n'),
        "schema json must be single-line")
      val marker = new Path(s"$dir/$LogDir/has_schema")
      if (!f.exists(marker)) f.create(marker, true).close()
    }
    // the op label travels INSIDE the version record (a `#op=` header
    // line), so classification commits atomically with the version —
    // a sidecar file would leave a crash window where a committed
    // rewrite reads back as an append and poisons every change feed.
    // The staging file is attempt-unique: two racers preparing the
    // same version number must not clobber each other's (the winner
    // deletes its temp after linking — a shared name would leave the
    // loser linking a vanished file instead of detecting the conflict)
    val header = s"#op=$op\n" +
      schemaJson.map(j => s"#schema=$j\n").getOrElse("")
    val tmp = stageText(f, target,
      header + entries.map { case (rel, len) => s"$len\t$rel\n" }.mkString)
    beforeVersionCommit()
    if (!commitVersionFile(spark, tmp, target)) {
      f.delete(tmp, false)
      throw new CommitConflictException(dir, next)
    }
    next
  }

  /** Deterministic-interleave test hook: invoked between preparing a
    * version record and its CAS commit (production no-op).
    */
  private[core] var beforeVersionCommit: () => Unit = () => ()

  /** The CAS commit primitive: atomically install `tmp` as `target`
    * FAILING (false) when `target` already exists — the mutual
    * exclusion every log-structured table commit rests on. A plain
    * rename is NOT that on local filesystems (POSIX rename(2) silently
    * overwrites), so the local path goes through a hard link
    * (create-if-absent is atomic); HDFS-like filesystems get rename,
    * whose contract already refuses an existing destination.
    */
  private def commitVersionFile(
      spark: SparkSession, tmp: Path, target: Path): Boolean = {
    val scheme = Option(target.toUri.getScheme)
      .orElse(Option(fs(spark, target.toString).getUri.getScheme))
    if (scheme.forall(_ == "file")) {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else fs(spark, target.toString).rename(tmp, target)
  }

  /** One recorded version TRANSITION (v-1 → v): the op that minted it,
    * the entries it added, and the entries it removed. The op comes
    * from the record's `#op=` header; headerless records (older logs)
    * are inferred from the reserved-dir contract — [[compact]] writes
    * only under `c<v>/`, [[Dml.deleteWhere]] only under `d<v>/`,
    * [[Dml.mergeInto]] only under `m<v>_kept|new/` — and anything else
    * with removals is an unclassifiable "rewrite". A file present in both
    * versions but RESIZED is an in-place rewrite: always "rewrite",
    * whatever the header claims.
    */
  private[core] case class Step(v: Int, op: String,
      added: Seq[(String, Long)], removed: Seq[(String, Long)])

  private[core] def step(spark: SparkSession, dir: String, v: Int): Step = {
    val (hdr, cur) = readVersionFile(spark, dir, v)
    val prev = readEntries(spark, dir, v - 1)
    val prevSet = prev.map(_._1).toSet
    val curMap = cur.toMap
    val added = cur.filterNot { case (rel, _) => prevSet(rel) }
    val removed = prev.filterNot { case (rel, _) => curMap.contains(rel) }
    val resized = prev.filter { case (rel, len) =>
      curMap.get(rel).exists(_ != len) }
    def allUnder(p: String) =
      added.nonEmpty && added.forall(_._1.startsWith(p))
    // structure first, label second: resized files are ALWAYS a
    // rewrite, and a step that removed files can never be an append —
    // whatever its header claims (a snapshot taken after files
    // vanished out-of-band writes op=append over a structural rewrite,
    // and trusting it would silently misreport the feed)
    val op =
      if (resized.nonEmpty) "rewrite"
      else if (removed.isEmpty) "append"
      else hdr.getOrElse("op",
        if (allUnder(s"c$v/")) "compact"
        else if (allUnder(s"d$v/")) "delete"
        else if (added.nonEmpty && added.forall(e =>
          e._1.startsWith(s"m${v}_kept/") || e._1.startsWith(s"m${v}_new/")))
          "merge"
        else "rewrite") match {
        case "append" => "rewrite" // a labeled append with removals lies
        case x => x
      }
    Step(v, op, added, removed ++ resized)
  }

  /** The head version a rewriter works from: its number, its entries,
    * the table root, and (lazily — [[restore]] is metadata-only) the
    * [[readVersion]] frame.
    */
  private[core] final class Head(val spark: SparkSession, val dir: String,
      val v: Int, val entries: Seq[(String, Long)]) {
    val root: String = rootUriPath(dir)
    lazy val df: DataFrame = readVersion(spark, dir, v)
    /** `files` (root-relative) read with the head's schema. */
    def read(files: Seq[String]): DataFrame =
      spark.read.schema(df.schema).parquet(files.map(rel => s"$root/$rel"): _*)
  }

  /** Primitive 1 of the copy-on-write write path: read the head,
    * refusing a table with no versions (`what` names the operation).
    */
  private[core] def head(spark: SparkSession, dir: String, what: String): Head = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no versions at $dir — snapshot before $what")
    new Head(spark, dir, vs.last, readEntries(spark, dir, vs.last))
  }

  /** Primitive 2: rewrite the head's `files` (root-relative) through
    * `keep` into `<root>/<sub>` and return the written entries. The
    * rewrite keeps the table's file granularity: K files rewrite to <= K
    * files, never to one part file per scan split (the small-file
    * cascade under repeated DML — guide §6).
    */
  private[core] def rewrite(h: Head, files: Seq[String], sub: String)(
      keep: DataFrame => DataFrame): Seq[(String, Long)] =
    writeDir(h, sub, keep(h.read(files)).coalesce(files.size))

  /** Write `df` to `<root>/<sub>` and list the written data files as
    * root-relative (path, length) entries — the one lister of a
    * rewriter's fresh directory.
    */
  private[core] def writeDir(
      h: Head, sub: String, df: DataFrame): Seq[(String, Long)] = {
    df.write.mode("overwrite").parquet(s"${h.root}/$sub")
    fs(h.spark, h.dir).listStatus(new Path(s"${h.root}/$sub")).toSeq
      .filter(st => !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (s"$sub/${st.getPath.getName}", st.getLen))
      .sortBy(_._1)
  }

  /** Primitive 3: commit `entries` as version `h.v + 1`. A rewriter's
    * entries derive from `h`, so losing the CAS race to any writer is a
    * loud abort (the conflict kept as the cause), never a rebase that
    * would drop the winner's rows — `what` names the operation.
    */
  private[core] def commit(h: Head, entries: Seq[(String, Long)], op: String,
      schemaJson: Option[String], what: String): Int =
    try writeEntries(h.spark, h.dir, h.v + 1, entries.sortBy(_._1), op, schemaJson)
    catch {
      case e: CommitConflictException => throw new IllegalStateException(
        s"$what on ${h.dir} lost its commit race — the table changed " +
          "under it; rerun it against the new head", e)
    }

  /** Rows per freshly inserted data file. */
  private val RowsPerFile = 1L << 20

  /** Files for `rows` freshly inserted rows: few right-sized files, not
    * one part file per upstream scan split or shuffle partition — under
    * chained DML those become the NEXT rewrite's affected files and the
    * small-file count compounds (guide §6).
    */
  private[graft] def filesFor(rows: Long): Int =
    math.max(1L, (rows + RowsPerFile - 1) / RowsPerFile).toInt

  /** OPTIMIZE: rewrite the LATEST version's content as `files` compact
    * files under `c<newVersion>/` and record that list as the next
    * version — WITHOUT touching the old files, so every older version
    * keeps time-traveling until [[vacuum]] reclaims it (Delta's
    * OPTIMIZE + VACUUM split: the log is the truth, the directory is
    * just storage). Rows are bit-identical by construction; the
    * directory temporarily holds both copies, which [[snapshot]] and
    * [[vacuum]] both understand via the superseded-file rule.
    */
  def compact(spark: SparkSession, dir: String, files: Int): Int =
    compactWith(spark, dir)(_.repartition(files))

  /** OPTIMIZE ZORDER: [[compact]] that also RE-CLUSTERS the rows on a
    * 2-D or 3-D Z-curve ([[Layout.zOrdered]], the layout
    * [[Layout.writeZOrdered]] writes, as the compaction's partitioner),
    * so the rewritten files carry tight bounding boxes in every listed
    * dimension and zone-map / parquet-stat pruning works on the
    * compacted table — Delta's
    * OPTIMIZE ZORDER BY as one version-log rewrite. Rows are
    * bit-identical; only placement changes, so the version is a
    * logical no-op to every incremental consumer, exactly like a plain
    * compact. Dimensions wider than 31 bits (2-D) / 21 bits (3-D)
    * must be bucketed first ([[Layout]]'s documented contract).
    */
  def compactZOrdered(spark: SparkSession, dir: String, files: Int,
      dims: Seq[String]): Int =
    compactWith(spark, dir)(Layout.zOrdered(_,
      dims.map(org.apache.spark.sql.functions.col), files))

  private def compactWith(spark: SparkSession, dir: String)(
      layout: DataFrame => DataFrame): Int = {
    val h = head(spark, dir, "OPTIMIZE")
    commit(h, writeDir(h, s"c${h.v + 1}", layout(h.df)), "compact", None,
      "OPTIMIZE")
  }

  /** RESTORE: re-point the head at version `v`'s exact file list as a
    * NEW version — metadata-only, no data copied — the operator loop
    * closer after a bad MERGE/DELETE: the bad version stays in history
    * (auditable, still time-travelable), the restore is one more
    * append-only log record, and the restored files are verified still
    * present at their recorded lengths first (a vacuumed target fails
    * loudly — that history is gone). Idempotent: restoring the current
    * head returns it unchanged.
    */
  def restore(spark: SparkSession, dir: String, v: Int): Int = {
    val h = head(spark, dir, "RESTORE")
    val entries = readEntries(spark, dir, v) // refuses an unrecorded v
    val targetSchema = effectiveSchemaJson(spark, dir, v)
    val headSchema = effectiveSchemaJson(spark, dir, h.v)
    // idempotence needs BOTH identities: an evolve version shares its
    // predecessor's file list but not its read schema — restoring
    // across it must still mint a version that re-pins the schema
    if (h.entries == entries && targetSchema == headSchema) return h.v
    verifiedPaths(spark, dir, entries, s"restore target version $v",
      "that history was vacuumed")
    // the restored version's effective schema travels with it: a
    // restore across an evolution boundary must read like the target —
    // including BACK to a pre-evolution version, where the explicit
    // empty sentinel pins "inferred" over the newer evolution header
    commit(h, entries, "restore",
      if (targetSchema == headSchema) None else Some(targetSchema.getOrElse("")),
      "RESTORE")
  }

  /** VACUUM: drop all but the newest `keepLast` version records and
    * DELETE the data files only those dropped versions referenced —
    * the reclaim step after [[compact]], and the explicit horizon
    * beyond which time travel ends (readVersion on a vacuumed version
    * fails as "not recorded"). Files referenced by any kept version
    * are never touched; unsnapshotted files (ingest lag) are not
    * referenced by dropped versions, so they are never touched either.
    * Returns (droppedVersionCount, deletedFileCount).
    */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the latest version")
    val vs = versions(spark, dir)
    val drop = vs.dropRight(keepLast)
    if (drop.isEmpty) return (0, 0)
    val kept = vs.takeRight(keepLast)
      .flatMap(v => readEntries(spark, dir, v).map(_._1)).toSet
    val victims = drop.flatMap(v => readEntries(spark, dir, v).map(_._1))
      .distinct.filterNot(kept)
    val root = rootUriPath(dir)
    val f = fs(spark, dir)
    var deleted = 0
    victims.foreach { rel =>
      val p = new Path(s"$root/$rel")
      if (f.exists(p) && f.delete(p, false)) deleted += 1
    }
    drop.foreach(v => f.delete(versionPath(dir, v), false))
    // reclaimed files can never be resurrected — prune them from the
    // superseded record so it stays bounded by the un-vacuumed window
    val sup = readSuperseded(spark, dir)
    if (sup.nonEmpty) writeSuperseded(spark, dir, sup -- victims)
    (drop.size, deleted)
  }

  /** Read the table AS OF version `v`: exactly the files that version
    * recorded, verified present with their recorded lengths. A missing
    * or resized file means the history was rewritten (compaction /
    * delete / vacuum) and this version is gone — a loud error, never a
    * silently partial table.
    */
  def readVersion(spark: SparkSession, dir: String, v: Int): DataFrame = {
    val paths = verifiedPaths(spark, dir, readEntries(spark, dir, v),
      s"version $v", "the history was compacted past this version")
    readerFor(spark, dir, v).parquet(paths: _*)
  }

  /** DESCRIBE HISTORY: one row per recorded version — file count,
    * total bytes, and the file/byte DELTA vs the previous version
    * (negative removals mean a compaction/DML rewrite). Metadata-only:
    * built from the version records alone, no data file opened.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vs = versions(spark, dir)
    val rows = vs.foldLeft(
      (Seq.empty[(Int, Long, Long, Long, Long)], Set.empty[String])) {
      case ((acc, prevFiles), v) =>
        val es = readEntries(spark, dir, v)
        val added = es.count(e => !prevFiles(e._1)).toLong
        val removed = prevFiles.size.toLong - es.count(e => prevFiles(e._1))
        (acc :+ ((v, es.size.toLong, es.map(_._2).sum, added, removed)),
          es.map(_._1).toSet)
    }._1
    rows.toDF("version", "n_files", "bytes", "files_added", "files_removed")
  }

  /** Latest recorded version (error when none exists). */
  def latest(spark: SparkSession, dir: String): Int = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no versions recorded at $dir/$LogDir")
    vs.last
  }

  /** Verify `entries` are still on disk at their recorded lengths and
    * return their absolute paths — the vacuum-horizon tripwire
    * [[readVersion]], [[restore]] and every incremental read share: a
    * file reclaimed by [[vacuum]] or rewritten since means that slice of
    * history is gone, and the read fails loudly (naming `horizon`)
    * instead of silently misreporting. One getFileStatus per file.
    */
  private def verifiedPaths(spark: SparkSession, dir: String,
      entries: Seq[(String, Long)], what: String, horizon: String): Seq[String] = {
    val root = rootUriPath(dir)
    val f = fs(spark, dir)
    val bad = entries.filter { case (rel, len) =>
      try f.getFileStatus(new Path(s"$root/$rel")).getLen != len
      catch { case _: java.io.FileNotFoundException => true }
    }
    require(bad.isEmpty,
      s"$what of $dir is no longer readable — ${bad.size} of " +
        s"${entries.size} recorded files are missing or rewritten " +
        s"(e.g. ${bad.take(3).map(_._1).mkString(", ")}); $horizon")
    entries.map { case (rel, _) => s"$root/$rel" }
  }

  private val IncrementalHorizon = "vacuumed past the incremental-read horizon"

  /** Rows INSERTED between two versions — the incremental-consumption
    * read a downstream cursor/MV catches up with. Walks the history
    * STEP BY STEP (never a naive endpoint file-diff): append steps
    * contribute their new files (scanned by explicit path, work
    * proportional to the delta, never a table re-scan); COMPACTION
    * steps contribute nothing and are SKIPPED — a compact rewrites the
    * previous version's rows identically, so it is a logical no-op,
    * and an incremental consumer must survive it (the appended files a
    * later compact superseded are still on disk until [[vacuum]], and
    * are read directly). A DML step (delete/merge/restore, or an
    * unclassifiable rewrite) changes rows, not just files — that is a
    * loud, RESUMABLE error naming the exact boundary version: catch up
    * to just before it with this read, then consume the row-level
    * [[readChangeFeed]] across it (or rebuild downstream state). An
    * empty delta returns an empty frame with the table's schema.
    */
  def readChanges(
      spark: SparkSession, dir: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV <= toV, s"fromV=$fromV must be <= toV=$toV")
    readEntries(spark, dir, fromV) // both endpoints must be recorded
    readEntries(spark, dir, toV)
    val fresh = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    (fromV + 1 to toV).foreach { v =>
      val st = step(spark, dir, v)
      st.op match {
        case "append" => fresh ++= st.added
        case "compact" | "evolve" => () // logical no-op: skipped
        case other => throw new IllegalArgumentException(
          s"history between v$fromV and v$toV of $dir is not " +
            s"append-only — version $v is a $other rewrite, and an " +
            "insert-only incremental read across it would misreport " +
            s"changes. Catch up with readChanges($fromV, ${v - 1}), " +
            s"then consume row-level changes via readChangeFeed(${v - 1}" +
            s", $toV), or rebuild downstream state")
      }
    }
    if (fresh.isEmpty) readVersion(spark, dir, toV).limit(0)
    else {
      val paths = verifiedPaths(spark, dir, fresh.toSeq.sortBy(_._1),
        s"the v$fromV→v$toV delta", IncrementalHorizon)
      readerFor(spark, dir, toV).parquet(paths: _*)
    }
  }

  /** Row-level CHANGE FEED between two versions — the CDC read that
    * survives DML where [[readChanges]] cannot: every step contributes
    * `insert` and/or `delete` events (an update = delete of the old
    * row + insert of the new — consumers needing pairing join by key),
    * tagged with `_change_type` and `_commit_version`. Per step:
    *
    *  - append → its new files, as inserts; compaction → nothing
    *    (bit-identical rows, a logical no-op);
    *  - DELETE → the rewritten files' rows EXCEPT ALL the kept rows
    *    (`d<v>/`) — bag semantics, work bounded by the affected files;
    *  - MERGE → preimages (affected rows EXCEPT ALL `m<v>_kept/`) as
    *    deletes, `m<v>_new/` (upserts + inserts) as inserts;
    *  - RESTORE → dropped files as deletes, re-listed files as inserts
    *    (exact at file granularity: a restore moves whole files);
    *  - an unclassifiable rewrite is a loud error — rebuild downstream.
    *
    * Deterministic and additive: folding the feed into any snapshot of
    * `fromV` reproduces `toV`'s rows exactly (spec-asserted), which is
    * what makes [[Mv.refresh]]'s signed fold correct across DML.
    */
  def readChangeFeed(
      spark: SparkSession, dir: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromV <= toV, s"fromV=$fromV must be <= toV=$toV")
    readEntries(spark, dir, fromV)
    readEntries(spark, dir, toV)
    def rd(entries: Seq[(String, Long)], v: Int): Option[DataFrame] =
      if (entries.isEmpty) None
      else {
        val paths = verifiedPaths(spark, dir, entries, s"the v$v change feed",
          IncrementalHorizon)
        Some(readerFor(spark, dir, v).parquet(paths: _*))
      }
    def tag(df: DataFrame, typ: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(typ))
        .withColumn("_commit_version", lit(v))
    val pieces = scala.collection.mutable.ArrayBuffer[DataFrame]()
    (fromV + 1 to toV).foreach { v =>
      val st = step(spark, dir, v)
      st.op match {
        case "append" =>
          rd(st.added, v).foreach(df => pieces += tag(df, "insert", v))
        case "compact" | "evolve" => ()
        case "delete" =>
          rd(st.removed, v).foreach { old =>
            // align by NAME before the bag-subtract: exceptAll is
            // positional, and historical m/d files may carry the join
            // keys first (older merge rewrites did)
            val deleted = rd(st.added, v).fold(old)(k =>
              old.exceptAll(k.select(old.columns.map(
                org.apache.spark.sql.functions.col): _*)))
            pieces += tag(deleted, "delete", v)
          }
        case "merge" =>
          val (keptE, newE) =
            st.added.partition(_._1.startsWith(s"m${v}_kept/"))
          rd(st.removed, v).foreach { old =>
            val pre = rd(keptE, v).fold(old)(k =>
              old.exceptAll(k.select(old.columns.map(
                org.apache.spark.sql.functions.col): _*)))
            pieces += tag(pre, "delete", v)
          }
          rd(newE, v).foreach(df => pieces += tag(df, "insert", v))
        case "restore" =>
          rd(st.removed, v).foreach(df => pieces += tag(df, "delete", v))
          rd(st.added, v).foreach(df => pieces += tag(df, "insert", v))
        case other => throw new IllegalArgumentException(
          s"version $v of $dir is an unclassifiable rewrite ($other) — " +
            "row-level changes cannot be derived from it; rebuild " +
            "downstream state (Mv.rebuild / Incremental.reset)")
      }
    }
    if (pieces.isEmpty)
      tag(readVersion(spark, dir, toV).limit(0), "insert", toV)
    else pieces.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }
}

/** A version commit lost its CAS race: another writer installed the
  * same version number first. Appenders REBASE and retry
  * ([[VersionLog.snapshotDetailed]] does this automatically — the live
  * set is recomputed against the new head); rewriters (compact / DML /
  * restore) must abort loudly — their file list was derived from a
  * head that no longer exists, and committing it anyway would silently
  * drop the winner's rows.
  */
class CommitConflictException(dir: String, v: Int)
  extends RuntimeException(
    s"version $v at $dir was committed by a concurrent writer")
