package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.core.CacheScope.persist
import graft.functions.{AggregateFunctions, GraftFunctions}

/** Multi-dimensional data layout via Z-ordering — the file-skipping
  * lever for 100 TB scans filtered on MORE THAN ONE column. A table
  * sorted on `a` prunes scans on `a` but not on `b`; writing in
  * Z-curve order of (a, b) gives every file a TIGHT bounding box in
  * BOTH dimensions, so parquet min/max stats prune scans on either
  * (or both) — the same mechanism behind Delta's OPTIMIZE ZORDER and
  * ClickHouse's `ORDER BY (a, b)` hierarchical index, expressed as a
  * plain Spark sort.
  *
  * Mechanics: [[zValue]] Morton-interleaves the low 31 bits of two
  * dimension keys (a codegen'd Catalyst expression — see
  * [[graft.functions.ZInterleave]]); [[zOrdered]] range-partitions on
  * that key and sorts within partitions, so each output file covers one
  * compact Z-range = one small (a, b) box. No shuffle beyond the one
  * range exchange the sort itself needs; nothing driver-sized.
  *
  * Dimensions wider than 31 bits should be bucketed first (e.g.
  * `unix_micros(ts) div 60000000` for minutes) — layout keys need
  * locality, not full resolution.
  *
  * The per-file manifests beside a table (zone maps and Blooms) share
  * one path: one [[ManifestKind]] per statistic, one writer, one
  * appender and one freshness read.
  */
object Layout {

  /** Z-curve layout key of two int64 dimension keys (31 bits each). */
  def zValue(x: Column, y: Column): Column =
    GraftFunctions.z_interleave(x, y)

  /** `df` clustered into `files` partitions in Z-curve order of 2 or 3
    * dimension keys: Morton key, one range exchange, a sort within
    * partitions, key dropped (it is re-derivable — the point is only
    * WHERE rows land). The one Z-order transform behind
    * [[writeZOrdered]], [[writeZOrdered3]] and
    * [[VersionLog.compactZOrdered]]. 3-D keys take 21 bits per dim.
    */
  private[core] def zOrdered(df: DataFrame, dims: Seq[Column], files: Int): DataFrame = {
    val zv = dims match {
      case Seq(x, y) => zValue(x, y)
      case Seq(x, y, z) => GraftFunctions.z_interleave3(x, y, z)
      case _ => throw new IllegalArgumentException(
        s"requirement failed: Z-order needs 2 or 3 dimension columns, got ${dims.size}")
    }
    df.withColumn("__graft_zv", zv)
      .repartitionByRange(files, col("__graft_zv"))
      .sortWithinPartitions(col("__graft_zv"))
      .drop("__graft_zv")
  }

  /** Write `df` parquet at `path` clustered into `files` Z-ordered
    * files on (x, y).
    */
  def writeZOrdered(
      df: DataFrame, path: String, x: Column, y: Column, files: Int): Unit =
    zOrdered(df, Seq(x, y), files).write.mode("overwrite").parquet(path)

  /** 3-D form of [[writeZOrdered]] (tenant × time × key is the common
    * shape): every file gets a tight bounding box in ALL THREE
    * dimensions, so single-column, 2-of-3 and full-box predicates all
    * prune — where a 2-D curve leaves the third column unpruned.
    * Dimensions wider than 21 bits must be bucketed first.
    */
  def writeZOrdered3(df: DataFrame, path: String,
      x: Column, y: Column, z: Column, files: Int): Unit =
    zOrdered(df, Seq(x, y, z), files).write.mode("overwrite").parquet(path)

  /** Per-file bounding boxes of two dimension columns over a written
    * table — the pruning diagnostic: a file whose [min, max] box
    * misses the predicate box is skipped by parquet stats. One scan +
    * one aggregate keyed by file identity.
    */
  def fileBoxes(
      spark: SparkSession, path: String, x: String, y: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("n"),
        min(col(x)).as("x_min"), max(col(x)).as("x_max"),
        min(col(y)).as("y_min"), max(col(y)).as("y_max"))

  /** How many files a (x in [x0,x1]) AND (y in [y0,y1]) box predicate
    * must read under this layout (bounding-box intersection count).
    */
  def filesTouched(
      boxes: DataFrame, x0: Long, x1: Long, y0: Long, y1: Long): Long =
    boxes.filter(
      col("x_max") >= x0 && col("x_min") <= x1 &&
        col("y_max") >= y0 && col("y_min") <= y1)
      .count()

  /** One kind of per-file manifest: per-file stats of listed columns in
    * ONE small table beside the data, so a planner prunes the FILE LIST
    * before any footer is touched — the job Delta's add-file stats and
    * Iceberg's manifests do. Kinds differ only in the statistic they
    * keep, as ClickHouse's `minmax` and `bloom_filter` skipping indexes
    * do: `dir` is where the manifest lives (the leading `_` hides it
    * from Spark's parquet reader), `stats(cols, sizing)` gives the
    * per-file aggregates of `cols` and the values a zero-row file gets.
    * `sizing` names constant columns carrying the build parameters, and
    * `suffix` marks the stat columns, so an append re-derives both off
    * the manifest itself and can never change the stat set or sizing.
    */
  private[graft] final class ManifestKind(val dir: String, val writer: String,
      val suffix: String, val sizing: Seq[String],
      val stats: (Seq[String], Seq[Any]) => (Seq[Column], Seq[Any]))

  /** Zone maps: per-file min/max of each column, long-cast. A zero-row
    * file gets NULL stats, which prune correctly: no box test passes on
    * them, and zero rows match nothing.
    */
  private val ZoneMaps = new ManifestKind(
    "_graft_zonemaps", "writeManifest", "__min", Nil,
    (cols, _) => (
      cols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"${c}__min"),
        max(col(c).cast("long")).as(s"${c}__max"))),
      cols.flatMap(_ => Seq(null, null))))

  /** Blooms: per-file Bloom filters sized by (expected keys per file,
    * fpp). Zone maps prune RANGE predicates; a point lookup on a
    * hash-spread high-cardinality key intersects every min/max box, and
    * the per-file Bloom answers "can this file hold key X?" with no
    * false negatives. A zero-row file gets an empty sketch.
    */
  private val Blooms = new ManifestKind(
    "_graft_blooms", "writeBloomManifest", "__bloom", Seq("__expected", "__fpp"),
    { case (cols, Seq(expected: Long, fpp: Double)) =>
      val empty = new java.io.ByteArrayOutputStream()
      BloomFilter.create(expected, fpp).writeTo(empty)
      (cols.map(c => AggregateFunctions.bloomAgg(col(c), expected, fpp)
          .as(s"${c}__bloom")) :+
        lit(expected).as("__expected") :+ lit(fpp).as("__fpp"),
        cols.map(_ => empty.toByteArray) :+ expected :+ fpp)
    })

  private[graft] val Manifests = Seq(ZoneMaps, Blooms)

  /** Zone-map manifest directory name. */
  val ManifestDir: String = ZoneMaps.dir

  /** Bloom manifest directory name. */
  val BloomManifestDir: String = Blooms.dir

  private def uriPath(file: String): String = new Path(file).toUri.getPath

  /** One manifest row per listed file: `n_rows` and the kind's stats
    * grouped by file, plus a fill row for each file the aggregate never
    * sees (a ZERO-ROW part file — an anti-join with an empty partition
    * writes one), so the manifest's file set can never miss a file the
    * freshness identity will demand. The aggregation runs ONCE: without
    * the persist, the coverage collect and the caller's write each
    * re-scanned every listed file. Metadata-scale frame; [[write]] and
    * [[append]] each open a [[CacheScope.withReleased]] bracket around
    * build+write, so the persist releases when the maintenance call
    * returns even outside any caller bracket (LakeCli, ingest loops).
    */
  private def manifestRows(spark: SparkSession, kind: ManifestKind,
      files: Seq[String], cols: Seq[String], sizing: Seq[Any]): DataFrame = {
    val (aggs, fill) = kind.stats(cols, sizing)
    val agged = persist(spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*))
    val covered = agged.select(col("file")).collect()
      .map(r => uriPath(r.getString(0))).toSet
    val missing = files.filterNot(covered)
    if (missing.isEmpty) agged
    else agged.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(
        missing.map(f => Row.fromSeq(f +: 0L +: fill)), 1),
      agged.schema))
  }

  /** Build a `kind` manifest of `cols` over the table's live files from
    * scratch: one distributed scan, nothing driver-sized collected. The
    * file list is explicit — a plain dir read skips non-partition
    * subdirs (the versioned store's b<N>/ batch dirs), and the manifest
    * must cover exactly what [[dataFiles]] lists.
    */
  private def write(spark: SparkSession, kind: ManifestKind, path: String,
      cols: Seq[String], sizing: Seq[Any]): Unit = {
    require(cols.nonEmpty, "a manifest needs at least one column")
    val files = dataFiles(spark, path).toSeq.sorted
    require(files.nonEmpty, s"no data files to manifest at $path")
    CacheScope.withReleased {
      manifestRows(spark, kind, files, cols, sizing)
        .write.mode("overwrite").parquet(s"$path/${kind.dir}")
    }
  }

  /** Persist per-file zone maps — (file, row count, min/max per listed
    * column, long-cast) — beside the table. Parquet row-group stats
    * already prune WITHIN a file, but the scan still opens every
    * footer; at 100 TB the planner-side win is pruning the FILE LIST
    * before any footer is touched.
    */
  def writeManifest(spark: SparkSession, path: String, cols: Seq[String]): Unit =
    write(spark, ZoneMaps, path, cols, Nil)

  /** Persist per-file Bloom filters of the listed columns beside the
    * table, so an `id IN (…)` probe opens only the files that might
    * hold those ids (Iceberg/Delta's bloom-filter-index story, as one
    * small table). `expectedPerFile`/`fpp` size the bit arrays.
    */
  def writeBloomManifest(spark: SparkSession, path: String,
      cols: Seq[String], expectedPerFile: Long, fpp: Double = 0.01): Unit =
    write(spark, Blooms, path, cols, Seq[Any](expectedPerFile, fpp))

  /** Manifested file strings split into (kept rows' predicate, ghost
    * originals): ghosts are manifested files no longer in the table's
    * committed set (vacuumed, or a crashed attempt's orphans cleaned
    * up) — a SMALL list by construction, so the filter is a short
    * NOT-IN over original strings, never a UDF or a table-sized
    * expression.
    */
  private def ghostSplit(fileStrs: Seq[String],
      data: Set[String]): (Set[String], Seq[String]) = {
    val pairs = fileStrs.map(f => (f, uriPath(f)))
    (pairs.collect { case (_, n) if data(n) => n }.toSet,
      pairs.collect { case (o, n) if !data(n) => o })
  }

  /** The sibling scratch dir [[writeSwapped]] stages a manifest in. */
  private def swapPath(target: Path) =
    new Path(target.getParent, s".${target.getName}.swap")

  /** The manifest dir to read: the target, or — in a crashed
    * [[writeSwapped]]'s only loss window, "target deleted, complete
    * `.swap` not yet renamed in" — the `.swap` dir when its `_SUCCESS`
    * marker says it is complete; None when neither exists. Read-only,
    * so pruned reads proceed through the window without racing a
    * writer's delete→rename. One exists() when the target is present
    * (the normal case).
    */
  private def readableManifest(spark: SparkSession, manPath: String): Option[String] = {
    val target = new Path(manPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) Some(manPath)
    else Some(swapPath(target))
      .filter(tmp => fs.exists(new Path(tmp, "_SUCCESS")))
      .map(_.toString)
  }

  /** A parquet dir read through its part files. Spark ignores a path
    * whose name starts with `_` — every manifest dir's and every index's
    * `_meta` does — and logs a warning each time it is handed one.
    */
  private[graft] def readParts(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(root).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    spark.read.parquet(parts.map(_.toString).sorted.toIndexedSeq: _*)
  }

  /** Heal a crashed [[writeSwapped]] by renaming the complete `.swap`
    * into place. Only [[append]] calls it; readers use
    * [[readableManifest]].
    */
  private def healSwap(spark: SparkSession, manPath: String): Unit = {
    val target = new Path(manPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readableManifest(spark, manPath).filter(_ != manPath)
      .foreach(swap => fs.rename(new Path(swap), target))
  }

  /** Replace a manifest dir with `rows` WITHOUT first materializing
    * them driver/memory-side: write to a sibling scratch dir, then
    * swap. The old path (eager `localCheckpoint` then overwrite) spent
    * one extra Spark job per maintenance call just to sever the
    * lineage reading the dir being overwritten; the scratch write
    * reads the old dir and the swap is pure FS metadata. Single-writer
    * maintenance discipline, same as before — readers racing an append
    * already face the staleness tripwire either way.
    */
  private def writeSwapped(spark: SparkSession, rows: DataFrame,
      manPath: String): Unit = {
    val target = new Path(manPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = swapPath(target)
    fs.delete(tmp, true)
    rows.write.mode("overwrite").parquet(tmp.toString)
    // the delete→rename window is two metadata ops back to back (the
    // distributed write happened above, into the scratch dir); a crash
    // inside it leaves the complete .swap dir, which readers use as is
    // and healSwap renames into place on the next maintenance call
    fs.delete(target, true)
    if (!fs.rename(tmp, target))
      throw new IllegalStateException(s"manifest swap to $manPath failed")
  }

  /** Incremental manifest maintenance — appends AND rewrites. A 100 TB
    * store takes appends daily; rebuilding a manifest from scratch
    * re-scans the WHOLE table for a batch that touched 0.1% of it.
    * This heals a crashed swap, scans ONLY the data files the manifest
    * does not know yet (read by explicit path list), computes their
    * stats under the manifest's own column list and sizing (one collect
    * reads the file identity and the sizing), unions them in, and DROPS
    * ghost rows for files no longer committed — which makes it the
    * healing step after copy-on-write DELETE/MERGE and compact too: the
    * work is bounded by the rewritten window (the d/m/c files scanned +
    * the ghost filter), never the table, and the result is
    * row-identical to a full rebuild (spec-asserted for append, DML,
    * and compact). No-op when nothing changed.
    */
  private[graft] def append(spark: SparkSession, kind: ManifestKind,
      path: String): Unit = CacheScope.withReleased {
    val manPath = s"$path/${kind.dir}"
    healSwap(spark, manPath)
    val man = readParts(spark, manPath)
    val cols = man.columns.toSeq.collect {
      case c if c.endsWith(kind.suffix) => c.stripSuffix(kind.suffix)
    }
    val ids = man.select((col("file") +: kind.sizing.map(col)): _*).collect()
    val live = dataFiles(spark, path)
    val (known, ghosts) = ghostSplit(ids.map(_.getString(0)).toSeq, live)
    val fresh = (live -- known).toSeq.sorted
    if (fresh.nonEmpty || ghosts.nonEmpty) {
      val kept = if (ghosts.isEmpty) man
        else man.filter(!col("file").isin(ghosts: _*))
      // union under the OLD manifest's column order, then swap
      val merged =
        if (fresh.isEmpty) kept
        else {
          require(ids.nonEmpty || kind.sizing.isEmpty, s"empty manifest at $manPath")
          kept.unionByName(manifestRows(spark, kind, fresh, cols,
            ids.headOption.fold(Seq.empty[Any])(_.toSeq.tail))
            .select(man.columns.map(col): _*))
        }
      writeSwapped(spark, merged, manPath)
    }
  }

  /** [[append]] for the zone-map manifest. */
  def appendManifest(spark: SparkSession, path: String): Unit =
    append(spark, ZoneMaps, path)

  /** [[append]] for the Bloom manifest. */
  def appendBloomManifest(spark: SparkSession, path: String): Unit =
    append(spark, Blooms, path)

  /** The files a MANIFEST over `path` must cover: for a plain
    * directory, every non-hidden on-disk file; for a VERSIONED table
    * (a `_graft_log` exists), only the COMMITTED live set — on-disk
    * orphans of a crashed compact/DML/ingest attempt are invisible to
    * readers ([[VersionLog.snapshot]]'s rule), so a manifest or an
    * existence probe that counted them would either go permanently
    * stale or treat never-landed rows as existing. Empty when the
    * path does not exist yet (a first ingest's target).
    */
  private[graft] def dataFiles(spark: SparkSession, path: String): Set[String] = {
    val root = new Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Set.empty
    else if (f.exists(new Path(s"$path/${VersionLog.LogDir}"))) {
      val rootPath = {
        val p = root.toUri.getPath
        if (p.endsWith("/")) p.dropRight(1) else p
      }
      VersionLog.committedLiveEntries(spark, path)
        .map { case (rel, _) => s"$rootPath/$rel" }.toSet
    } else liveDataFiles(spark, path)
  }

  /** The table's live data files, scheme-normalized (`input_file_name`
    * reports `file:///…` while Hadoop listings print `file:/…` — the
    * URI path component is the stable identity). Hidden (`_`/`.`)
    * entries are skipped exactly as Spark's own listing skips them.
    */
  private[graft] def liveDataFiles(spark: SparkSession, path: String): Set[String] =
    liveDataEntries(spark, path).map(_._1)

  /** [[liveDataFiles]] with lengths, read off the same listStatus walk
    * — no per-file getFileStatus round trips (the snapshot path's
    * metadata cost is one listing per directory, not one RPC per
    * file).
    */
  private[graft] def liveDataEntries(
      spark: SparkSession, path: String): Set[(String, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Iterator[(String, Long)] =
      fs.listStatus(p).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath)
        else Iterator.single((st.getPath.toUri.getPath, st.getLen))
      }
    walk(root).toSet
  }

  /** The one freshness read behind every pruned read and count: the
    * readable `kind` manifest dir, ONE collect of `file` plus the
    * columns `pick` chooses from the manifest's schema (metadata-scale
    * rows — one short row per file), and ONE comparison of their file
    * set against the committed live set, or against `knownLive` when
    * the caller already listed it. None when the manifest is absent,
    * `pick` declines, or the file sets differ: a file appended or
    * rewritten after the build would otherwise vanish from results.
    */
  private def freshRows(spark: SparkSession, kind: ManifestKind, path: String,
      knownLive: Option[Set[String]] = None)(
      pick: Set[String] => Option[Seq[String]]): Option[Array[Row]] =
    readableManifest(spark, s"$path/${kind.dir}").flatMap { dir =>
      val man = readParts(spark, dir)
      pick(man.columns.toSet)
        .map(cs => man.select(("file" +: cs).map(col): _*).collect())
        .filter(_.map(r => uriPath(r.getString(0))).toSet ==
          knownLive.getOrElse(dataFiles(spark, path)))
    }

  /** The hard error of a stale (or missing) manifest: the explicit API
    * fails loudly with a rebuild instruction instead of answering from
    * a file set the table no longer has.
    */
  private def stale(kind: ManifestKind, path: String, use: String): Nothing =
    throw new IllegalArgumentException(
      s"requirement failed: manifest at $path/${kind.dir} is missing or " +
        s"stale — rebuild it with Layout.${kind.writer} before $use")

  /** The zone-map prune of a conjunction of `(column, lo, hi)` boxes
    * (both bounds inclusive): the surviving files plus the manifest's
    * file total. `strict` refuses a box on a column without stats; the
    * soft form ignores such a box (pruning on a conjunct SUBSET is
    * sound) and declines when no box has stats.
    */
  private def boxPrune(spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)], knownLive: Option[Set[String]],
      strict: Boolean): Option[(Seq[String], Long)] =
    freshRows(spark, ZoneMaps, path, knownLive) { have =>
      val (usable, bare) = boxes.partition { case (c, _, _) => have(s"${c}__min") }
      require(!strict || bare.isEmpty, s"zone-map manifest at " +
        s"$path/${ZoneMaps.dir} has no stats for ${bare.map(_._1).mkString(", ")}")
      Some(usable.flatMap { case (c, _, _) => Seq(s"${c}__min", s"${c}__max") })
        .filter(_.nonEmpty || strict)
    }.map { rows =>
      val kept = rows.filter(r => boxes.forall { case (c, lo, hi) =>
        // a box the read selected no stats for is ignored; max follows min
        val mn = r.schema.fieldNames.indexOf(s"${c}__min")
        mn < 0 || !r.isNullAt(mn) && !r.isNullAt(mn + 1) &&
          r.getLong(mn + 1) >= lo && r.getLong(mn) <= hi
      })
      (kept.map(_.getString(0)).toSeq.sorted, rows.length.toLong)
    }

  /** The data files a conjunction of `(column, lo, hi)` boxes (both
    * bounds inclusive) must read, per the zone-map manifest. Collecting
    * the surviving FILE LIST on the driver is the same metadata-scale
    * bound every lakehouse planner accepts — one short string per file,
    * never row data. A stale manifest, or a box on a column without
    * stats, is a hard error, never a wrong answer.
    */
  def prunedFiles(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)]): Seq[String] =
    boxPrune(spark, path, boxes, None, strict = true)
      .getOrElse(stale(ZoneMaps, path, "pruned reads"))._1

  /** [[prunedFiles]] without the hard errors — the contract the
    * automatic prune rule ([[graft.plans.ZoneMapPruneRule]]) needs:
    * when the manifest is absent, stale, or carries stats for none of
    * the requested columns, the right response is "don't prune" (the
    * full scan is always row-correct), never a thrown error from inside
    * the optimizer. Returns the surviving file list plus the manifest's
    * total file count; boxes without manifest stats are ignored.
    *
    * @param knownLive the committed live set when the CALLER already
    *   listed it (the auto-prune rule's versioned-root recognition does
    *   — one listing serves both the root identity and the staleness
    *   identity instead of two walks per pruned scan).
    */
  private[graft] def prunedFilesIfFresh(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)],
      knownLive: Option[Set[String]] = None): Option[(Seq[String], Long)] =
    boxPrune(spark, path, boxes, knownLive, strict = false)

  /** Metadata-only row count: `SELECT count(*)` answered from the
    * zone-map manifest's per-file `n_rows` — zero data files opened,
    * the count-from-commit-log shortcut every lakehouse serves. A count
    * over a stale manifest would be silently wrong, so it is a hard
    * error instead.
    */
  def countFromManifest(spark: SparkSession, path: String): Long =
    freshRows(spark, ZoneMaps, path)(_ => Some(Seq("n_rows")))
      .getOrElse(stale(ZoneMaps, path, "metadata-only counts"))
      .map(_.getLong(1)).sum

  /** [[bloomPrunedFiles]] without the hard staleness error — None when
    * the manifest's file set no longer matches the committed live set.
    * The probe-first shape for maintenance loops that can HEAL and
    * retry ([[graft.streaming.IngestStreams.ingestBatchDedup]]): the
    * freshness test needs the same manifest collect + live listing the
    * probe itself needs, so probing first and healing only on a None
    * saves one manifest read per call on the (overwhelmingly common)
    * already-fresh path.
    */
  private[graft] def bloomPrunedFilesIfFresh(spark: SparkSession, path: String,
      column: String, values: Seq[String]): Option[Seq[String]] = {
    require(values.nonEmpty, "a point-lookup prune needs probe values")
    freshRows(spark, Blooms, path)(_ => Some(Seq(s"${column}__bloom"))).map(
      _.filter { r =>
        val bloom = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        values.exists(bloom.mightContainString)
      }.map(_.getString(0)).toSeq.sorted)
  }

  /** The files an `col IN (values)` point lookup must read, per the
    * bloom manifest: a file survives when ANY probed value might be
    * present. No false negatives ⇒ result-complete; fpp only costs
    * extra files. A stale manifest is a hard error. Driver-side cost:
    * the file-count-sized manifest with one ~KB sketch per file —
    * metadata scale.
    */
  def bloomPrunedFiles(spark: SparkSession, path: String,
      column: String, values: Seq[String]): Seq[String] =
    bloomPrunedFilesIfFresh(spark, path, column, values)
      .getOrElse(stale(Blooms, path, "pruned point lookups"))

  /** Manifest-pruned scan: read ONLY the files whose zone maps
    * intersect every box, then re-apply the boxes as a residual so the
    * result equals the full-scan filter row-for-row.
    */
  def prunedRead(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)]): DataFrame =
    prunedRead(spark, path, boxes, prunedFiles(spark, path, boxes))

  /** [[prunedRead]] over the `kept` files a [[prunedFiles]] call on
    * the same boxes already returned — a caller that checks the file
    * list reads the manifest once, not twice.
    */
  def prunedRead(spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)], kept: Seq[String]): DataFrame = {
    require(boxes.nonEmpty, "a pruned read needs at least one box predicate")
    keptRead(spark, path, kept, boxes.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _))
  }

  /** Bloom-pruned point lookup: read only the files whose sketches
    * admit any probed value, then re-apply the IN as a residual —
    * row-identical to the full scan by the no-false-negative
    * guarantee.
    */
  def bloomPrunedRead(spark: SparkSession, path: String,
      column: String, values: Seq[String]): DataFrame =
    bloomPrunedRead(spark, path, column, values,
      bloomPrunedFiles(spark, path, column, values))

  /** [[bloomPrunedRead]] over the `kept` files a [[bloomPrunedFiles]]
    * call on the same probe already returned.
    */
  def bloomPrunedRead(spark: SparkSession, path: String,
      column: String, values: Seq[String], kept: Seq[String]): DataFrame =
    keptRead(spark, path, kept, col(column).cast("string").isin(values: _*))

  /** The one body of every pruned read: the `kept` files filtered by
    * `residual`. An empty survivor list short-circuits to a zero-row
    * frame with the table's schema, derived from the COMMITTED file
    * list — a bare `spark.read.parquet(path)` cannot infer a schema on
    * a versioned table whose data lives only under `b<N>/` subdirs.
    */
  private def keptRead(spark: SparkSession, path: String,
      kept: Seq[String], residual: Column): DataFrame =
    if (kept.nonEmpty) spark.read.parquet(kept: _*).filter(residual)
    else spark.read.parquet(dataFiles(spark, path).toSeq.sorted.headOption
      .getOrElse(path)).filter(lit(false))
}
