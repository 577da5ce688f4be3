package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.CacheScope.persist
import graft.functions.GraftFunctions

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
  * [[graft.functions.ZInterleave]]); [[writeZOrdered]] range-
  * partitions on that key and sorts within partitions, so each output
  * file covers one compact Z-range = one small (a, b) box. No shuffle
  * beyond the one range exchange the sort itself needs; nothing
  * driver-sized.
  *
  * Dimensions wider than 31 bits should be bucketed first (e.g.
  * `unix_micros(ts) div 60000000` for minutes) — layout keys need
  * locality, not full resolution.
  */
object Layout {

  /** Z-curve layout key of two int64 dimension keys (31 bits each). */
  def zValue(x: Column, y: Column): Column =
    GraftFunctions.z_interleave(x, y)

  /** Write `df` parquet at `path` clustered into `files` Z-ordered
    * files on (x, y). The layout key is dropped from the data — it is
    * re-derivable, the point is only WHERE rows landed.
    */
  def writeZOrdered(
      df: DataFrame, path: String, x: Column, y: Column, files: Int): Unit =
    df.withColumn("_zv", zValue(x, y))
      .repartitionByRange(files, col("_zv"))
      .sortWithinPartitions(col("_zv"))
      .drop("_zv")
      .write.mode("overwrite").parquet(path)

  /** 3-D form of [[writeZOrdered]] (tenant × time × key is the common
    * shape): every file gets a tight bounding box in ALL THREE
    * dimensions, so single-column, 2-of-3 and full-box predicates all
    * prune — where a 2-D curve leaves the third column unpruned.
    * Dimensions wider than 21 bits must be bucketed first.
    */
  def writeZOrdered3(df: DataFrame, path: String,
      x: Column, y: Column, z: Column, files: Int): Unit =
    df.withColumn("_zv", GraftFunctions.z_interleave3(x, y, z))
      .repartitionByRange(files, col("_zv"))
      .sortWithinPartitions(col("_zv"))
      .drop("_zv")
      .write.mode("overwrite").parquet(path)

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

  /** Zone-map manifest directory name: the leading `_` keeps Spark's
    * parquet reader from treating it as table data (hidden-file rule).
    */
  val ManifestDir = "_graft_zonemaps"

  /** Persist per-file zone maps — (file, row count, min/max per listed
    * column, long-cast) — beside the table. Parquet row-group stats
    * already prune WITHIN a file, but the scan still opens every
    * footer; at 100 TB the planner-side win is pruning the FILE LIST
    * before any footer is touched, which needs the stats in ONE small
    * table instead of a million footers — the job Delta's add-file
    * stats and Iceberg's manifests do. One distributed scan builds it;
    * nothing driver-sized is collected here.
    */
  /** Per-file zone-map rows for an explicit file list; zero-row part
    * files get all-NULL stat rows (min/max of nothing). NULL stats
    * prune correctly: no box test passes on them, and zero rows match
    * nothing.
    */
  private def zoneMapRows(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"${c}__min"),
      max(col(c).cast("long")).as(s"${c}__max")))
    perFileRows(spark, files, aggs)(0L +: cols.flatMap(_ => Seq(null, null)))
  }

  /** One row per listed file: `aggs` grouped by file, plus a
    * `file +: fill` row for each file the aggregate never sees (a
    * ZERO-ROW part file — an anti-join with an empty partition writes
    * one), so the manifest's file set can never miss a file the
    * staleness identity will demand. The aggregation runs ONCE: without
    * the persist, the coverage collect and the caller's write each
    * re-scanned every listed file. Metadata-scale frame; every caller
    * ([[writeManifest]]/[[appendManifest]] and the bloom twins) opens
    * its own [[CacheScope.withReleased]] bracket around build+write, so
    * the persist releases when the maintenance call returns even when
    * the application runs outside any bracket (LakeCli, ingest loops).
    */
  private def perFileRows(spark: SparkSession, files: Seq[String],
      aggs: Seq[Column])(fill: => Seq[Any]): DataFrame = {
    val agged = persist(spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*))
    val covered = agged.select(col("file")).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath)
      .toSet
    val missing = files.filterNot(covered)
    if (missing.isEmpty) agged
    else agged.unionByName(spark.createDataFrame(
      spark.sparkContext.parallelize(
        missing.map(f => org.apache.spark.sql.Row.fromSeq(f +: fill)), 1),
      agged.schema))
  }

  def writeManifest(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "zone maps need at least one column")
    // explicit live-file list: a plain dir read skips non-partition
    // subdirs (the versioned store's b<N>/ batch dirs), and the
    // manifest must cover exactly what liveDataFiles sees
    val files = dataFiles(spark, path).toSeq.sorted
    require(files.nonEmpty, s"no data files to manifest at $path")
    CacheScope.withReleased {
      zoneMapRows(spark, files, cols)
        .write.mode("overwrite").parquet(s"$path/$ManifestDir")
    }
  }

  /** Incremental manifest maintenance — appends AND rewrites. A 100 TB
    * store takes appends daily; rebuilding the manifest from scratch
    * re-scans the WHOLE table for a batch that touched 0.1% of it.
    * This scans ONLY the data files the manifest does not know yet
    * (read by explicit path list), computes their zone maps, unions
    * them in, and DROPS ghost rows for files no longer committed —
    * which makes it the healing step after copy-on-write DELETE/MERGE
    * and compact too: the work is bounded by the rewritten window
    * (the d/m/c files scanned + the ghost filter), never the table,
    * and the result is row-identical to a full rebuild
    * (spec-asserted for append, DML, and compact). No-op when nothing
    * changed.
    *
    * The column list is taken from the existing manifest's schema, so
    * an append can never silently manifest a different stat set.
    */
  /** Manifested file strings split into (kept rows' predicate, ghost
    * originals): ghosts are manifested files no longer in the table's
    * committed set (vacuumed, or a crashed attempt's orphans cleaned
    * up) — a SMALL list by construction, so the filter is a short
    * NOT-IN over original strings, never a UDF or a table-sized
    * expression.
    */
  private def ghostSplit(fileStrs: Seq[String],
      data: Set[String]): (Set[String], Seq[String]) = {
    val pairs = fileStrs.map(f =>
      (f, new org.apache.hadoop.fs.Path(f).toUri.getPath))
    (pairs.collect { case (_, n) if data(n) => n }.toSet,
      pairs.collect { case (o, n) if !data(n) => o })
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
  private def swapPath(target: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(target.getParent, s".${target.getName}.swap")

  /** The manifest dir to read: the target, or — in a crashed
    * [[writeSwapped]]'s only loss window, "target deleted, complete
    * `.swap` not yet renamed in" — the `.swap` dir when its `_SUCCESS`
    * marker says it is complete; None when neither exists. Read-only,
    * so pruned reads proceed through the window without racing a
    * writer's delete→rename. One exists() when the target is present
    * (the normal case).
    */
  private def readableManifest(spark: SparkSession, manPath: String): Option[String] = {
    val target = new org.apache.hadoop.fs.Path(manPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(target)) Some(manPath)
    else Some(swapPath(target))
      .filter(tmp => fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      .map(_.toString)
  }

  /** Heal a crashed [[writeSwapped]] by renaming the complete `.swap`
    * into place. Only the write entry points call it ([[appendManifest]],
    * [[appendBloomManifest]]); readers use [[readableManifest]].
    */
  private def healSwap(spark: SparkSession, manPath: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(manPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readableManifest(spark, manPath).filter(_ != manPath)
      .foreach(swap => fs.rename(new org.apache.hadoop.fs.Path(swap), target))
  }

  private def writeSwapped(spark: SparkSession, rows: DataFrame,
      manPath: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(manPath)
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

  def appendManifest(spark: SparkSession, path: String): Unit = CacheScope.withReleased {
    val manPath = s"$path/$ManifestDir"
    healSwap(spark, manPath)
    val man = spark.read.parquet(manPath)
    val cols = man.columns.toSeq.collect {
      case c if c.endsWith("__min") => c.stripSuffix("__min")
    }
    val data = dataFiles(spark, path)
    val (known, ghosts) = ghostSplit(
      man.select(col("file")).collect().map(_.getString(0)).toSeq, data)
    val fresh = (data -- known).toSeq.sorted
    if (fresh.isEmpty && ghosts.isEmpty) return
    // ghost rows (vacuumed / orphan-cleaned files) drop in the same
    // rewrite — a deleted file's stats would otherwise hold the
    // staleness identity hostage until a full rebuild
    val kept = if (ghosts.isEmpty) man
      else man.filter(!col("file").isin(ghosts: _*))
    // union under the OLD manifest's column order, then swap
    val merged =
      if (fresh.isEmpty) kept
      else kept.unionByName(
        zoneMapRows(spark, fresh, cols).select(man.columns.map(col): _*))
    writeSwapped(spark, merged, manPath)
  }

  /** The table's live data files, scheme-normalized (`input_file_name`
    * reports `file:///…` while Hadoop listings print `file:/…` — the
    * URI path component is the stable identity). Hidden (`_`/`.`)
    * entries are skipped exactly as Spark's own listing skips them.
    */
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
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(root)) Set.empty
    else if (f.exists(new org.apache.hadoop.fs.Path(s"$path/${VersionLog.LogDir}"))) {
      val rootPath = {
        val p = root.toUri.getPath
        if (p.endsWith("/")) p.dropRight(1) else p
      }
      VersionLog.committedLiveEntries(spark, path)
        .map { case (rel, _) => s"$rootPath/$rel" }.toSet
    } else liveDataFiles(spark, path)
  }

  private[graft] def liveDataFiles(spark: SparkSession, path: String): Set[String] =
    liveDataEntries(spark, path).map(_._1)

  /** [[liveDataFiles]] with lengths, read off the same listStatus walk
    * — no per-file getFileStatus round trips (the snapshot path's
    * metadata cost is one listing per directory, not one RPC per
    * file).
    */
  private[graft] def liveDataEntries(
      spark: SparkSession, path: String): Set[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Iterator[(String, Long)] =
      fs.listStatus(p).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath)
        else Iterator.single((st.getPath.toUri.getPath, st.getLen))
      }
    walk(root).toSet
  }

  /** The data files a conjunction of `(column, lo, hi)` boxes (both
    * bounds inclusive) must read, per the manifest. Collecting the
    * surviving FILE LIST on the driver is the same metadata-scale
    * bound every lakehouse planner accepts — one short string per
    * file, never row data.
    *
    * Staleness is a hard error, not a wrong answer: the manifest's
    * file set must exactly match the live listing, so a file appended
    * (or a partition rewritten) after the manifest was built fails
    * loudly with a rebuild instruction instead of silently vanishing
    * from query results. (A conservative consequence: an all-empty
    * part file — which a range write only produces on degenerate key
    * distributions — also demands a rebuild, because an absent
    * manifest row is indistinguishable from a missed file.)
    */
  def prunedFiles(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)]): Seq[String] = {
    // ONE collect serves both the staleness identity and the box
    // filter (the manifest is metadata-scale — one short row per
    // file); two separate collects were two Spark jobs per pruned read
    val manPath = s"$path/$ManifestDir"
    val man = spark.read.parquet(readableManifest(spark, manPath).getOrElse(manPath))
    val cols = Seq("file") ++ boxes.flatMap { case (c, _, _) =>
      Seq(s"${c}__min", s"${c}__max") }
    val rows = man.select(cols.map(col): _*).collect()
    val norm = rows.map(r =>
      new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    val live = dataFiles(spark, path)
    require(norm == live,
      s"zone-map manifest at $path/$ManifestDir is stale " +
        s"(${(live -- norm).size} unmanifested / ${(norm -- live).size} ghost " +
        "files) — rebuild it with Layout.writeManifest before pruned reads")
    rows.filter { r =>
      boxes.zipWithIndex.forall { case ((_, lo, hi), i) =>
        !r.isNullAt(2 * i + 1) && !r.isNullAt(2 * i + 2) &&
          r.getLong(2 * i + 2) >= lo && r.getLong(2 * i + 1) <= hi
      }
    }.map(_.getString(0)).toSeq.sorted
  }

  /** Metadata-only row count: `SELECT count(*)` answered from the
    * zone-map manifest's per-file `n_rows` — zero data files opened,
    * the count-from-commit-log shortcut every lakehouse serves. The
    * same staleness tripwire as [[prunedFiles]]: a count over a stale
    * manifest would be silently wrong, so it is a hard error instead.
    */
  def countFromManifest(spark: SparkSession, path: String): Long = {
    // one collect: staleness identity + the sum (metadata-scale rows)
    val manPath = s"$path/$ManifestDir"
    val rows = spark.read.parquet(readableManifest(spark, manPath).getOrElse(manPath))
      .select(col("file"), col("n_rows")).collect()
    val norm = rows
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    require(norm == dataFiles(spark, path),
      s"zone-map manifest at $path/$ManifestDir is stale — rebuild it " +
        "with Layout.writeManifest before metadata-only counts")
    rows.map(_.getLong(1)).sum
  }

  /** Per-file BLOOM manifest dir (hidden from table scans like
    * [[ManifestDir]]).
    */
  val BloomManifestDir = "_graft_blooms"

  /** Persist per-file Bloom filters of the listed columns beside the
    * table. Zone maps prune RANGE predicates; a point lookup on a
    * high-cardinality key that is ~uniform across files (any
    * hash-distributed id) intersects every min/max box and prunes
    * nothing — the per-file Bloom answers "can this file contain
    * key X?" with no false negatives, so an `id IN (…)` probe opens
    * only the files that might hold those ids (Iceberg/Delta's
    * bloom-filter-index story, as one small table). One distributed
    * scan; `expectedPerFile`/`fpp` size the bit arrays.
    */
  /** Per-file bloom rows for an explicit file list; zero-row part
    * files get empty-sketch rows.
    */
  private def bloomRows(spark: SparkSession, files: Seq[String],
      cols: Seq[String], expected: Long, fpp: Double): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: (cols.map(c =>
      graft.functions.AggregateFunctions.bloomAgg(col(c), expected, fpp)
        .as(s"${c}__bloom")) :+
      lit(expected).as("__expected") :+ lit(fpp).as("__fpp"))
    lazy val emptyBloom = {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter.create(expected, fpp).writeTo(bos)
      bos.toByteArray
    }
    perFileRows(spark, files, aggs)(0L +: cols.map(_ => emptyBloom) :+ expected :+ fpp)
  }

  def writeBloomManifest(spark: SparkSession, path: String,
      cols: Seq[String], expectedPerFile: Long, fpp: Double = 0.01): Unit = {
    require(cols.nonEmpty, "bloom manifests need at least one column")
    // explicit live-file list, not the directory: a plain dir read
    // skips non-partition subdirs (e.g. the versioned store's b<N>/
    // batch dirs) and the manifest MUST cover exactly what
    // liveDataFiles sees — the staleness contract's identity
    val files = dataFiles(spark, path).toSeq.sorted
    require(files.nonEmpty, s"no data files to manifest at $path")
    CacheScope.withReleased {
      bloomRows(spark, files, cols, expectedPerFile, fpp)
        .write.mode("overwrite").parquet(s"$path/$BloomManifestDir")
    }
  }

  /** Incremental bloom-manifest maintenance — the append path, the
    * [[appendManifest]] twin: scans ONLY the data files the manifest
    * does not know yet, sketches them with the SAME sizing the
    * manifest was built with (carried in its `__expected`/`__fpp`
    * columns, so an append can never silently change the fpp), and
    * unions them in. Idempotent no-op when nothing is new.
    */
  def appendBloomManifest(spark: SparkSession, path: String): Unit = CacheScope.withReleased {
    val manPath = s"$path/$BloomManifestDir"
    healSwap(spark, manPath)
    val man = spark.read.parquet(manPath)
    val cols = man.columns.toSeq.collect {
      case c if c.endsWith("__bloom") => c.stripSuffix("__bloom")
    }
    val live = dataFiles(spark, path)
    // ONE collect serves the sizing params AND the file identity (was
    // a head() job plus a collect job per maintenance call). Ghost
    // rows (manifested file no longer committed — vacuumed or
    // orphan-cleaned) drop in the same rewrite: a deleted file's sketch
    // can only cause false "exists" answers. The ghost list is SMALL by
    // construction (the rewritten window), so the filter is a short
    // NOT-IN over original strings — never a UDF or a live-set-sized
    // expression tree.
    val idRows = man.select(col("file"), col("__expected"), col("__fpp"))
      .collect()
    require(idRows.nonEmpty, s"empty bloom manifest at $manPath")
    val (expected, fpp) = (idRows(0).getLong(1), idRows(0).getDouble(2))
    val (known, ghosts) = ghostSplit(idRows.map(_.getString(0)).toSeq, live)
    val kept = if (ghosts.isEmpty) man
      else man.filter(!col("file").isin(ghosts: _*))
    val fresh = (live -- known).toSeq.sorted
    if (fresh.isEmpty && ghosts.isEmpty) return
    val merged =
      if (fresh.isEmpty) kept
      else kept.unionByName(
        bloomRows(spark, fresh, cols, expected, fpp)
          .select(man.columns.map(col): _*))
    writeSwapped(spark, merged, manPath)
  }

  /** The files an `col IN (values)` point lookup must read, per the
    * bloom manifest: a file survives when ANY probed value might be
    * present. No false negatives ⇒ result-complete; fpp only costs
    * extra files. Stale manifests are a hard error (same contract as
    * [[prunedFiles]]). Driver-side cost: the file-count-sized manifest
    * with one ~KB sketch per file — metadata scale.
    */
  def bloomPrunedFiles(spark: SparkSession, path: String,
      column: String, values: Seq[String]): Seq[String] =
    bloomPrunedFilesIfFresh(spark, path, column, values).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: bloom manifest at $path/$BloomManifestDir " +
          "is stale — rebuild it with Layout.writeBloomManifest before " +
          "pruned point lookups"))

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
    val manPath = s"$path/$BloomManifestDir"
    val man = spark.read.parquet(readableManifest(spark, manPath).getOrElse(manPath))
      .select(col("file"), col(s"${column}__bloom")).collect()
    val norm = man.map(r =>
      new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    if (norm != dataFiles(spark, path)) return None
    Some(man.filter { r =>
      val bloom = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      values.exists(bloom.mightContainString)
    }.map(_.getString(0)).toSeq.sorted)
  }

  /** Bloom-pruned point lookup: read only the files whose sketches
    * admit any probed value, then re-apply the IN as a residual —
    * row-identical to the full scan by the no-false-negative
    * guarantee. Empty survivor list short-circuits.
    */
  def bloomPrunedRead(spark: SparkSession, path: String,
      column: String, values: Seq[String]): DataFrame = {
    val kept = bloomPrunedFiles(spark, path, column, values)
    val residual = col(column).cast("string").isin(values: _*)
    if (kept.isEmpty) emptyLike(spark, path)
    else spark.read.parquet(kept: _*).filter(residual)
  }

  /** Zero-row frame with the table's schema, derived from the COMMITTED
    * file list — a bare `spark.read.parquet(path)` cannot infer a
    * schema on a versioned table whose data lives only under `b<N>/`
    * subdirs (no top-level parquet files), so the empty-survivor branch
    * of a pruned read must go through the same file list the prune did.
    */
  private def emptyLike(spark: SparkSession, path: String): DataFrame =
    dataFiles(spark, path).toSeq.sorted.headOption match {
      case Some(f) => spark.read.parquet(f).filter(lit(false))
      case None => spark.read.parquet(path).filter(lit(false))
    }

  /** [[prunedFiles]] without the hard staleness error — the contract
    * the automatic prune rule ([[graft.plans.ZoneMapPruneRule]])
    * needs: when the manifest is absent, stale, or carries stats for
    * none of the requested columns, the right response is "don't
    * prune" (the full scan is always row-correct), never a thrown
    * error from inside the optimizer. Returns the surviving file list
    * plus the manifest's total file count; boxes without manifest
    * stats are ignored (pruning on a conjunct SUBSET is sound — every
    * matching row satisfies all conjuncts).
    */
  /** @param knownLive the committed live set when the CALLER already
    *   listed it (the auto-prune rule's versioned-root recognition does
    *   — one listing serves both the root identity and the staleness
    *   identity instead of two walks per pruned scan).
    */
  private[graft] def prunedFilesIfFresh(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)],
      knownLive: Option[Set[String]] = None): Option[(Seq[String], Long)] = {
    val man = readableManifest(spark, s"$path/$ManifestDir") match {
      case Some(p) => spark.read.parquet(p)
      case None => return None
    }
    val have = man.columns.toSet
    val usable = boxes.filter { case (c, _, _) =>
      have(s"${c}__min") && have(s"${c}__max")
    }
    if (usable.isEmpty) return None
    // one collect: staleness identity + driver-side box filter
    val cs = Seq("file") ++ usable.flatMap { case (c, _, _) =>
      Seq(s"${c}__min", s"${c}__max") }
    val rows = man.select(cs.map(col): _*).collect()
    val norm = rows
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath).toSet
    if (norm != knownLive.getOrElse(dataFiles(spark, path))) return None
    val kept = rows.filter { r =>
      usable.zipWithIndex.forall { case ((_, lo, hi), i) =>
        !r.isNullAt(2 * i + 1) && !r.isNullAt(2 * i + 2) &&
          r.getLong(2 * i + 2) >= lo && r.getLong(2 * i + 1) <= hi
      }
    }.map(_.getString(0)).toSeq.sorted
    Some((kept, rows.length.toLong))
  }

  /** Manifest-pruned scan: read ONLY the files whose zone maps
    * intersect every box, then re-apply the boxes as a residual so the
    * result equals the full-scan filter row-for-row. An empty survivor
    * list short-circuits to a zero-row frame with the table's schema.
    */
  def prunedRead(
      spark: SparkSession, path: String,
      boxes: Seq[(String, Long, Long)]): DataFrame = {
    require(boxes.nonEmpty, "a pruned read needs at least one box predicate")
    val kept = prunedFiles(spark, path, boxes)
    val residual = boxes.map { case (c, lo, hi) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    if (kept.isEmpty) emptyLike(spark, path)
    else spark.read.parquet(kept: _*).filter(residual)
  }
}
