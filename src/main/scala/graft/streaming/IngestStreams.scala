package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.core.{CacheScope, Layout, VersionLog}
import graft.core.CacheScope.persist

/** Exactly-once VERSIONED ingestion: each micro-batch lands as its own
  * `b<batchId>/` parquet directory inside a [[graft.core.VersionLog]]
  * table, so the standing corpus is append-only, replay-safe, and
  * time-travelable — the landing zone a 24/7 training pipeline feeds,
  * with "train on exactly version N" and
  * [[graft.core.VersionLog.readChanges]] incremental catch-up falling
  * out of the same commit log.
  *
  * Durability protocol ([[graft.core.VersionLog.markCommitted]]'s
  * marker discipline, applied to data files): write the batch dir
  * (mode overwrite — a replay of a half-written attempt rewrites it
  * cleanly), THEN the commit marker, THEN snapshot. Crash analysis,
  * in order:
  *  - mid-write: no marker → the replay overwrites the partial dir; no
  *    snapshot ever referenced its files (snapshots happen after the
  *    marker), so no version breaks;
  *  - after write, before marker: same — the rewrite mints new file
  *    names, but nothing recorded the old ones;
  *  - after marker, before snapshot: the replay no-ops; the batch's
  *    rows are live but unversioned until the NEXT snapshot (any later
  *    batch, or the caller's final [[VersionLog.snapshot]]) — snapshot
  *    LAG, never row loss or duplication. An evolving batch's widened
  *    schema is minted by its replay ([[ingestBatch]]).
  * Rows are never duplicated (the marker gates the only write) and
  * recorded versions are never invalidated (batch dirs are written at
  * most once after their marker exists — nothing deletes files a
  * snapshot listed).
  *
  * Batch dirs are plain names (`b7/`), not `batch=7/` partition
  * syntax: version reads go through explicit file lists, and a
  * partition column materializing out of the ingestion mechanism would
  * change the table's schema.
  */
object IngestStreams {

  /** Land one micro-batch exactly once (idempotent per batchId).
    *
    * Schema drift is a LOUD error, not a silent parquet mix: a batch
    * is checked (names + types, nullability-insensitive) against the
    * schema the table's latest version reads with
    * ([[VersionLog.schemaOf]], the table's one schema record); a batch
    * that disagrees — an upstream producer change, the classic
    * slow-poison of a standing ingest — fails with both schemas named
    * instead of writing files future readers can't reconcile.
    *
    * With `evolveSchema`, a replay of a COMMITTED batch that still
    * widens the latest version mints the missing `#schema=` stamp: a
    * crash between the marker and the snapshot would otherwise leave
    * the batch's extra columns unread by every later version.
    */
  def ingestBatch(batch: DataFrame, batchId: Long, tablePath: String,
      evolveSchema: Boolean = false): Unit = {
    val spark = batch.sparkSession
    if (VersionLog.isCommitted(spark, tablePath, batchId)) {
      if (evolveSchema)
        checkSchema(batch, tablePath, evolve = true)._2.foreach(j =>
          VersionLog.snapshot(spark, tablePath, Some(j)))
      return
    }
    val (aligned, schemaJson) = checkSchema(batch, tablePath, evolveSchema)
    aligned.write.mode("overwrite").parquet(s"$tablePath/b$batchId")
    VersionLog.markCommitted(spark, tablePath, batchId)
    VersionLog.snapshot(spark, tablePath, schemaJson)
  }

  private def canonical(schema: org.apache.spark.sql.types.StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString(",")

  /** Validate — and, when `evolve` is set, ADDITIVELY EVOLVE — the
    * batch against the table's schema ([[VersionLog.schemaOf]]; a table
    * with no committed file accepts any batch). Writes nothing. Returns
    * (alignedBatch, newSchemaJson): the aligned batch carries the
    * table's/evolved column order with missing NULLABLE columns
    * NULL-filled (a lagging producer that has not learned a new column
    * yet keeps landing); newSchemaJson is set exactly when the schema
    * WIDENS (extra columns in the batch) — the caller stamps it into
    * the snapshot it mints, so rows in files written before the
    * evolution read back as NULL (the reference's insert policy: extras
    * widen, missing NULL-fill — clients/custom_clickhouse.py:130-150 —
    * but opt-in here, and dropped/retyped columns always refuse).
    */
  private def checkSchema(batch: DataFrame, tablePath: String,
      evolve: Boolean): (DataFrame, Option[String]) = {
    import org.apache.spark.sql.functions.{col, lit}
    val table = VersionLog.schemaOf(batch.sparkSession, tablePath) match {
      case Some(st) => st
      case None => return (batch, None)
    }
    if (canonical(batch.schema) == canonical(table)) return (batch, None)
    require(evolve,
      s"schema drift on ingest into $tablePath — pinned " +
        s"[${canonical(table)}] vs batch [${canonical(batch.schema)}]; " +
        "pass evolveSchema=true for additive widening, or migrate the " +
        "table explicitly instead of mixing file schemas")
    // a missing NULLABLE column NULL-fills; any other drop refuses
    val (evolved, extras) = VersionLog.evolveAdditively(table, batch.schema,
      s"batch ingested into $tablePath", nullFills = _.nullable)
    val batchCols = batch.columns.toSet
    val aligned = batch.select(evolved.fields.toSeq.map { f =>
      if (batchCols(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    (aligned, if (extras.isEmpty) None else Some(evolved.json))
  }

  /** Landing + standing rollup in one exactly-once step: each
    * micro-batch lands versioned, then [[graft.core.Mv.refresh]] folds
    * the new version's delta into the MV — the 24/7 "table AND its
    * aggregate are both always current" loop, each leg idempotent on
    * its own marker (a replay after any crash point re-lands nothing
    * and re-folds nothing; a batch that died between the two legs is
    * healed because refresh keys on SOURCE VERSION, not batch id).
    */
  def ingestBatchWithMv(batch: DataFrame, batchId: Long, tablePath: String,
      mvDir: String, keys: Seq[String], sumCols: Seq[String]): Unit = {
    ingestBatch(batch, batchId, tablePath)
    graft.core.Mv.refresh(batch.sparkSession, tablePath, mvDir, keys, sumCols)
    ()
  }

  /** IDEMPOTENT-BY-KEY landing: rows whose `keyCol` already exists in
    * the standing table are dropped BEFORE the batch lands — the
    * at-least-once upstream (a re-delivered Kafka window, an
    * overlapping backfill) becomes exactly-once BY KEY in the table,
    * on top of [[ingestBatch]]'s exactly-once-by-batch markers.
    *
    * The existence probe never rescans the table: a per-file bloom
    * manifest ([[graft.core.Layout]]) is maintained INCREMENTALLY
    * (each batch sketches only its own new files), candidate keys
    * probe the blooms driver-side (no false negatives — a missed
    * duplicate is impossible), and only the files the blooms admit are
    * read for the exact anti-join. Cost per batch: batch-sized work +
    * the admitted-file reads, never O(table).
    *
    * Returns (landed, dropped). Batch-internal duplicate keys are a
    * loud error (ambiguous — which payload should land?); the manifest
    * is healed on entry (append is idempotent), so a crash after
    * landing but before the manifest append cannot wedge the stream.
    */
  def ingestBatchDedup(batch: DataFrame, batchId: Long, tablePath: String,
      keyCol: String, expectedPerFile: Long = 1 << 20,
      fpp: Double = 0.01): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    if (VersionLog.isCommitted(spark, tablePath, batchId)) return (0L, 0L)
    val fs = new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // clear THIS batch's uncommitted partial landing before anything
    // reads the directory: a crashed attempt's b-dir would otherwise
    // be healed into the bloom manifest and make the replay drop rows
    // that never actually landed (a batch loop replays in order, so
    // the only possible INGEST orphan is this batch's own; compact/DML
    // orphans are excluded by Layout.dataFiles' committed view)
    fs.delete(new Path(s"$tablePath/b$batchId"), true)
    // ONE validation pass for EVERYTHING the probe needs: row count,
    // null keys, duplicate keys, AND the candidate key set itself —
    // the keys were previously a second batch-sized job
    // (distinct().collect()); collect_set in the same aggregate folds
    // it into this one (it drops NULLs, so null keys surface as
    // n != nk, never as a silent shrink)
    val stats = batch.agg(count(lit(1)).as("n"),
      count(col(keyCol)).as("nk"),
      collect_set(col(keyCol).cast("string")).as("keys")).head()
    val batchRows = stats.getLong(0)
    if (batchRows == 0L) { // an upstream poll can deliver no rows
      VersionLog.markCommitted(spark, tablePath, batchId)
      return (0L, 0L)
    }
    val candidateKeys = stats.getSeq[String](2)
    require(stats.getLong(0) == stats.getLong(1),
      s"batch $batchId carries NULL keys — they can never be deduplicated " +
        "(NULL = NULL never matches); clean or synthesize keys upstream")
    require(stats.getLong(1) == candidateKeys.size,
      s"batch $batchId carries duplicate keys — ambiguous landing")
    // a table with COMMITTED data (versions, or marker-committed b-dirs
    // from a crash before the first snapshot) but no manifest gets one
    // full-scan manifest build — skipping the probe would silently
    // duplicate keys
    val hasData = Layout.dataFiles(spark, tablePath).nonEmpty
    val preManifested =
      fs.exists(new Path(s"$tablePath/${Layout.BloomManifestDir}"))
    if (hasData && !preManifested)
      Layout.writeBloomManifest(spark, tablePath, Seq(keyCol), expectedPerFile, fpp)
    val manifested = hasData || preManifested
    val fresh =
      if (!manifested) batch
      else {
        // probe FIRST, heal only when the probe reports staleness: the
        // freshness test IS the probe's own manifest collect + live
        // listing, and in the normal loop (the previous batch's
        // post-landing append ran) the manifest is already fresh — the
        // old unconditional pre-probe appendBloomManifest paid one
        // no-op manifest read + listing per batch to discover that
        val hit = Layout.bloomPrunedFilesIfFresh(
          spark, tablePath, keyCol, candidateKeys).getOrElse {
            Layout.appendBloomManifest(spark, tablePath) // heal append lag
            Layout.bloomPrunedFiles(spark, tablePath, keyCol, candidateKeys)
          }
        if (hit.isEmpty) batch
        else batch.join(
          spark.read.parquet(hit: _*).select(col(keyCol)),
          Seq(keyCol), "left_anti")
      }
    val landed = CacheScope.withReleased {
      // cache across the count + write: the anti-join reads every
      // bloom-admitted file — computing it twice doubles the probe cost
      persist(fresh)
      val n = fresh.count()
      if (n > 0) {
        // refuse drift BEFORE writing (the dedup path stays
        // evolution-free: its bloom probes are keyed on one column
        // and the batch must match the table exactly)
        checkSchema(batch, tablePath, evolve = false)
        // right-size the landing from the known survivor count: the
        // batch dir otherwise carries one part file per upstream
        // partition, and every file costs a bloom-manifest row + a
        // probe candidate forever after (guide §6)
        fresh.coalesce(VersionLog.filesFor(n))
          .write.mode("overwrite").parquet(s"$tablePath/b$batchId")
      }
      n
    }
    VersionLog.markCommitted(spark, tablePath, batchId)
    if (landed > 0) {
      VersionLog.snapshot(spark, tablePath)
      if (manifested) Layout.appendBloomManifest(spark, tablePath)
      else Layout.writeBloomManifest(
        spark, tablePath, Seq(keyCol), expectedPerFile, fpp)
    }
    (landed, batchRows - landed)
  }
}
