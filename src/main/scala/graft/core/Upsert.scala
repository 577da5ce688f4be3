package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** ReplacingMergeTree/FINAL semantics (reference: ClickHouse
  * `ReplacingMergeTree() ORDER BY (id)` tables read with `FINAL`,
  * /root/reference/operations/indices.py:34-36 and
  * clients/custom_clickhouse.py:34-35).
  *
  * Spark model: tables are append logs; `latestById` is the dedup view
  * that keeps exactly one row per key, choosing the row with the
  * greatest version columns. At scale this is one hash shuffle on the
  * key; when the key is also the storage partitioning/bucketing key the
  * shuffle is avoided entirely.
  */
object Upsert {

  /** Keep the latest row per key set, "latest" = max by `version`
    * columns (compared in order). Deterministic, unlike
    * `dropDuplicates`, which keeps an arbitrary row.
    *
    * Single-pass `max(struct(version..., row))` aggregate: partial
    * (map-side) combine means one candidate row per key per partition
    * crosses the shuffle and nothing is sorted — the FINAL dedup view
    * stays cheap however long the append log grows.
    */
  def latestById(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame =
    graft.core.Joins.lastByKey(df, keys, version)

  /** Compaction: rewrite an append-log table to one row per key so the
    * dedup window on subsequent reads is cheap. At 100 TB this runs as a
    * periodic job, partitioned by the storage layout key.
    */
  def compact(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame =
    latestById(df, keys, version)
}
