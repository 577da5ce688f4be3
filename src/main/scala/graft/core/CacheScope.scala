package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** The one owner of every operator-managed cache. Operators never call
  * `persist()` themselves; three cases cover every cache.
  *
  * '''Three entry points.''' [[persist]] persists a Dataset;
  * [[persistRdd]] persists an RDD, such as the co-partitioned state of
  * an RDD-iterated operator; [[persistRows]] persists a frame's copied
  * INTERNAL rows as a raw RDD, for an operator that reads one input in
  * several jobs: the graph operators' edge list (counted, then grouped),
  * and the lineage cut of a multi-action operator — a Dataset persist
  * caches data but not the plan, so every later action re-analyzes the
  * whole upstream tree, while a frame rebuilt over the RDD
  * (`GraftBridge.internalCreateDataFrame`) plans as a flat scan.
  * Internal rows, not `df.rdd`, skip the external `Row` decode and
  * re-encode. Each registers its release with the innermost open
  * bracket; with none open they register nothing.
  *
  * '''What is worth a cache.''' Persist only what two or more actions
  * read, or a source that must not run twice (a remote fetch, an
  * appended batch). A cache whose every read sits in one physical plan
  * saves nothing, since exchange reuse already shares a subtree the
  * plan reads twice, and under AQE each scan of the cached relation
  * runs as one more job. Each persist call's comment names its second
  * action, or the measurement that kept it.
  *
  * '''Brackets, for operator-internal caches.''' [[withReleased]]
  * unpersists every cache registered while it is open when it closes,
  * normally or by exception, and touches nothing made outside it.
  * Operators bracket the caches they consume themselves; callers
  * bracket operators whose results stay persisted for consumption
  * (dedup survivor maps, component labelings, the curation survivor
  * corpus, the mutual-kNN pair and rank tables, the graph operators'
  * edge lists and rank generations):
  *
  * {{{
  * val report = CacheScope.withReleased {
  *   val labels = Dedup.connectedComponents(pairs)
  *   labels.groupBy("component_id").count().collect()   // consume INSIDE
  * }
  * // storage empty again: spark.sparkContext.getPersistentRDDs is empty
  * }}}
  *
  * A Dataset escaping the bracket unmaterialized recomputes from scratch
  * on first use (correct, just slow). Brackets nest: an inner bracket
  * releases only its own registrations. Registration is per-thread
  * (operators build plans on the calling thread). Operators may also
  * release a stale generation eagerly; unpersisting twice is a no-op.
  *
  * '''[[releaseAll]], for harnesses.''' A caller that owns the whole
  * session (a bench measurement, a test suite) empties its storage in
  * one call, including what was persisted with no bracket open — raw
  * RDDs that `clearCache()` cannot reach — and deletes every directory
  * [[stage]] handed out.
  *
  * Caveat: Spark's CacheManager dedups Dataset caches by PLAN, so two
  * brackets caching plan-identical intermediates share one storage
  * entry, and the first bracket to close releases it for both (the
  * survivor is still correct — it just recomputes).
  */
object CacheScope {
  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[java.util.ArrayList[() => Unit]]] {
      override def initialValue() = new java.util.ArrayDeque()
    }

  private def register(release: () => Unit): Unit = {
    val st = scopes.get()
    if (!st.isEmpty) st.peek().add(release)
  }

  /** Persist `ds` (default storage level) and register its release.
    * Returns `ds`.
    */
  def persist[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    register(() => ds.unpersist(blocking = false))
    ds
  }

  /** Persist `rdd` (default storage level) and register its release.
    * Returns `rdd`; lazy like any persist.
    */
  def persistRdd[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist()
    register(() => { rdd.unpersist(blocking = false); () })
    rdd
  }

  /** Persist the copied internal rows of `df` (the scan reuses row
    * buffers) and register their release. Lazy: nothing runs until the
    * first action on the returned RDD.
    */
  def persistRows(df: DataFrame): RDD[InternalRow] =
    persistRdd(df.queryExecution.toRdd.map(_.copy()))

  /** Run `body`; on exit (normal or exceptional) unpersist every
    * operator-managed cache registered inside it.
    */
  def withReleased[A](body: => A): A = {
    val st = scopes.get()
    val mine = new java.util.ArrayList[() => Unit]()
    st.push(mine)
    try body
    finally {
      st.pop()
      mine.forEach(release => release())
      if (st.isEmpty) scopes.remove()
    }
  }

  private val stagedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A fresh directory under the system temp dir for a table a query
    * stages for itself (a z-ordered copy, a versioned store, an index);
    * [[releaseAll]] deletes it. Only the path string is held, so a
    * caller that never releases keeps nothing but the strings.
    */
  def stage(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    stagedDirs.add(dir)
    dir
  }

  /** How many [[stage]]d directories are still on disk. */
  def stagedLeft: Int =
    stagedDirs.stream.filter(d => new java.io.File(d).exists).count.toInt

  /** Empty the session's storage: every Dataset cache, then every
    * persisted RDD, including the raw ones `clearCache()` cannot see,
    * then every [[stage]]d directory. Blocking, so the next measurement
    * starts with the blocks and the staged files gone.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    stagedDirs.forEach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      stagedDirs.remove(d)
    }
  }
}
