package layerbench

/** The benchmark's workloads: fixed lists of declared `SparkEntry.queries`
  * ops. One is driver-bound and one executor-bound, so a change to one
  * side has a workload where it must show and one where it must not. The
  * lists are short because every run, warm-up included, must fit a fixed
  * time budget; README.md gives the per-op costs.
  */
object Workloads {

  /** The table-lifecycle plane: version-log change reads, exactly-once
    * versioned ingest through IngestStreams, and an ORC write read back.
    * Writes sit beside reads and driver/metadata work dominates.
    */
  val lifecycle: Seq[String] = Seq(
    "q230_version_changes", "q231_versioned_ingest", "q233_orc_roundtrip")

  /** The near-duplicate PageRank graph rounds over the documents: time is
    * executor work and shuffle across many small jobs, and the op carries
    * the known persisted-RDD leak.
    */
  val computeDense: Seq[String] = Seq("q141_neardup_pagerank")

  val all: Map[String, Seq[String]] = Map(
    "lifecycle" -> lifecycle,
    "compute_dense" -> computeDense)
}
