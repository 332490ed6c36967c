package perfbench

/** Every fixed setting of the benchmark, in one place. `config.json`
  * records them with their sources and the measurements they rest on. */
object Settings {
  /** Spark task threads: two, or fewer on a smaller machine. At
    * `local[4]` on a 4-core machine the JIT and GC threads compete with
    * the task threads and the run-to-run spread grows several-fold. */
  val cpus: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** The session `graft.Pipeline.main` builds, with its `cpus` set to
    * [[cpus]]. The program has no session factory yet; when it gets one,
    * the benchmark calls it instead. */
  def sessionConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  /** Input tables, relative to the benchmark's directory. */
  val dagData = "data/sf0.01"
  val streamData = "data/sf0.1"

  /** The DAG slices, as `run.py --profile` picked them from a whole-DAG
    * profile (`profiles/<workload>.tsv`): one task from each of the four
    * phases with the most warm time in the whole DAG, the combination
    * whose time inside the `SparkEntry.queries` calls, Spark jobs, busy
    * task time, shuffle and scan bytes, each per warm second, come closest
    * to the whole DAG's within 3.5 s of warm time. */
  val etlSlice: Seq[(String, Seq[String])] = Seq(
    "batch_etl" -> Seq("customer_segments"),
    "quality_validation" -> Seq("column_profile"),
    "governance_audit" -> Seq("props_variant_stats"),
    "adhoc_analytics" -> Seq("discounted_revenue_q19"))

  val curationSlice: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("normalized_dedup"),
    "semantic_curation" -> Seq("cluster_separation"),
    "assembly" -> Seq("tfidf_topk"),
    "curation_advisors" -> Seq("shingle_df_profile"))

  /** `cdc_stream`. */
  object Stream {
    /** Each event arrives up to this many seconds of event time late,
      * inside the queries' 2-minute watermark, so none is dropped. */
    val disorderS = 60.0
    /** Events staged before the cold start. */
    val backlogEvents = 2500
    /** Events staged while the queries are stopped after the live tail,
      * drained as one micro-batch on restart. */
    val restartBacklogEvents = 10000
    /** Micro-batch size of the cold catch-up; the seed sets the size of
      * the first batch, between half and all of this, so the backlog
      * drains in two micro-batches. */
    val batchEvents = 2500
    /** Open-loop rate of the live tail: a quarter of the restart
      * catch-up rate measured at `local[2]` (about 2 000 events/s). */
    val liveRateEps = 500.0
    /** The generator releases one chunk per tick: 2 or 3 events at
      * 500 events/s, so the live tail has one latency sample per tick. */
    val tickMs = 5L
    /** A run whose generator released a chunk later than this after its
      * due time is invalid. */
    val maxLateMs = 500.0
    /** A run whose restart catch-up rate is under this many times the
      * live rate is invalid: its consumers could not keep the live
      * backlog from growing. */
    val minHeadroom = 2.0
  }
}
