package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Golden fingerprints, one task a line: `name rows checksum`. */
object Goldens {
  def read(p: Path): Map[String, Fingerprint] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, sum) = l.split("\\s+")
        name -> Fingerprint(rows.toLong, sum.toLong)
      }.toMap

  def write(p: Path, fps: Seq[(String, Fingerprint)]): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, fps.sortBy(_._1)
      .map { case (n, f) => s"$n ${f.rows} ${f.checksum}" }
      .mkString("# task rows checksum (perfbench/run.py --write-goldens)\n", "\n", "\n"))
  }

  def checker(goldens: Map[String, Fingerprint]): (String, Fingerprint) => Option[String] =
    (name, fp) => goldens.get(name) match {
      case None => Some("no golden")
      case Some(g) if g == fp => None
      case Some(g) => Some(s"rows ${fp.rows} checksum ${fp.checksum}, " +
        s"golden rows ${g.rows} checksum ${g.checksum}")
    }
}

/** The `etl_dag` and `curation_dag` workloads: one cold pass, then warm
  * passes until the run's seconds are spent. */
object DagWorkload {
  /** Phases of both slices, for the per-layer names. */
  val allPhases: Seq[String] =
    (Settings.etlSlice ++ Settings.curationSlice).map(_._1)

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  final case class Accounting(attempted: Int, failed: Int, names: Seq[String])

  /** Every task run is an attempt; a failure is listed once by name. */
  def accounting(passes: Seq[PassOutcome]): Accounting = Accounting(
    passes.map(_.tasks.size).sum, passes.map(_.failed.size).sum,
    passes.flatMap(_.failed).map(t => s"${t.name}: ${t.error.get}").distinct)

  def run(o: Opts, phases: Seq[(String, Seq[String])]): RunResult = {
    val check: (String, Fingerprint) => Option[String] =
      if (o.writeGoldens) (_, _) => None
      else Goldens.checker(Goldens.read(o.goldens))
    val (spark, setupS) = Main.setUp(o)
    val tracer = new Tracer(o.trace, o.workload)
    val engine = new EngineListener
    val actions = new ActionListener
    if (o.trace) {
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(actions)
    }
    def actionsNow() = {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      actions.snapshot
    }
    val runner = new DagRunner(spark, o.data, Dag.engineTasks, check, tracer,
      if (o.trace) Some(engine) else None)
    val untracedRunner = new DagRunner(spark, o.data, Dag.engineTasks, check,
      new Tracer(false), None)
    val rng = new scala.util.Random(o.seed)
    val heap = mutable.ArrayBuffer[Double]()

    val jit0 = Jvm.jitS
    val first = runner.pass("pass-1", Dag.permute(phases, rng))
    val firstJit = Jvm.jitS - jit0
    heap += Jvm.liveHeapMb()

    // Warm passes: at least two, more while another fits the window; the
    // JVM's second pass is still warming up. A traced run alternates
    // traced and untraced passes, at least three (traced, untraced,
    // traced), so that the difference of their medians is the tracing
    // overhead with the passes' warm-up trend cancelled.
    val warm = mutable.ArrayBuffer[PassOutcome]()
    val untraced = mutable.ArrayBuffer[PassOutcome]()
    val tracedGc = mutable.ArrayBuffer[Double]()
    val tracedActions = mutable.ArrayBuffer[(Long, Double)]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // Another pass starts only if one more like the last fits the window.
    def fits = elapsed + (warm ++ untraced).lastOption.map(_.wallS).getOrElse(0.0) <= o.seconds
    while (warm.size + untraced.size < (if (o.trace) 3 else 2) || fits) {
      val label = s"pass-${warm.size + untraced.size + 2}"
      val order = Dag.permute(phases, rng)
      if (o.trace && untraced.size < warm.size) {
        spark.sparkContext.removeSparkListener(engine)
        spark.listenerManager.unregister(actions)
        untraced += untracedRunner.pass(label, order)
        spark.sparkContext.addSparkListener(engine)
        spark.listenerManager.register(actions)
      } else {
        val gc0 = Jvm.gcS
        val a0 = if (o.trace) actionsNow() else (0L, 0.0)
        warm += runner.pass(label, order)
        tracedGc += Jvm.gcS - gc0
        val a1 = if (o.trace) actionsNow() else (0L, 0.0)
        tracedActions += ((a1._1 - a0._1, a1._2 - a0._2))
      }
      heap += Jvm.liveHeapMb()
    }

    if (o.writeGoldens) {
      val all = (first +: (warm ++ untraced)).flatMap(_.tasks)
      val err = all.filterNot(_.ok)
      require(err.isEmpty, s"cannot write goldens, tasks failed: ${err.map(t => t.name + ": " + t.error.get)}")
      val byName = all.filter(_.fingerprint.isDefined).groupBy(_.name)
      val unstable = byName.filter(_._2.map(_.fingerprint).distinct.size > 1).keys
      require(unstable.isEmpty, s"fingerprints differ between passes: ${unstable.mkString(", ")}")
      Goldens.write(o.goldens, byName.toSeq.map { case (n, ts) => n -> ts.head.fingerprint.get })
    }

    val passes = first +: (warm ++ untraced).toSeq
    val acc = accounting(passes)
    val measured = if (o.trace) untraced.toSeq else warm.toSeq
    // Latency of a phase's results: from the start of the pass to the end
    // of the phase, median over the measured passes; percentiles run over
    // the phases, so p99 is the whole pass.
    val phaseDoneMs = phases.indices.map { i =>
      Stats.median(measured.map(_.phases.take(i + 1).map(_.wallS).sum * 1000))
    }
    val endToEnd = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> first.timedS,
      "pass_s" -> Stats.median(measured.map(_.timedS)),
      "latency_p50_ms" -> Stats.percentile(phaseDoneMs, 50),
      "latency_p99_ms" -> Stats.percentile(phaseDoneMs, 99),
      "failed_share" -> acc.failed.toDouble / acc.attempted,
      "live_heap_mb" -> heap.max)

    val layer =
      if (!o.trace) Map.empty[String, Double]
      else {
        // The traced warm pass with the median wall time stands for all.
        val rep = warm.sortBy(_.timedS).apply((warm.size - 1) / 2)
        val gcS = tracedGc(warm.indexOf(rep))
        val (sqlN, sqlS) = tracedActions(warm.indexOf(rep))
        val total = rep.phases.flatMap(_.counts).foldLeft(EngineCounts())(_ + _)
        val phaseMetrics = allPhases.flatMap { p =>
          val ph = rep.phases.find(_.name == p)
          val c = ph.flatMap(_.counts).getOrElse(EngineCounts())
          Seq(s"Pipeline.$p.s" -> ph.map(_.wallS).getOrElse(0.0),
            s"Pipeline.$p.call_s" -> ph.map(_.callS).getOrElse(0.0),
            s"Pipeline.$p.jobs" -> c.jobs.toDouble,
            s"Pipeline.$p.tasks" -> c.tasks.toDouble)
        }
        phaseMetrics.toMap ++ Layers.engine(total, rep.wallS, Settings.cpus, gcS) ++
          Layers.jvm(firstJit) ++ Map(
            "Memos.populate_s" -> rep.memoPopulateS,
            "Memos.populated" -> rep.memosPopulated.toDouble,
            "Memos.populate_share" -> rep.memoPopulateS / rep.wallS,
            "spark.sql_executions" -> sqlN.toDouble,
            "spark.sql_execution_s" -> sqlS,
            "trace.overhead_s" ->
              (Stats.median(warm.map(_.timedS).toSeq) - Stats.median(untraced.map(_.timedS).toSeq)))
      }
    if (o.trace) tracer.write(o.work.resolve("spans.jsonl"))
    spark.stop()
    RunResult(acc.attempted, acc.failed, acc.names, Nil, endToEnd ++ layer, Map(
      "passes_s" -> passes.map(_.timedS),
      "tasks_per_pass" -> first.tasks.size,
      "latency_samples" -> phaseDoneMs.size,
      "memos_populated" -> first.memosPopulated,
      "first_pass_jit_s" -> firstJit,
      "last_pass_task_call_action_s" -> scala.collection.immutable.ListMap(
        passes.last.tasks.map(t => t.name -> Seq(t.callS, t.actionS)): _*)))
  }
}

/** Per-layer metric names shared by the workloads. */
object Layers {
  def engine(c: EngineCounts, wallS: Double, cores: Int, gcS: Double): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.toDouble,
    "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble,
    "spark.task_s" -> c.taskMs / 1e3,
    "spark.core_busy_share" -> c.taskMs / 1e3 / (wallS * cores),
    "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
    "spark.task_skew" -> (if (c.skews.isEmpty) 0.0 else Stats.median(c.skews)),
    "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
    "spark.spill_bytes" -> c.spill.toDouble,
    "spark.gc_s" -> gcS,
    "Tables.scan_bytes" -> c.scanBytes.toDouble,
    "Tables.scan_rows" -> c.scanRows.toDouble,
    "Tables.write_bytes" -> c.writeBytes.toDouble)

  def jvm(firstPassJitS: Double): Map[String, Double] = Map(
    "jvm.jit_s" -> firstPassJitS,
    "jvm.code_cache_mb" -> Jvm.codeCacheMb,
    "jvm.classes_k" -> Jvm.classesK)
}
