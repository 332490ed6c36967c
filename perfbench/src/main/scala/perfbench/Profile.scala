package perfbench

import java.nio.file.Files

/** A per-task profile of a whole DAG (`run.py --profile`). After one cold
  * pass, every task is timed and its Spark work counted twice, warm:
  *  - `dag`: one pass in DAG order with memos and the Spark cache cleared
  *    first, as the program runs it; a task may reuse memos an earlier
  *    task populated;
  *  - `alone`: each task with memos and the cache cleared just before it,
  *    so it populates every memo it reads, as it does as the first user
  *    of a memo in a slice.
  * `run.py` picks the DAG slices in [[Settings]] from it: the whole DAG's
  * figures come from the `dag` rows, a slice's from the `alone` rows. */
object Profile {
  final case class Row(context: String, phase: String, task: String, coldS: Double,
      warmS: Double, callS: Double, c: EngineCounts, memos: Seq[String],
      error: Option[String])

  def run(o: Opts, dag: Seq[(String, Seq[String])], layout: Boolean): RunResult = {
    val (spark, _) = Main.setUp(o)
    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    def counts(): EngineCounts = {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      engine.snapshot
    }
    def clear(): Unit = {
      graft.Memos.clearAll()
      spark.catalog.clearCache()
    }
    val runner = new DagRunner(spark, o.data, Dag.engineTasks, (_, _) => None,
      new Tracer(false), None)
    val cold = runner.pass("cold", dag).tasks.map(t => t.name -> t.wallS).toMap

    def timed(context: String, phase: String, name: String)(f: => TaskOutcome): Row = {
      val (c0, m0) = (counts(), graft.Memos.populateSeconds.keySet)
      val t = f
      Row(context, phase, name, cold.getOrElse(name, 0.0), t.wallS, t.callS, counts() - c0,
        (graft.Memos.populateSeconds.keySet -- m0).toSeq.sorted, t.error)
    }
    clear()
    val inDag = dag.flatMap { case (phase, names) =>
      names.map(n => timed("dag", phase, n)(runner.runTask(phase, n)))
    }
    val alone = dag.flatMap { case (phase, names) =>
      names.map { n => clear(); timed("alone", phase, n)(runner.runTask(phase, n)) }
    }
    val layoutRow = if (!layout) Nil else Seq(timed("dag", "layout_maintenance", "layoutPhase") {
      val t0 = System.nanoTime()
      val err = try { graft.Pipeline.layoutPhase(spark, o.data); None }
        catch { case scala.util.control.NonFatal(e) => Some(Dag.errorText(e)) }
      TaskOutcome("layout_maintenance", "layoutPhase", (System.nanoTime() - t0) / 1e9,
        0.0, None, err)
    })
    spark.stop()

    def line(cells: Seq[Any]) = cells.mkString("\t")
    def fmt(x: Double) = f"$x%.3f"
    val header = line(Seq("context", "phase", "task", "cold_s", "warm_s", "call_s",
      "jobs", "tasks", "task_s", "shuffle_write_bytes", "shuffle_read_bytes", "scan_bytes",
      "write_bytes", "memos_populated", "error"))
    val rows = inDag ++ layoutRow ++ alone
    val body = rows.map { r =>
      line(Seq(r.context, r.phase, r.task, fmt(r.coldS), fmt(r.warmS), fmt(r.callS),
        r.c.jobs, r.c.tasks, fmt(r.c.taskMs / 1e3), r.c.shuffleWrite, r.c.shuffleRead,
        r.c.scanBytes, r.c.writeBytes, if (r.memos.isEmpty) "-" else r.memos.mkString(","),
        r.error.getOrElse("-")))
    }
    val file = o.bench.resolve(s"profiles/${o.workload.stripPrefix("profile_")}.tsv")
    Files.createDirectories(file.getParent)
    Files.writeString(file, (header +: body).mkString("", "\n", "\n"))
    val failed = rows.filter(_.error.isDefined)
    RunResult(rows.size, failed.size, failed.map(r => s"${r.task}: ${r.error.get}"), Nil,
      Map.empty, Map("profile" -> file.toString))
  }
}
