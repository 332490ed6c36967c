package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A DAG task: returns the frame to consume and check. */
final case class Task(name: String, run: (SparkSession, String) => DataFrame)

final case class TaskOutcome(phase: String, name: String, callS: Double,
    actionS: Double, fingerprint: Option[Fingerprint], error: Option[String]) {
  def ok: Boolean = error.isEmpty
  def wallS: Double = callS + actionS
}

final case class PhaseOutcome(name: String, wallS: Double,
    counts: Option[EngineCounts], tasks: Seq[TaskOutcome]) {
  def callS: Double = tasks.map(_.callS).sum
}

final case class PassOutcome(wallS: Double, phases: Seq[PhaseOutcome],
    memoPopulateS: Double, memosPopulated: Int) {
  def tasks: Seq[TaskOutcome] = phases.flatMap(_.tasks)
  def failed: Seq[TaskOutcome] = tasks.filterNot(_.ok)
  /** Pass wall time without the time of failed tasks: a task that threw
    * or answered wrongly never makes a pass look fast. */
  def timedS: Double = wallS - failed.map(_.wallS).sum
}

object Dag {
  def etlPhases: Seq[(String, Seq[String])] = graft.Pipeline.phases

  def curationPhases: Seq[(String, Seq[String])] = graft.Pipeline.curationPhases

  /** Every registered query as a checked task. */
  def engineTasks: Map[String, Task] =
    graft.SparkEntry.queries.map { case (name, f) => name -> Task(name, f) }

  /** The tasks `wanted` names, phase by phase, in the DAG's phase order.
    * Every named phase and task must belong to `dag`, so a slice never
    * runs work the DAG does not. */
  def slice(dag: Seq[(String, Seq[String])], wanted: Seq[(String, Seq[String])])
      : Seq[(String, Seq[String])] = {
    val want = wanted.toMap
    want.foreach { case (p, ts) =>
      val inDag = dag.find(_._1 == p).map(_._2).getOrElse(
        throw new IllegalArgumentException(s"phase $p is not in the DAG"))
      ts.filterNot(inDag.contains).foreach(t =>
        throw new IllegalArgumentException(s"task $t is not in phase $p"))
    }
    dag.collect { case (p, _) if want.contains(p) => p -> want(p) }
  }

  /** Task order within each phase, permuted by `rng`; phase order is the
    * DAG's dependency order and never changes. */
  def permute(phases: Seq[(String, Seq[String])], rng: scala.util.Random)
      : Seq[(String, Seq[String])] =
    phases.map { case (p, names) => p -> rng.shuffle(names) }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Runs DAG passes. `check` compares a task's fingerprint with its
  * golden and returns the mismatch, if any. `engine` is set only on
  * traced runs: it reads Spark counters at every phase boundary. */
final class DagRunner(spark: SparkSession, dataDir: String,
    tasks: Map[String, Task], check: (String, Fingerprint) => Option[String],
    tracer: Tracer, engine: Option[EngineListener]) {

  private def now: Double = System.nanoTime() / 1e9

  private def counts(): Option[EngineCounts] = engine.map { l =>
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    l.snapshot
  }

  def runTask(phase: String, name: String): TaskOutcome =
    tracer.span("task", name) {
      val t0 = now
      var t1 = t0
      try {
        val task = tasks.getOrElse(name,
          throw new NoSuchElementException(s"no task named $name"))
        val df = tracer.span("call", name)(task.run(spark, dataDir))
        t1 = now
        val fp = tracer.span("action", name)(Checksum.of(df))
        val t2 = now
        TaskOutcome(phase, name, t1 - t0, t2 - t1, Some(fp),
          check(name, fp).map("wrong output: " + _))
      } catch {
        case NonFatal(e) =>
          val t2 = now
          if (t1 == t0) t1 = t2
          TaskOutcome(phase, name, t1 - t0, t2 - t1, None, Some(Dag.errorText(e)))
      }
    }

  /** One whole pass with memos and the Spark cache cleared first. */
  def pass(label: String, phases: Seq[(String, Seq[String])]): PassOutcome = {
    graft.Memos.clearAll()
    spark.catalog.clearCache()
    tracer.span("pass", label) {
      val t0 = now
      val done = phases.map { case (phase, names) =>
        tracer.span("phase", phase) {
          val c0 = counts()
          val p0 = now
          val outs = names.map(runTask(phase, _))
          val wall = now - p0
          PhaseOutcome(phase, wall, c0.flatMap(a => counts().map(_ - a)), outs)
        }
      }
      val wall = now - t0
      val memo = graft.Memos.populateSeconds
      PassOutcome(wall, done, memo.values.sum, memo.size)
    }
  }
}
