package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Command-line options, as passed by `run.py`. `bench` is the
  * benchmark's directory, which holds the inputs and the goldens. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, bench: Path, work: Path, out: Path, writeGoldens: Boolean) {
  def data: String = bench.resolve(
    if (workload == "cdc_stream") Settings.streamData else Settings.dagData).toString
  def goldens: Path = bench.resolve(s"goldens/$workload.tsv")
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def one(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(one("workload"), one("seed").toLong, one("seconds").toDouble,
      one("trace") == "1", Paths.get(one("bench")), Paths.get(one("work")),
      Paths.get(one("out")), kv.get("write-goldens").contains("1"))
  }
}

/** What one benchmark run reports: the operation counts and every metric
  * it measured, end-to-end and per layer alike; `run.py` picks the ones
  * `BENCHMARK.json` names for the run's trace mode. */
final case class RunResult(attempted: Int, failed: Int, failedNames: Seq[String],
    invalid: Seq[String], metrics: Map[String, Double],
    notes: Map[String, Any]) {
  def correct: Boolean = failed == 0 && failedNames.isEmpty && invalid.isEmpty
}

object Main {
  /** Builds the session `Pipeline.main` builds and resolves every input
    * table's schema. */
  def session(o: Opts, cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    Settings.sessionConf(cpus).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(o.data).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach(f => spark.read.parquet(f.getPath).schema)
    spark
  }

  /** The session, and the seconds from process start until it was ready. */
  def setUp(o: Opts): (SparkSession, Double) = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o, Settings.cpus)
    (spark, (System.currentTimeMillis() - jvmStartMs) / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val result = o.workload match {
      case "etl_dag" => DagWorkload.run(o, Dag.slice(Dag.etlPhases, Settings.etlSlice))
      case "curation_dag" => DagWorkload.run(o, Dag.slice(Dag.curationPhases, Settings.curationSlice))
      case "profile_etl_dag" => Profile.run(o, Dag.etlPhases, layout = true)
      case "profile_curation_dag" => Profile.run(o, Dag.curationPhases, layout = false)
      case "cdc_stream" => StreamWorkload.run(o)
      case "self_check" => SelfCheck.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val json = Json.obj(Seq(
      "correct" -> result.correct,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "failed_names" -> result.failedNames,
      "invalid" -> result.invalid,
      "metrics" -> scala.collection.immutable.ListMap(result.metrics.toSeq.sortBy(_._1): _*),
      "notes" -> result.notes))
    Files.createDirectories(o.out.toAbsolutePath.getParent)
    Files.writeString(o.out, json + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
