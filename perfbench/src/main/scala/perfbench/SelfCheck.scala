package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Checks of the harness's own logic on synthetic inputs:
  *  - failure accounting: a throwing task and a wrong-output task are
  *    both counted, listed by name and left out of the pass time;
  *  - the latency math, due time to the last consumer's commit, on a
  *    hand-built schedule;
  *  - the tail-percentile choice and nearest-rank percentiles;
  *  - the output fingerprint: order-free, tolerant of float rounding,
  *    sensitive to a changed value. */
object SelfCheck {
  def run(o: Opts): RunResult = {
    val spark = Main.session(o, Settings.cpus)
    val results = mutable.LinkedHashMap[String, Boolean]()
    def check(name: String)(ok: => Boolean): Unit =
      results(name) = try ok catch { case scala.util.control.NonFatal(_) => false }

    failureAccounting(spark, check)
    latencyMath(check)
    percentiles(check)
    fingerprints(spark, check)

    spark.stop()
    val failed = results.collect { case (n, false) => n }.toSeq
    RunResult(results.size, failed.size, failed, Nil, Map.empty,
      Map("checks" -> results.keys.toSeq))
  }

  private def failureAccounting(spark: SparkSession,
      check: String => (=> Boolean) => Unit): Unit = {
    import spark.implicits._
    val good = Seq(1L, 2L, 3L).toDF("x")
    val tasks = Map(
      "good" -> Task("good", (_, _) => good),
      "throws" -> Task("throws", (_, _) => {
        Thread.sleep(300)
        throw new IllegalStateException("synthetic failure")
      }),
      "wrong" -> Task("wrong", (_, _) => { Thread.sleep(300); Seq(1L, 2L).toDF("x") }))
    val goldens = Map("good" -> Checksum.of(good), "wrong" -> Checksum.of(good),
      "throws" -> Checksum.of(good))
    val runner = new DagRunner(spark, "", tasks, Goldens.checker(goldens),
      new Tracer(false), None)
    val pass = runner.pass("self-check", Seq("p" -> Seq("good", "throws", "wrong")))
    val acc = DagWorkload.accounting(Seq(pass))
    check("failed tasks are listed by name")(
      acc.names.map(_.takeWhile(_ != ':')).toSet == Set("throws", "wrong"))
    check("failed tasks count against attempts")(acc.attempted == 3 && acc.failed == 2)
    check("a wrong answer is reported as wrong output")(
      pass.failed.find(_.name == "wrong").exists(_.error.get.startsWith("wrong output")))
    check("failed tasks are left out of the pass time")(
      pass.timedS <= pass.wallS - 0.6 && pass.timedS >= 0)
    check("a good task passes")(pass.tasks.find(_.name == "good").exists(_.ok))
  }

  private def batch(start: Long, end: Long, commitMs: Long): Batch =
    Batch("q", 0, 1, start, end, commitMs - 100, commitMs, Map.empty, 0, 0, 0, 0, 0)

  private def latencyMath(check: String => (=> Boolean) => Unit): Unit = {
    // Chunks at offsets 5..8, due 100 ms apart; query A commits them in
    // batches (5], (5,7], (7,8]; query B in (4,6], (6,8].
    val a = Seq(batch(4, 5, 1500), batch(5, 7, 1800), batch(7, 8, 2000))
    val b = Seq(batch(4, 6, 1600), batch(6, 8, 1900))
    val lat = StreamWorkload.chunkLatencies(Seq(1000L, 1100L, 1200L, 1300L), 5, Seq(a, b))
    check("latency runs from due time to the last consumer's commit")(
      lat == Seq(Some(600.0), Some(700.0), Some(700.0), Some(700.0)))
    // Chunk 9: query A committed it, query B never did.
    val missing = StreamWorkload.chunkLatencies(Seq(1400L), 9,
      Seq(a :+ batch(8, 9, 2100), b))
    check("a chunk some consumer never committed has no latency")(missing == Seq(None))
    // 1 000 release times, latencies 1..1000 ms: one sample each.
    val (p50, p99, tail) = StreamWorkload.latencyPercentiles((1 to 1000).map(_.toDouble))
    check("latency percentiles run over release times")(
      p50 == 500.0 && p99 == 990.0 && tail.contains(99.0))
    // 80 release times, as 100 ms ticks give in 8 s, support only p75.
    check("80 release times support p75, not p99")(
      StreamWorkload.latencyPercentiles((1 to 80).map(_.toDouble))._3.contains(75.0))
    // At 500 events/s in 5 ms ticks the chunks alternate 2 and 3 events.
    val ev = (1 to 4000).map(i => graft.streaming.Event(i.toLong,
      new java.sql.Timestamp(i.toLong), 1L, "view", 1.0, null)).toVector
    val chunks = StreamWorkload.liveChunks(ev, 500.0, 5L)
    check("the generator releases the live rate exactly, one chunk per tick")(
      chunks.size == 1600 && chunks.map(_.size).toSet == Set(2, 3) &&
        chunks.flatten == ev)
  }

  private def percentiles(check: String => (=> Boolean) => Unit): Unit = {
    check("tail percentile keeps ten samples beyond it")(
      Stats.tailPercentile(10000).contains(99.9) &&
        Stats.tailPercentile(1000).contains(99.0) &&
        Stats.tailPercentile(999).contains(95.0) &&
        Stats.tailPercentile(200).contains(95.0) &&
        Stats.tailPercentile(100).contains(90.0) &&
        Stats.tailPercentile(20).contains(50.0) &&
        Stats.tailPercentile(19).isEmpty)
    val xs = (1 to 100).map(_.toDouble).reverse
    check("nearest-rank percentiles")(
      Stats.percentile(xs, 99) == 99.0 && Stats.percentile(xs, 50) == 50.0 &&
        Stats.percentile(xs.take(20), 99) == 100.0 && Stats.median(Seq(1.0, 5.0, 3.0, 9.0)) == 4.0)
  }

  private def fingerprints(spark: SparkSession,
      check: String => (=> Boolean) => Unit): Unit = {
    import spark.implicits._
    val a = Seq((1L, 1.0, "x"), (2L, 2.5, "y")).toDF("k", "v", "s")
    val reordered = Seq((2L, 2.5, "y"), (1L, 1.0000001, "x")).toDF("k", "v", "s").repartition(2)
    val changed = Seq((1L, 1.01, "x"), (2L, 2.5, "y")).toDF("k", "v", "s")
    check("fingerprint ignores row order and float rounding")(
      Checksum.of(a) == Checksum.of(reordered))
    check("fingerprint sees a changed value")(Checksum.of(a) != Checksum.of(changed))
    check("fingerprint counts rows")(Checksum.of(a).rows == 2)
  }
}
