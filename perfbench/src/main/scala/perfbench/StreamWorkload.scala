package perfbench

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.TimeUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}
import graft.streaming.{Event, StreamOps}

/** One committed micro-batch of one query, as its progress event told.
  * Offsets count source chunks: the batch holds chunks (start, end]. */
final case class Batch(runId: String, batchId: Long, rows: Long,
    startOffset: Long, endOffset: Long, startMs: Long, commitMs: Long,
    durations: Map[String, Long], stateRows: Long, stateMemBytes: Long,
    stateCommitMs: Long, lateRowsDropped: Long, watermarkMs: Long)

/** A `StreamingQueryListener` that records every micro-batch commit. */
final class CommitListener extends StreamingQueryListener {
  val batches = new LinkedBlockingQueue[Batch]()

  private def offset(json: String): Long =
    Option(json).map(_.trim).filter(s => s.nonEmpty && s != "null")
      .map(_.toLong).getOrElse(-1L)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.headOption
    val st = p.stateOperators.toSeq
    batches.put(Batch(p.runId.toString, p.batchId, p.numInputRows,
      src.map(s => offset(s.startOffset)).getOrElse(-1L),
      src.map(s => offset(s.endOffset)).getOrElse(-1L),
      startMs, startMs + d.getOrElse("triggerExecution", 0L), d,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum,
      Option(p.eventTime.get("watermark"))
        .map(java.time.Instant.parse(_).toEpochMilli).getOrElse(-1L)))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The `cdc_stream` workload: the reference's two stream consumers over
  * a replay of the events table.
  *  - CDC consumer: `upsertLatest` → `dualWriteSink`, and `typeCounters`.
  *  - Analytics consumer: `minuteMetrics` and `alerts`.
  * Each of the four queries reads its own memory stream fed the same
  * chunk sequence, as each consumer group reads the same topic at its
  * own offset, and has its own checkpoint.
  *
  * A run has three phases on one set of checkpoints:
  *  1. cold catch-up (`first_pass_s`): the queries start in a fresh JVM
  *     on a staged backlog, fed one fixed-size chunk per micro-batch, the
  *     next chunk as soon as the query commits the last, as a source's
  *     per-trigger admission limit does;
  *  2. live tail (latency): one generator thread releases events at a
  *     fixed rate in ticks, open loop; each event's latency runs from its
  *     tick's due time to the commit of the last consumer micro-batch
  *     that holds it;
  *  3. restart catch-up (`pass_s`): the queries stop, a second backlog
  *     is staged, and they restart from their checkpoints and drain it.
  * Then each consumer's output is checked against the same `StreamOps`
  * function applied to the static frame of every replayed event. */
object StreamWorkload {
  val queryNames = Seq("upsert_latest", "type_counters", "minute_metrics", "alerts")

  /** Events in arrival order: sorted by event time plus a seeded delay
    * below `disorderS`, so arrival disorder stays inside the watermark. */
  def arrivalOrder(events: Seq[Event], seed: Long, disorderS: Double): Vector[Event] = {
    val rng = new scala.util.Random(seed)
    events.sortBy(_.event_id)
      .map(e => (e.ts.getTime + (rng.nextDouble() * disorderS * 1000).toLong, e))
      .sortBy(t => (t._1, t._2.event_id)).map(_._2).toVector
  }

  /** Backlog split into chunks: a seeded first chunk of between half and
    * all of `size` events, then chunks of `size`. */
  def chunks(events: Vector[Event], size: Int, seed: Long): Vector[Vector[Event]] = {
    val first = size / 2 + new scala.util.Random(seed ^ 0x5eedL).nextInt(size - size / 2)
    events.take(first) +: events.drop(first).grouped(size).toVector
  }

  /** The live tail as one chunk per tick: chunk j holds the events due
    * in tick j at `rateEps`, so the release rate is exact. */
  def liveChunks(events: Vector[Event], rateEps: Double, tickMs: Long): Vector[Vector[Event]] = {
    require(rateEps * tickMs / 1000 >= 1, "a tick must release at least one event")
    val ticks = math.ceil(events.size * 1000.0 / (rateEps * tickMs)).toInt
    def bound(j: Int) = math.min(events.size, (rateEps * j * tickMs / 1000).toInt)
    (0 until ticks).map(j => events.slice(bound(j), bound(j + 1))).toVector
  }

  /** Latency of each released chunk: due time to the latest commit, over
    * all queries, of the batch holding it. `due(k)` is chunk k's due
    * time, `offset0` the offset of the first released chunk. None when a
    * query never committed the chunk. */
  def chunkLatencies(due: Seq[Long], offset0: Long,
      byQuery: Seq[Seq[Batch]]): Seq[Option[Double]] =
    due.indices.map { j =>
      val k = offset0 + j
      val commits = byQuery.map(_.find(b => b.startOffset < k && k <= b.endOffset).map(_.commitMs))
      if (commits.exists(_.isEmpty)) None
      else Some((commits.flatten.max - due(j)).toDouble)
    }

  /** Live-tail latency percentiles over one sample per release time, not
    * per event: the events of a chunk share its latency and are not
    * independent samples. Returns p50, p99 and the tail percentile the
    * number of release times supports. */
  def latencyPercentiles(perChunk: Seq[Double]): (Double, Double, Option[Double]) =
    if (perChunk.isEmpty) (0.0, 0.0, None)
    else (Stats.percentile(perChunk, 50), Stats.percentile(perChunk, 99),
      Stats.tailPercentile(perChunk.size))


  /** The four queries over their four memory streams. The streams
    * outlive the queries, so [[start]] after [[stop]] is a restart from
    * the checkpoints. */
  private final class Replay(spark: SparkSession, val dir: java.nio.file.Path) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // One source partition per task thread, as a topic partitioned for
    // its consumers; without it every added chunk is a partition.
    private val streams = queryNames.map(_ => MemoryStream[Event](Settings.cpus))
    private def ckpt(n: String) = dir.resolve(s"checkpoint/$n").toString
    def out(n: String): String = dir.resolve(s"out/$n").toString
    var queries: Seq[StreamingQuery] = Nil
    /** Run ids of every query started, restarts included. */
    val started = mutable.ArrayBuffer[String]()

    def start(): Unit = {
      val t = Trigger.ProcessingTime(0L)
      val upsert = StreamOps.dualWriteSink(
        StreamOps.upsertLatest(streams(0).toDS()).toDF(), Seq("user_id"),
        out("upsert_latest"), ckpt("upsert_latest"), t)
      val counters = StreamOps.typeCounters(streams(1).toDF()).writeStream
        .outputMode(OutputMode.Update).trigger(t)
        .option("checkpointLocation", ckpt("type_counters"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.withColumn("batch_id", lit(id)).write.mode("append")
            .parquet(out("type_counters"))
        }.start()
      def fileSink(df: DataFrame, n: String) = df.writeStream.format("parquet")
        .outputMode(OutputMode.Append).trigger(t)
        .option("checkpointLocation", ckpt(n)).option("path", out(n)).start()
      queries = Seq(upsert, counters,
        fileSink(StreamOps.minuteMetrics(streams(2).toDF()), "minute_metrics"),
        fileSink(StreamOps.alerts(streams(3).toDF()), "alerts"))
      started ++= runIds
    }

    def runIds: Seq[String] = queries.map(_.runId.toString)
    def add(q: Int, chunk: Seq[Event]): Long =
      streams(q).addData(chunk).asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset
    def failures: Seq[String] = queries.zip(queryNames)
      .flatMap { case (q, n) => q.exception.map(e => s"$n: ${Dag.errorText(e)}") }
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** Commit records gathered from the listener, per query run. */
  private final class Commits(listener: CommitListener) {
    private val byRun = mutable.Map[String, mutable.ArrayBuffer[Batch]]()
    def poll(waitMs: Long): Unit = {
      Option(listener.batches.poll(waitMs, TimeUnit.MILLISECONDS)).foreach(add)
      val xs = new java.util.ArrayList[Batch]()
      listener.batches.drainTo(xs)
      xs.asScala.foreach(add)
    }
    private def add(b: Batch): Unit = byRun.getOrElseUpdate(b.runId, mutable.ArrayBuffer()) += b
    def of(runId: String): Seq[Batch] = byRun.get(runId).map(_.toSeq.sortBy(_.batchId)).getOrElse(Nil)
    def committed(runId: String): Long = of(runId).map(_.endOffset).maxOption.getOrElse(-1L)
    /** Polls until `done`, a query fails, or the time is up. */
    def waitUntil(r: Replay, timeoutS: Double)(done: => Boolean): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      var ok = done
      while (!ok && r.failures.isEmpty && System.nanoTime() < deadline) {
        poll(5)
        ok = done
      }
      ok
    }
  }

  def run(o: Opts): RunResult = {
    val (spark0, setupS) = Main.setUp(o)
    var spark = spark0
    import spark0.implicits._
    val tracer = new Tracer(o.trace, o.workload)
    val engine = new EngineListener
    val listener = new CommitListener
    spark.streams.addListener(listener)
    val commits = new Commits(listener)
    val seed = o.seed
    val cfg = Settings.Stream
    val all = arrivalOrder(graft.Tables.events(spark, o.data).as[Event].collect().toSeq,
      seed, cfg.disorderS)
    val (n1, n2) = (cfg.backlogEvents, cfg.restartBacklogEvents)
    val rate = cfg.liveRateEps
    val tickMs = cfg.tickMs
    val liveN = (rate * o.seconds).toInt
    require(n1 + liveN + n2 <= all.size,
      s"replay wants ${n1 + liveN + n2} events, the input has ${all.size}")
    val backlog1 = chunks(all.take(n1), cfg.batchEvents, seed)
    val live = liveChunks(all.slice(n1, n1 + liveN), rate, tickMs)
    val backlog2 = Vector(all.slice(n1 + liveN, n1 + liveN + n2))
    val replay = new Replay(spark, o.work.resolve("stream"))
    var failed = Seq.empty[String]

    /** Starts the queries (a restart when they ran before) and feeds the
      * backlog one chunk per micro-batch; returns the seconds from the
      * start to the last commit. */
    def catchUp(r: Replay, backlog: Seq[Seq[Event]], cm: Commits): Double = {
      val t0 = System.currentTimeMillis()
      r.start()
      val fed = queryNames.indices.map(q => r.add(q, backlog.head)).toArray
      val base = fed(0)
      val last = base + backlog.size - 1
      val drained = cm.waitUntil(r, 120) {
        queryNames.indices.foreach { q =>
          val c = cm.committed(r.runIds(q))
          if (c == fed(q) && c < last) fed(q) = r.add(q, backlog((c + 1 - base).toInt))
        }
        r.runIds.forall(cm.committed(_) == last)
      }
      if (!drained && r.failures.isEmpty)
        throw new IllegalStateException("catch-up stalled for 120 s")
      (r.runIds.flatMap(cm.of(_).map(_.commitMs)).max - t0) / 1e3
    }

    def finish(metrics: Map[String, Double], invalid: Seq[String], notes: Map[String, Any]): RunResult = {
      spark.streams.removeListener(listener)
      replay.stop()
      DagWorkload.deleteTree(replay.dir.toFile)
      spark.stop()
      val attempted = replay.started.toSeq.flatMap(commits.of).size + queryNames.size
      RunResult(attempted, failed.size, failed, invalid, metrics, notes)
    }
    def attempt[T](what: String)(f: => T): Option[T] =
      try {
        val v = f
        failed ++= replay.failures
        if (failed.isEmpty) Some(v) else None
      } catch { case scala.util.control.NonFatal(e) =>
        failed ++= replay.failures :+ s"$what: ${Dag.errorText(e)}"
        None
      }

    // Phase A, cold: the first catch-up in a fresh JVM.
    val jit0 = Jvm.jitS
    val firstS = attempt("cold catch-up")(tracer.span("phase", "catch_up_cold")(
      catchUp(replay, backlog1, commits)))
      .getOrElse(return finish(Map.empty, Nil, Map.empty))
    val firstJit = Jvm.jitS - jit0
    val heap = mutable.ArrayBuffer(Jvm.liveHeapMb())
    if (o.trace) spark.sparkContext.addSparkListener(engine)
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val engine0 = engine.snapshot
    val gc0 = Jvm.gcS

    // Phase B: the open-loop live tail.
    val due = new Array[Long](live.size)
    val released = new Array[Long](live.size)
    val offset0 = commits.committed(replay.runIds.head) + 1
    val liveIds = replay.runIds
    val liveWall0 = System.nanoTime()
    val liveStart = System.currentTimeMillis() + 100
    val gen = new Thread(() => live.indices.foreach { j =>
      due(j) = liveStart + j * tickMs
      val wait = due(j) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      queryNames.indices.foreach(q => replay.add(q, live(j)))
      released(j) = System.currentTimeMillis()
    }, "perfbench-generator")
    val caughtUp = attempt("live tail")(tracer.span("phase", "live_tail") {
      gen.start()
      gen.join()
      commits.waitUntil(replay, 60) {
        liveIds.forall(commits.committed(_) >= offset0 + live.size - 1)
      }
    }).getOrElse(return finish(Map.empty, Nil, Map.empty))
    if (!caughtUp) {
      failed :+= "live tail: consumers did not commit every released event within 60 s"
      return finish(Map.empty, Nil, Map.empty)
    }
    val liveWallS = (System.nanoTime() - liveWall0) / 1e9
    replay.stop()
    heap += Jvm.liveHeapMb()

    // Phase A again, warm: restart from the checkpoints and catch up.
    val passS = attempt("restart catch-up")(tracer.span("phase", "catch_up_restart")(
      catchUp(replay, backlog2, commits)))
      .getOrElse(return finish(Map.empty, Nil, Map.empty))
    val restartIds = replay.runIds
    replay.stop()
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    commits.poll(0)
    failed ++= replay.failures
    val engineTotal = engine.snapshot - engine0
    val gcS = Jvm.gcS - gc0
    heap += Jvm.liveHeapMb()

    // Output check: each consumer's output against the same StreamOps
    // function over the static frame of every replayed event.
    val checks = attempt("output check") {
      val static = spark.createDataset(backlog1.flatten ++ live.flatten ++ backlog2.flatten).toDF()
      val wm = Seq(2, 3).map(q => commits.of(restartIds(q)).map(_.watermarkMs).max)
      def closed(df: DataFrame, endCol: org.apache.spark.sql.Column, q: Int): DataFrame =
        df.filter(endCol.cast("long") * 1000 <= wm(q - 2))
      val minuteEnd = col("minute_start") + org.apache.spark.sql.functions.expr("INTERVAL 1 MINUTE")
      val alertsAll = StreamOps.alerts(static)
      val expected = Seq(
        StreamOps.upsertLatest(static.as[Event]).toDF(),
        StreamOps.typeCounters(static),
        closed(StreamOps.minuteMetrics(static), minuteEnd, 2),
        alertsAll.filter(col("alert_type") =!= "bulk_orders").unionByName(
          closed(alertsAll.filter(col("alert_type") === "bulk_orders"), col("ts"), 3)))
      val counters = spark.read.parquet(replay.out("type_counters"))
      val actual = Seq(
        spark.read.parquet(replay.out("upsert_latest") + "/latest"),
        counters.join(counters.groupBy("event_type", "op").agg(max("batch_id").as("batch_id")),
          Seq("event_type", "op", "batch_id")).drop("batch_id"),
        spark.read.parquet(replay.out("minute_metrics")),
        spark.read.parquet(replay.out("alerts")))
      queryNames.indices.flatMap { i =>
        val e = Checksum.of(expected(i))
        val a = Checksum.of(actual(i).select(expected(i).columns.toSeq.map(col): _*))
        if (a == e) None
        else Some(s"${queryNames(i)}: wrong output: rows ${a.rows} checksum ${a.checksum}, " +
          s"static rows ${e.rows} checksum ${e.checksum}")
      }
    }.getOrElse(return finish(Map.empty, Nil, Map.empty))
    failed ++= checks

    // Latency and generator honesty.
    val liveBatches = liveIds.map(commits.of)
    val lat = chunkLatencies(due.toSeq, offset0, liveBatches)
    val (p50, p99, supported) = latencyPercentiles(lat.flatten)
    val lateMs = due.indices.map(j => (released(j) - due(j)).toDouble).maxOption.getOrElse(0.0)
    // Events released but not yet committed by the slowest consumer at the
    // last release. The live tail is a few micro-batches long, too short
    // to watch this grow, so growth is judged by capacity instead: the
    // consumers drain a backlog at the catch-up rate, and a run whose
    // catch-up rate is not well above the live rate would fall behind.
    val lastRelease = released.lastOption.getOrElse(0L)
    val backlogEnd = liveBatches.map { bs =>
      val done = bs.filter(_.commitMs <= lastRelease).map(_.endOffset).maxOption.getOrElse(-1L)
      live.indices.filter(j => offset0 + j > done).map(live(_).size).sum
    }.max
    val catchupEps = n2 / passS
    val invalid = Seq(
      if (lateMs > cfg.maxLateMs)
        Some(s"generator fell behind its schedule by $lateMs ms") else None,
      if (catchupEps < rate * cfg.minHeadroom)
        Some(s"backlog would grow: catch-up rate $catchupEps events/s is under " +
          s"${cfg.minHeadroom} times the live rate") else None,
      if (lat.exists(_.isEmpty)) Some("a released chunk was never committed") else None,
      if (!supported.exists(_ >= 99))
        Some(s"${lat.size} release times do not support a p99") else None).flatten
    val endToEnd = Map(
      "setup_s" -> setupS,
      "first_pass_s" -> firstS,
      "pass_s" -> passS,
      "catchup_eps" -> catchupEps,
      "latency_p50_ms" -> p50,
      "latency_p99_ms" -> p99,
      "failed_share" -> failed.size.toDouble / (replay.started.toSeq.flatMap(commits.of).size + queryNames.size),
      "live_heap_mb" -> heap.max)

    val restartBatches = restartIds.flatMap(commits.of)
    val allBatches = liveBatches.flatten ++ restartBatches
    val layer =
      if (!o.trace) Map.empty[String, Double]
      else {
        def med(f: Batch => Double, bs: Seq[Batch] = restartBatches): Double =
          if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
        def ms(k: String)(b: Batch): Double = b.durations.getOrElse(k, 0L).toDouble
        val lastOf = restartIds.map(commits.of(_).last)
        val lagMs = live.indices.flatMap { j =>
          val k = offset0 + j
          val starts = liveBatches.map(_.find(b => b.startOffset < k && k <= b.endOffset).map(_.startMs))
          if (starts.exists(_.isEmpty)) None else Some((starts.flatten.max - released(j)).toDouble)
        }
        // The single-threaded baseline: the cold catch-up again, at local[1].
        spark.streams.removeListener(listener)
        replay.stop()
        spark.stop()
        spark = Main.session(o, 1)
        val listener1 = new CommitListener
        spark.streams.addListener(listener1)
        val commits1 = new Commits(listener1)
        val replay1 = new Replay(spark, o.work.resolve("stream-local1"))
        val baselineS = attempt("local[1] catch-up")(catchUp(replay1, backlog1, commits1)).getOrElse(0.0)
        replay1.stop()
        DagWorkload.deleteTree(replay1.dir.toFile)
        Map(
          "StreamOps.batches" -> allBatches.size.toDouble,
          "StreamOps.batch_ms_p50" -> med(ms("triggerExecution"), allBatches),
          "StreamOps.plan_ms" -> med(ms("queryPlanning")),
          "StreamOps.add_batch_ms" -> med(ms("addBatch")),
          "StreamOps.wal_commit_ms" -> med(b => ms("walCommit")(b) + ms("commitOffsets")(b)),
          "StreamOps.state_commit_ms" -> med(_.stateCommitMs.toDouble),
          "StreamOps.state_rows" -> lastOf.map(_.stateRows).sum.toDouble,
          "StreamOps.state_mem_bytes" -> lastOf.map(_.stateMemBytes).sum.toDouble,
          "StreamOps.late_rows_dropped" -> allBatches.map(_.lateRowsDropped).sum.toDouble,
          "StreamOps.source_lag_ms" -> (if (lagMs.isEmpty) 0.0 else Stats.median(lagMs)),
          "StreamOps.backlog_rows_end" -> backlogEnd.toDouble,
          "StreamOps.local1_pass_s" -> baselineS,
          "gen.late_ms" -> lateMs) ++
          Layers.engine(engineTotal, liveWallS + passS, Settings.cpus, gcS) ++
          Layers.jvm(firstJit)
      }
    if (o.trace) {
      (liveIds ++ restartIds).zip(queryNames ++ queryNames.map(_ + "_restart")).foreach { case (r, n) =>
        val bs = commits.of(r)
        val qid = tracer.add(0, "query", n, bs.head.startMs * 1000000L, bs.last.commitMs * 1000000L)
        bs.foreach(b => tracer.add(qid, "micro_batch", s"$n#${b.batchId}",
          b.startMs * 1000000L, b.commitMs * 1000000L,
          Map("rows" -> b.rows, "end_offset" -> b.endOffset) ++
            b.durations.map { case (k, v) => s"ms.$k" -> v }))
      }
      tracer.write(o.work.resolve("spans.jsonl"))
    }
    finish(endToEnd ++ layer, invalid, Map(
      "backlog_events" -> n1,
      "restart_backlog_events" -> n2,
      "backlog_batches" -> backlog1.size,
      "live_events" -> live.map(_.size).sum,
      "live_rate_eps" -> rate,
      "latency_samples" -> lat.flatten.size,
      "latency_tail_percentile_supported" -> supported,
      "live_micro_batches_slowest_query" ->
        liveBatches.map(_.count(b => b.rows > 0 && b.endOffset >= offset0)).min,
      "gen_late_ms" -> lateMs,
      "backlog_rows_end" -> backlogEnd,
      "first_pass_jit_s" -> firstJit,
      "query_batch_ms_p50" -> scala.collection.immutable.ListMap(queryNames.zip(restartIds).map { case (n, r) =>
        n -> Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit", "commitOffsets")
          .map(k => k + "=" + Stats.median(commits.of(r).map(_.durations.getOrElse(k, 0L).toDouble)))
      }: _*)))
  }
}
