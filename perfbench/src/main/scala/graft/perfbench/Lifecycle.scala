package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.TaskHive
import graft.perfbench.Inputs.{Ev, Scripts}
import graft.streaming.TaskEngine.TaskEvent

/** `task_lifecycle`: `TaskHive.start` (the `TaskEngine` state machine
  * into a parquet sink) over JSON event files from the seeded lifecycle
  * scripts.
  *
  * Phase 1 drains a backlog written before the query starts
  * (events/s). Phase 2 is an open loop: one file per [[TickMs]] tick,
  * written on schedule at [[Rate]] events/s, below the phase-1
  * capacity. An event's latency runs from the moment its file was due
  * to the end of the trigger that consumed it; which trigger consumed a
  * file follows from the per-trigger input row counts, since the file
  * source takes whole files in write order.
  *
  * The sink must hold exactly one transition per event, the one the
  * script prescribes, and each task must end in its script's status. */
object Lifecycle {
  val BacklogTasks = 12000
  val WarmupTasks = 1000
  val WarmupSeconds = 2
  val BacklogFileEvents = 2000
  val MaxFilesPerTrigger = 10
  val Rate = 2000
  val TickMs = 100

  /** A written event file: its events, when it was due and written, and
    * whether it fell in the traced part of the open loop. */
  final case class EventFile(events: Seq[Ev], dueMs: Long, writtenMs: Long, traced: Boolean)

  /** A written backlog: the scripts (continued in phase 2), the input
    * directory and the backlog's files. */
  final case class Backlog(scripts: Scripts, in: String, files: Seq[EventFile])

  /** The listeners of a traced run, attached for part of the open loop. */
  final class Tracer(spark: org.apache.spark.sql.SparkSession) {
    val ledger = new Ledger
    val capture = new StreamCapture
    private var attached = false
    def attach(): Unit = if (!attached) {
      spark.sparkContext.addSparkListener(ledger)
      spark.streams.addListener(capture)
      attached = true
    }
    def detach(): Unit = if (attached) {
      Ledger.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ledger)
      spark.streams.removeListener(capture)
      attached = false
    }
  }

  /** What one query run measured: the drain rate, and per phase-2 file
    * the end of the trigger that consumed it. */
  final case class Phases(drainEventsPerS: Double, files: Seq[(EventFile, Long)],
      progress: Seq[StreamingQueryProgress], backlogFiles: Map[Long, Double],
      facts: Seq[(String, Any)]) {
    def latMs(traced: Boolean): Seq[Double] = files.filter(_._1.traced == traced)
      .flatMap { case (f, end) => Seq.fill(f.events.size)((end - f.dueMs).toDouble) }
    def genLagMs: Seq[Double] = files.map { case (f, _) => (f.writtenMs - f.dueMs).toDouble }
  }

  def run(ctx: Ctx): Outcome = {
    val tally = new Tally
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    var prepared: Backlog = null
    val setupS = (1 to ctx.setupReps).map { r =>
      val t0 = System.nanoTime()
      prepared = backlog(ctx, s"stream-$r", ctx.seed, BacklogTasks)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    query(ctx, "stream-warmup", backlog(ctx, "stream-warmup", ctx.seed + 7919, WarmupTasks),
      WarmupSeconds, tally, None)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val tracer = if (ctx.trace) Some(new Tracer(ctx.spark)) else None
    val run = query(ctx, s"stream-${ctx.setupReps}", prepared, ctx.seconds, tally, tracer)
    val lat = run.latMs(traced = false)
    val (tailL, tailV) = Stats.tail(lat)
    val named = Seq(
      Metric("stream_events_per_s", run.drainEventsPerS, "1/s"),
      Metric("stream_latency_p50_ms", Stats.median(lat), "ms"),
      Metric(s"stream_latency_${tailL}_ms", tailV, "ms"),
      Metric("stream_latency_samples", lat.size, "count"),
      Metric("stream.gen_lag_ms", Stats.pct(run.genLagMs, 0.99), "ms"),
      Metric("warmup_s", warmupS, "s")) ++
      tracer.toSeq.flatMap(t => layers(ctx, run, t.ledger, Stats.median(lat)))
    val (att, failed) = tally.counts
    Outcome(
      gated = Seq(
        Metric("setup_s", Stats.median(setupS) + warmupS, "s"),
        Metric("throughput_per_s", run.drainEventsPerS, "1/s"),
        Metric("p50_ms", Stats.median(lat), "ms")),
      named = named,
      inputs = Seq("phase2_rate_events_per_s" -> Rate, "tick_ms" -> TickMs,
        "backlog_file_events" -> BacklogFileEvents,
        "max_files_per_trigger" -> MaxFilesPerTrigger, "warmup_tasks" -> WarmupTasks) ++
        run.facts,
      attempted = att, failed = failed, errors = tally.reasons)
  }

  /** Writes a backlog of `tasks` tasks' complete scripts into `<name>/in`. */
  private def backlog(ctx: Ctx, name: String, seed: Long, tasks: Int): Backlog = {
    val in = ctx.sub(s"$name/in")
    Files.createDirectories(Paths.get(in))
    val scripts = new Scripts(seed, "t")
    val perTick = 200
    val ticks = (0 until tasks / perTick).map(_ => scripts.tick(perTick)) ++
      scripts.drainTicks()
    val now = System.currentTimeMillis()
    val groups = ticks.flatten.grouped(BacklogFileEvents).toSeq
    val files = groups.zipWithIndex.map { case (evs, i) =>
      // the file source orders files by modification time; files written
      // within one clock tick would otherwise be taken in listing order
      writeFile(in, i, evs).toFile.setLastModified(now - (groups.size - i) * 1000L)
      EventFile(evs, now, now, traced = false)
    }
    Backlog(scripts, in, files)
  }

  private def writeFile(in: String, idx: Int, evs: Seq[Ev]): java.nio.file.Path = {
    val body = evs.map(Inputs.eventJson).mkString("", "\n", "\n")
    val tmp = Paths.get(in, f".part-$idx%06d.json.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(in, f"part-$idx%06d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One query: drain the backlog (phase 1), run the open loop for
    * `seconds` (phase 2), let every started task finish, check the sink.
    * With a tracer, its listeners are attached for the middle half of the
    * open loop: untraced, traced, traced, untraced quarters, so warming
    * over the run does not read as tracing overhead. */
  private def query(ctx: Ctx, name: String, b: Backlog, seconds: Double, tally: Tally,
      tracer: Option[Tracer]): Phases = {
    val spark = ctx.spark
    import spark.implicits._
    val nBacklog = b.files.map(_.events.size).sum
    val events = spark.readStream
      .schema(Encoders.product[TaskEvent].schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
      .json(b.in).as[TaskEvent]
    val out = ctx.sub(s"$name/out")
    val t0 = System.currentTimeMillis()
    val q = TaskHive(spark, ctx.dir.toString).start(events, ctx.sub(s"$name/ckpt"), out)
    try {
      awaitRows(q, nBacklog)
      val drainEnd = endMs(batchFor(q.recentProgress.toSeq, nBacklog.toLong))
      val drainRate = nBacklog / ((drainEnd - t0) / 1000.0)

      // phase 2: one file per tick on a fixed schedule, then the ticks
      // that finish every task already started
      val perTick = math.max(1, math.round(Rate * TickMs / 1000.0 / 4.05).toInt)
      val written = mutable.ArrayBuffer.empty[EventFile]
      val start = System.currentTimeMillis() + TickMs
      val nTicks = (seconds * 1000 / TickMs).toInt
      val ticks = Iterator.tabulate(nTicks)(_ => b.scripts.tick(perTick)) ++
        b.scripts.drainTicks()
      try ticks.zipWithIndex.foreach { case (evs, i) =>
        val traced = tracer.isDefined && i >= nTicks / 4 && i < nTicks * 3 / 4
        if (traced) tracer.foreach(_.attach()) else tracer.foreach(_.detach())
        val due = start + i.toLong * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(b.in, b.files.size + written.size, evs)
        written += EventFile(evs, due, System.currentTimeMillis(), traced)
      } finally tracer.foreach(_.detach())
      val total = nBacklog + written.map(_.events.size).sum
      awaitRows(q, total)
      val prog = q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      // a file's events leave with the trigger whose cumulative input
      // first covers the file
      val cumRows = prog.scanLeft(0L)(_ + _.numInputRows).tail
      var cum = nBacklog.toLong
      val fileEnd = written.map { f =>
        cum += f.events.size
        endMs(prog(cumRows.indexWhere(_ >= cum)))
      }
      // files written but not yet consumed when each trigger started
      val fileCum = written.scanLeft(nBacklog.toLong)(_ + _.events.size).tail
      val backlogAtTrigger = prog.zip(0L +: cumRows).map { case (p, before) =>
        val startMs = Instant.parse(p.timestamp).toEpochMilli
        p.batchId ->
          (written.count(_.writtenMs <= startMs) - fileCum.count(_ <= before)).max(0).toDouble
      }.toMap
      q.stop()
      verify(spark, out, b.files.flatMap(_.events) ++ written.flatMap(_.events), b.scripts, tally)
      Phases(drainRate, written.toSeq.zip(fileEnd),
        tracer.map(_.capture.all).getOrElse(prog), backlogAtTrigger,
        b.scripts.facts ++ Seq("backlog_events" -> nBacklog, "phase2_files" -> written.size,
          "phase2_events" -> written.map(_.events.size).sum))
    } finally if (q.isActive) q.stop()
  }

  private def awaitRows(q: org.apache.spark.sql.streaming.StreamingQuery, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (q.recentProgress.map(_.numInputRows).sum < n) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline, s"stream did not ingest $n rows in time")
      Thread.sleep(5)
    }
  }

  /** The trigger whose cumulative input first reaches `rows`. */
  private def batchFor(prog: Seq[StreamingQueryProgress], rows: Long): StreamingQueryProgress = {
    var cum = 0L
    prog.sortBy(_.batchId).find { p => cum += p.numInputRows; cum >= rows }.get
  }

  private def endMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue

  /** One transition per event, as scripted; each task ends as scripted. */
  private def verify(spark: org.apache.spark.sql.SparkSession, out: String, evs: Seq[Ev],
      scripts: Scripts, tally: Tally): Unit = {
    val got = spark.read.parquet(out).collect().map { r =>
      (r.getAs[String]("taskId"), r.getAs[Int]("from"), r.getAs[Int]("to"),
        r.getAs[Int]("retryCount"))
    }.groupBy(identity).map { case (k, v) => k -> v.length }
    val want = evs.map(e => (e.taskId, e.from, e.to, e.retryCount))
      .groupBy(identity).map { case (k, v) => k -> v.length }
    want.foreach { case (k, n) =>
      (0 until n).foreach(i => tally.check(got.getOrElse(k, 0) > i, s"missing transition $k"))
    }
    val extra = got.toSeq.map { case (k, n) => n - want.getOrElse(k, 0) }.filter(_ > 0).sum
    if (extra > 0) tally.fail(s"$extra transitions that no event prescribes")
    val finals = got.keys.filter(k => k._3 == 2 || k._3 == 3).groupBy(_._1)
    scripts.finalStatus.foreach { case (task, st) =>
      val f = finals.getOrElse(task, Nil).map(_._3).toSeq
      tally.check(f == Seq(st), s"task $task ended $f, script says $st")
    }
  }

  /** Per-layer metrics of the traced part of the open loop. */
  private def layers(ctx: Ctx, p: Phases, ledger: Ledger, untracedP50: Double): Seq[Metric] = {
    val prog = p.progress.filter(_.numInputRows > 0)
    def dur(k: String): Seq[Double] =
      prog.map(x => Option(x.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      prog.flatMap(_.stateOperators.headOption.map(f))
    val n = prog.size.toDouble
    val all = ledger.total
    val tracedFiles = p.files.map(_._1).filter(_.traced)
    val tracedSeconds = (tracedFiles.map(_.dueMs).max - tracedFiles.map(_.dueMs).min + TickMs) / 1000.0
    val trig = dur("triggerExecution")
    val construct = dur("latestOffset").zip(dur("getBatch")).map { case (a, b) => a + b }
    Main.write(ctx.dir.resolve("trace.json"), Report.json(ListMap(
      "progress" -> p.progress.map(x => Report.mapper.readTree(x.json)),
      "counters" -> Report.counters(ledger))))
    val generic = Seq(
      Metric("construct_ms", Stats.median(construct), "ms"),
      Metric("construct_jobs", 0, "count"),
      Metric("plan_ms", Stats.median(dur("queryPlanning")), "ms"),
      Metric("exec_ms", Stats.median(dur("addBatch")), "ms"),
      Metric("jobs_per_op", all.jobs / n, "count"),
      Metric("stages_per_op", all.stages / n, "count"),
      Metric("tasks_per_op", all.tasks / n, "count"),
      Metric("task_run_ms_per_op", all.runMs / n, "ms"),
      Metric("task_cpu_ms_per_op", all.cpuNs / 1e6 / n, "ms"),
      Metric("gc_ms_per_op", all.gcMs / n, "ms"),
      Metric("input_mb_per_op", all.inputBytes / 1e6 / n, "MB"),
      Metric("shuffle_write_mb_per_op", all.shuffleWrite / 1e6 / n, "MB"),
      Metric("shuffle_read_mb_per_op", all.shuffleRead / 1e6 / n, "MB"),
      Metric("spill_mb_per_op", all.spillBytes / 1e6 / n, "MB"),
      Metric("sched_delay_p99_ms", Stats.pct(all.schedDelayMs.toSeq, 0.99), "ms"),
      Metric("core_util", all.runMs / 1000.0 / (tracedSeconds * ctx.cores), "ratio"),
      Metric("trace_overhead_pct",
        100 * (Stats.median(p.latMs(traced = true)) - untracedP50) / untracedP50, "%"))
    val detailed = Seq(
      Metric("stream.trigger_ms.p50", Stats.median(trig), "ms"),
      Metric("stream.trigger_ms.p99", Stats.pct(trig, 0.99), "ms"),
      Metric("stream.latest_offset_ms", Stats.median(dur("latestOffset")), "ms"),
      Metric("stream.get_batch_ms", Stats.median(dur("getBatch")), "ms"),
      Metric("stream.query_planning_ms", Stats.median(dur("queryPlanning")), "ms"),
      Metric("stream.wal_commit_ms", Stats.median(dur("walCommit")), "ms"),
      Metric("stream.backlog_files", Stats.median(prog.flatMap(x => p.backlogFiles.get(x.batchId))),
        "count"),
      Metric("stream.add_batch_ms", Stats.median(dur("addBatch")), "ms"),
      Metric("stream.rows_per_trigger", Stats.median(prog.map(_.numInputRows.toDouble)), "count"),
      Metric("stream.state_rows", st(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0), "count"),
      Metric("stream.state_rows_updated", Stats.median(st(_.numRowsUpdated.toDouble)), "count"),
      Metric("stream.state_mem_mb", st(_.memoryUsedBytes / 1e6).maxOption.getOrElse(0.0), "MB"),
      Metric("stream.state_commit_ms", Stats.median(st(_.commitTimeMs.toDouble)), "ms"),
      Metric("stream.shuffle_write_mb", all.shuffleWrite / 1e6 / n, "MB"),
      Metric("stream.triggers", n, "count"),
      Metric("stream.traced_latency_p50_ms", Stats.median(p.latMs(traced = true)), "ms"))
    generic ++ detailed
  }
}
