package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

import graft.{HttpFacade, TaskHive}
import graft.perfbench.Inputs.{Request, TaskTables}

/** `task_api`: `HttpFacade` over `TaskHive` on a generated sf0.1-sized
  * task table (150 k tasks, 1 k workers). Closed loop: [[Clients]] HTTP
  * clients, each sending its next request of the seeded mix when the
  * previous one returns. Every response is compared with an answer
  * derived from the generated rows in plain Scala; the planted absent
  * ids must be the only non-2xx responses.
  *
  * A traced run splits the window into untraced and traced quarters,
  * then probes a few requests of each route: each is sent over HTTP and
  * then made as the route's direct `TaskHive` call, split into spans:
  * construct (the call that returns the DataFrame), plan (forcing the
  * executed plan), execute (the `toJSON` collect) and serialise (the
  * response body). */
object TaskApi {
  val NOrders = 150000
  val NWorkers = 1000
  val Clients = 2
  val ProbesPerRoute = 3

  /** One finished request. */
  final case class Done(route: String, ms: Double)
  /** The direct call's phase times and the ledger tag it ran under. */
  final case class Direct(constructMs: Double, planMs: Double, execMs: Double,
      serialiseMs: Double, tag: String) {
    def totalMs: Double = constructMs + planMs + execMs + serialiseMs
  }

  def run(ctx: Ctx): Outcome = {
    val tables = new TaskTables(NOrders, NWorkers, ctx.seed)
    val reqs = Inputs.requests(tables, 200000, ctx.seed)
    val expect = new Expected(tables)
    val tally = new Tally
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    // set-up: the inputs written once, then (TaskHive built, facade
    // serving its first request) several times; the last one serves
    val w0 = System.nanoTime()
    val dir = ctx.sub("api-data")
    tables.write(ctx.spark, dir)
    val writeS = (System.nanoTime() - w0) / 1e9
    var served: (HttpFacade, Int, TaskHive) = null
    val setupS = (1 to ctx.setupReps).map { _ =>
      val t0 = System.nanoTime()
      val hive = TaskHive(ctx.spark, dir)
      val facade = new HttpFacade(hive)
      val port = facade.start()
      send(http, port, reqs.find(r => r.route == "get_task" && !r.absent).get, expect, tally)
      val s = (System.nanoTime() - t0) / 1e9
      if (served != null) served._1.stop()
      served = (facade, port, hive)
      s
    }
    val (facade, port, hive) = served
    // one request per route, so no route's first call lands in the window
    val r0 = System.nanoTime()
    reqs.filterNot(_.absent).distinctBy(_.route).foreach(q => send(http, port, q, expect, tally))
    val warmupS = (System.nanoTime() - r0) / 1e9
    val next = new AtomicInteger(0)
    try {
      val ledger = new Ledger
      val spans = new Spans(ctx.trace)
      val sc = ctx.spark.sparkContext
      def run(seconds: Double, traced: Boolean): Window =
        if (!traced) loop(http, port, reqs, next, expect, tally, seconds, None)
        else {
          sc.addSparkListener(ledger)
          try loop(http, port, reqs, next, expect, tally, seconds, Some(spans))
          finally { Ledger.drain(sc); sc.removeSparkListener(ledger) }
        }
      // a traced run orders untraced and traced quarters U T T U, so JIT
      // warming over the run does not read as tracing overhead
      val windows = if (!ctx.trace) Seq(false -> run(ctx.seconds, traced = false))
        else Seq(false, true, true, false).map(t => t -> run(ctx.seconds / 4, t))
      val plain = Window.merge(windows.filterNot(_._1).map(_._2))
      val traced = if (!ctx.trace) None else {
        val load = ledger.total
        ledger.reset()
        sc.addSparkListener(ledger)
        try Some((Window.merge(windows.filter(_._1).map(_._2)), load,
          probe(http, port, hive, spans, reqs, expect, tally)))
        finally { Ledger.drain(sc); sc.removeSparkListener(ledger) }
      }
      val (att, failed) = tally.counts
      val lat = plain.done.map(_.ms)
      val getTask = plain.done.filter(_.route == "get_task").map(_.ms)
      val opsPerS = plain.done.size / plain.seconds
      val (tailL, tailV) = Stats.tail(lat)
      val (gtTailL, gtTailV) = Stats.tail(getTask)
      val named = Seq(
        Metric("api_ops_per_s", opsPerS, "1/s"),
        Metric("api_p50_ms", Stats.median(lat), "ms"),
        Metric(s"api_${tailL}_ms", tailV, "ms"),
        Metric("api_samples", lat.size, "count"),
        Metric("api_get_task_p50_ms", Stats.median(getTask), "ms"),
        Metric(s"api_get_task_${gtTailL}_ms", gtTailV, "ms"),
        Metric("api_get_task_samples", getTask.size, "count"),
        Metric("warmup_s", warmupS, "s")).distinctBy(_.name) ++
        traced.toSeq.flatMap { case (w, load, probed) =>
          layers(ctx, reqs, w, load, probed, ledger, spans, Stats.median(lat))
        }
      Outcome(
        gated = Seq(
          Metric("setup_s", writeS + Stats.median(setupS) + warmupS, "s"),
          Metric("throughput_per_s", opsPerS, "1/s"),
          Metric("p50_ms", Stats.median(lat), "ms")),
        named = named,
        inputs = tables.facts ++ Seq("clients" -> Clients,
          "requests_sent" -> next.get(),
          "absent_id_share_of_get_task" -> {
            val g = reqs.take(next.get()).filter(_.route == "get_task")
            g.count(_.absent).toDouble / math.max(g.size, 1)
          }) ++
          reqs.take(next.get()).groupBy(_.route).toSeq.sortBy(_._1)
            .map { case (r, xs) => s"share.$r" -> xs.size.toDouble / next.get() },
        attempted = att, failed = failed, errors = tally.reasons)
    } finally facade.stop()
  }

  final case class Window(done: Seq[Done], seconds: Double)
  object Window {
    def merge(ws: Seq[Window]): Window = Window(ws.flatMap(_.done), ws.map(_.seconds).sum)
  }

  /** Closed loop for `seconds`: [[Clients]] threads share the request
    * stream. With `spans` set, each request is recorded as a span. */
  private def loop(http: HttpClient, port: Int, reqs: IndexedSeq[Request],
      next: AtomicInteger, expect: Expected, tally: Tally, seconds: Double,
      spans: Option[Spans]): Window = {
    val done = java.util.Collections.synchronizedList(new java.util.ArrayList[Done]())
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val q = reqs(next.getAndIncrement() % reqs.size)
          val ms = spans match {
            case Some(sp) => sp.span(s"http.${q.route}", sp.newOp()) { _ =>
                send(http, port, q, expect, tally) }._2.ms
            case None => send(http, port, q, expect, tally)
          }
          done.add(Done(q.route, ms))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val secs = (System.nanoTime() - t0) / 1e9
    Window(scala.jdk.CollectionConverters.ListHasAsScala(done).asScala.toList, secs)
  }

  /** One probed request: its HTTP round trip and its direct call. */
  final case class Probed(route: String, httpMs: Double, direct: Direct)

  /** The first [[ProbesPerRoute]] requests of each route in the stream,
    * one at a time: the HTTP request, then the same request as a direct
    * `TaskHive` call under spans and ledger tags. */
  private def probe(http: HttpClient, port: Int, hive: TaskHive, spans: Spans,
      reqs: IndexedSeq[Request], expect: Expected, tally: Tally): Seq[Probed] =
    reqs.zipWithIndex.filterNot(_._1.absent).groupBy(_._1.route).toSeq.sortBy(_._1)
      .flatMap { case (_, qs) => qs.sortBy(_._2).take(ProbesPerRoute) }
      .map { case (q, i) =>
        val ms = send(http, port, q, expect, tally)
        Probed(q.route, ms, directCall(hive, spans, q, i))
      }

  /** Sends one request, checks the answer, returns its latency in ms. */
  private def send(http: HttpClient, port: Int, q: Request, expect: Expected,
      tally: Tally): Double = {
    val t0 = System.nanoTime()
    try {
      val resp = http.send(
        // worker ids carry '#', which a URI would read as a fragment
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${q.path.replace("#", "%23")}"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      expect.check(q, resp.statusCode(), resp.body()) match {
        case None => tally.ok()
        case Some(why) => tally.fail(s"${q.path}: $why")
      }
      ms
    } catch {
      case e: Exception =>
        tally.fail(s"${q.path}: ${e.getClass.getSimpleName}: ${e.getMessage}")
        (System.nanoTime() - t0) / 1e6
    }
  }

  /** The route's own `TaskHive` call, phase by phase. */
  private def directCall(hive: TaskHive, spans: Spans, q: Request, i: Int): Direct = {
    val sc = hive.spark.sparkContext
    val op = spans.newOp()
    val tag = s"api/${q.route}/$i"
    val (direct, _) = spans.span(s"api.${q.route}", op) { parent =>
      val (df, c) = spans.span("construct", op, parent) { _ =>
        Ledger.tagged(sc, s"$tag/construct")(build(hive, q))
      }
      val js = df.toJSON
      val (_, p) = spans.span("plan", op, parent) { _ =>
        Ledger.tagged(sc, s"$tag/plan")(js.queryExecution.executedPlan)
      }
      val (rows, x) = spans.span("execute", op, parent) { _ =>
        Ledger.tagged(sc, s"$tag/execute")(js.collect())
      }
      val (_, s) = spans.span("serialise", op, parent) { _ => rows.mkString("[", ",", "]") }
      Direct(c.ms, p.ms, x.ms, s.ms, tag)
    }
    direct
  }

  private def build(hive: TaskHive, q: Request): DataFrame = {
    val path = q.path.takeWhile(_ != '?')
    q.route match {
      case "get_task" => hive.getTaskByID(path.stripPrefix("/api/tasks/"))
      case "list_tasks" =>
        val status = q.path.dropWhile(_ != '?').drop(1).split('&')
          .collectFirst { case kv if kv.startsWith("status=") => kv.stripPrefix("status=") }
          .filter(_.nonEmpty)
        hive.listTasks(status, 100)
      case "worker_tasks" => hive.getWorkerTasks(path.stripPrefix("/api/workers/"))
      case "stats" => hive.getTaskStats()
      case "list_workers" => hive.listWorkers()
    }
  }

  /** Per-layer metrics: load figures from the traced window, per-op
    * figures from the probed direct calls. */
  private def layers(ctx: Ctx, reqs: IndexedSeq[Request], w: Window, load: Work,
      probed: Seq[Probed], ledger: Ledger, spans: Spans, untracedP50: Double): Seq[Metric] = {
    val tags = ledger.tags
    // share of each route in the seeded stream: pooled per-op figures
    // are weighted by it, so they do not depend on how far a run got
    val share = reqs.groupBy(_.route).map { case (r, xs) => r -> xs.size.toDouble / reqs.size }
    def workOf(d: Direct, phase: Option[String]): Work =
      Work.sum(tags.collect {
        case (t, wk) if t.startsWith(d.tag + "/") && phase.forall(p => t == s"${d.tag}/$p") => wk
      })
    val routes = probed.map(_.route).distinct.sorted
    val perRoute = routes.map { r =>
      val ds = probed.filter(_.route == r).map(_.direct)
      val works = ds.map(workOf(_, None))
      val cJobs = ds.map(workOf(_, Some("construct")).jobs.toDouble)
      r -> Map(
        "construct_ms" -> Stats.median(ds.map(_.constructMs)),
        "construct_jobs" -> Stats.median(cJobs),
        "plan_ms" -> Stats.median(ds.map(_.planMs)),
        "exec_ms" -> Stats.median(ds.map(_.execMs)),
        "jobs_per_op" -> Stats.median(works.map(_.jobs.toDouble)),
        "stages_per_op" -> Stats.median(works.map(_.stages.toDouble)),
        "tasks_per_op" -> Stats.median(works.map(_.tasks.toDouble)),
        "scan_bytes_per_op" -> Stats.median(works.map(_.inputBytes.toDouble)),
        "task_run_ms_per_op" -> Stats.median(works.map(_.runMs.toDouble)),
        "task_cpu_ms_per_op" -> Stats.median(works.map(_.cpuNs / 1e6)),
        "gc_ms_per_op" -> Stats.median(works.map(_.gcMs.toDouble)),
        "shuffle_write_mb_per_op" -> Stats.median(works.map(_.shuffleWrite / 1e6)),
        "shuffle_read_mb_per_op" -> Stats.median(works.map(_.shuffleRead / 1e6)),
        "spill_mb_per_op" -> Stats.median(works.map(_.spillBytes / 1e6)),
        "input_mb_per_op" -> Stats.median(works.map(_.inputBytes / 1e6)),
        "http_overhead_ms" -> Stats.median(probed.filter(_.route == r)
          .map(p => p.httpMs - p.direct.totalMs)),
        "p50_ms" -> Stats.median(w.done.filter(_.route == r).map(_.ms) match {
          case Nil => probed.filter(_.route == r).map(_.httpMs)
          case xs => xs
        }))
    }.toMap
    def pooled(k: String): Double = routes.map(r => share(r) * perRoute(r)(k)).sum
    val tracedLat = w.done.map(_.ms)
    val overheadPct = 100 * (Stats.median(tracedLat) - untracedP50) / untracedP50
    val coreUtil = load.runMs / 1000.0 / (w.seconds * ctx.cores)
    val schedP99 = Stats.pct(load.schedDelayMs.toSeq, 0.99)
    writeTrace(ctx, spans, ledger)
    val generic = Seq(
      Metric("construct_ms", pooled("construct_ms"), "ms"),
      Metric("construct_jobs", pooled("construct_jobs"), "count"),
      Metric("plan_ms", pooled("plan_ms"), "ms"),
      Metric("exec_ms", pooled("exec_ms"), "ms"),
      Metric("jobs_per_op", pooled("jobs_per_op"), "count"),
      Metric("stages_per_op", pooled("stages_per_op"), "count"),
      Metric("tasks_per_op", pooled("tasks_per_op"), "count"),
      Metric("task_run_ms_per_op", pooled("task_run_ms_per_op"), "ms"),
      Metric("task_cpu_ms_per_op", pooled("task_cpu_ms_per_op"), "ms"),
      Metric("gc_ms_per_op", pooled("gc_ms_per_op"), "ms"),
      Metric("input_mb_per_op", pooled("input_mb_per_op"), "MB"),
      Metric("shuffle_write_mb_per_op", pooled("shuffle_write_mb_per_op"), "MB"),
      Metric("shuffle_read_mb_per_op", pooled("shuffle_read_mb_per_op"), "MB"),
      Metric("spill_mb_per_op", pooled("spill_mb_per_op"), "MB"),
      Metric("sched_delay_p99_ms", schedP99, "ms"),
      Metric("core_util", coreUtil, "ratio"),
      Metric("trace_overhead_pct", overheadPct, "%"))
    val detailed = Seq(
      Metric("api.construct_ms", pooled("construct_ms"), "ms"),
      Metric("api.construct_jobs", pooled("construct_jobs"), "count"),
      Metric("api.plan_ms", pooled("plan_ms"), "ms"),
      Metric("api.exec_ms", pooled("exec_ms"), "ms"),
      Metric("api.jobs_per_op", pooled("jobs_per_op"), "count"),
      Metric("api.stages_per_op", pooled("stages_per_op"), "count"),
      Metric("api.tasks_per_op", pooled("tasks_per_op"), "count"),
      Metric("api.scan_bytes_per_op", pooled("scan_bytes_per_op"), "B"),
      Metric("api.http_overhead_ms", pooled("http_overhead_ms"), "ms"),
      Metric("api.sched_delay_ms", schedP99, "ms"),
      Metric("api.core_util", coreUtil, "ratio")) ++
      routes.flatMap { r =>
        val m = perRoute(r)
        Seq(Metric(s"api.$r.p50_ms", m("p50_ms"), "ms"),
          Metric(s"api.$r.http_overhead_ms", m("http_overhead_ms"), "ms"),
          Metric(s"api.$r.construct_ms", m("construct_ms"), "ms"),
          Metric(s"api.$r.construct_jobs", m("construct_jobs"), "count"),
          Metric(s"api.$r.plan_ms", m("plan_ms"), "ms"),
          Metric(s"api.$r.exec_ms", m("exec_ms"), "ms"),
          Metric(s"api.$r.jobs_per_op", m("jobs_per_op"), "count"),
          Metric(s"api.$r.stages_per_op", m("stages_per_op"), "count"),
          Metric(s"api.$r.tasks_per_op", m("tasks_per_op"), "count"),
          Metric(s"api.$r.scan_bytes_per_op", m("scan_bytes_per_op"), "B"))
      }
    generic ++ detailed :+ Metric("api.traced_p50_ms", Stats.median(tracedLat), "ms")
  }

  def writeTrace(ctx: Ctx, spans: Spans, ledger: Ledger): Unit =
    Main.write(ctx.dir.resolve("trace.json"), Report.json(ListMap(
      "spans" -> spans.all.sortBy(_.id).map(s => ListMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "counters" -> Report.counters(ledger))))

  /** Answers derived from the generated rows alone. */
  final class Expected(t: TaskTables) {
    private def task(k: Int): String = {
      val w = t.workerOf(k).map(n => s""","worker_id":"$n"""").getOrElse("")
      s"""{"id":"$k","status":${t.taskStatus(k)},"priority":${t.priority(k)},"retry_count":${k % 4}$w}"""
    }
    private val codes = Map("pending" -> 0, "processing" -> 1, "completed" -> 2,
      "failed" -> 3, "delayed" -> 4)
    private val listByStatus: Map[Option[Int], JsonNode] = {
      val order = (0 until t.nOrders).sortBy(k => (-t.priority(k), k.toString))
      (None +: codes.values.toSeq.map(Some(_))).map { s =>
        s -> parse(order.iterator.filter(k => s.forall(_ == t.taskStatus(k))).take(100)
          .map(k => s"""{"id":"$k","status":${t.taskStatus(k)},"priority":${t.priority(k)}}""")
          .mkString("[", ",", "]"))
      }.toMap
    }
    private val stats = parse((0 until t.nOrders).groupBy(t.taskStatus).toSeq.sortBy(_._1)
      .map { case (s, ks) => s"""{"status":$s,"cnt":${ks.size}}""" }.mkString("[", ",", "]"))
    private val workers = parse((0 until t.nSup).map(s => t.workerName(s) -> s).sortBy(_._1)
      .map { case (n, s) =>
        s"""{"worker_id":"$n","task_count":${s % 11},"capacity":10,"is_active":${s % 60 > 10}}"""
      }.mkString("[", ",", "]"))
    private val byWorker: Map[String, JsonNode] =
      (0 until t.nOrders).filter(t.taskStatus(_) == 1).groupBy(k => t.workerName(k % t.nSup))
        .map { case (w, ks) =>
          w -> parse(ks.sortBy(_.toString).map { k =>
            s"""{"id":"$k","priority":${t.priority(k)},"create_time":"${t.createTime(k)}","worker_id":"$w"}"""
          }.mkString("[", ",", "]"))
        }

    private def parse(s: String): JsonNode = Report.mapper.readTree(s)

    /** None when the response is right, else why it is wrong. */
    def check(q: Request, code: Int, body: String): Option[String] = {
      val path = q.path.takeWhile(_ != '?')
      val want: Either[Int, JsonNode] = q.route match {
        case "get_task" =>
          val id = path.stripPrefix("/api/tasks/").toInt
          if (id >= t.nOrders) Left(404) else Right(parse(task(id)))
        case "list_tasks" =>
          val s = q.path.dropWhile(_ != '?').drop(1).split('&')
            .collectFirst { case kv if kv.startsWith("status=") => kv.stripPrefix("status=") }
            .filter(_.nonEmpty)
          Right(listByStatus(s.map(codes)))
        case "worker_tasks" =>
          Right(byWorker.getOrElse(path.stripPrefix("/api/workers/"), parse("[]")))
        case "stats" => Right(stats)
        case "list_workers" => Right(workers)
      }
      want match {
        case Left(c) => if (code == c) None else Some(s"status $code, want $c")
        case Right(node) =>
          if (code != 200) Some(s"status $code: ${body.take(200)}")
          else if (parse(body) != node) Some(s"body differs: ${body.take(200)}")
          else None
      }
    }
  }
}
