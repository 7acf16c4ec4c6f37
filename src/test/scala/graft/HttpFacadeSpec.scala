package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP façade's five routes (reference api/server.go:20-30) must
  * serve EXACTLY the underlying TaskHive queries' canonical JSON — the
  * façade is a shell, never a second query engine.
  */
class HttpFacadeSpec extends SparkSuite {

  private def get(port: Int, path: String): (Int, String) = {
    val client = HttpClient.newHttpClient()
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def arr(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  test("all five routes serve the direct query's JSON; missing/empty ids error") {
    val hive = TaskHive(spark, sf)
    val facade = new HttpFacade(hive)
    val port = facade.start()
    try {
      // GET /api/tasks (default limit 100) and with params
      assert(get(port, "/api/tasks") == ((200, arr(hive.listTasks()))))
      assert(get(port, "/api/tasks?status=pending&limit=7") ==
        ((200, arr(hive.listTasks(Some("pending"), 7)))))

      // GET /api/tasks/{id}: single object, byte-equal to the query row
      val anyId = hive.listTasks(Some("processing"), 1).collect().head.getString(0)
      val (c1, b1) = get(port, s"/api/tasks/$anyId")
      assert(c1 == 200 && b1 == hive.getTaskByID(anyId).toJSON.collect().head)
      assert(get(port, "/api/tasks/no_such_task")._1 == 404)

      // GET /api/stats
      assert(get(port, "/api/stats") == ((200, arr(hive.getTaskStats()))))

      // GET /api/workers and /api/workers/{id}
      assert(get(port, "/api/workers") == ((200, arr(hive.listWorkers()))))
      // worker ids carry '#' (Supplier#...) — a real client URL-encodes
      // the path segment; getPath hands the façade the decoded id
      val anyWorker = hive.listWorkers().collect().head.getString(0)
      val encWorker = java.net.URLEncoder.encode(anyWorker, "UTF-8")
        .replace("+", "%20")
      assert(get(port, s"/api/workers/$encWorker") ==
        ((200, arr(hive.getWorkerTasks(anyWorker)))))

      // the stats route returns one row per populated status, like
      // GetTaskStats (api.go:200-240) — sanity that content is real
      assert(get(port, "/api/stats")._2.contains("\"cnt\""))
    } finally {
      facade.stop()
      hive.close()
    }
  }

  test("a fresh facade's first GET /api/workers starts one Spark job") {
    val hive = TaskHive(spark, sf)
    val facade = new HttpFacade(hive)
    val port = facade.start()
    try
      assert(jobsOfQueriesFrom(classOf[HttpFacade]) {
        assert(get(port, "/api/workers")._1 == 200)
      } == 1)
    finally {
      facade.stop()
      hive.close()
    }
  }

  /** One warm request per route, then the Spark jobs each route starts
    * for a request with a value it has not seen yet. */
  test("a warm request starts at most one Spark job; stats and workers start none") {
    val hive = TaskHive(spark, sf)
    val facade = new HttpFacade(hive)
    val port = facade.start()
    def jobs(path: String, code: Int = 200): Int =
      jobsOfQueriesFrom(classOf[HttpFacade]) {
        assert(get(port, path)._1 == code, path)
      }
    try {
      val ids = hive.listTasks(Some("processing"), 2).collect().map(_.getString(0))
      val workers = hive.listWorkers().collect().map(_.getString(0)).take(2)
        .map(java.net.URLEncoder.encode(_, "UTF-8"))
      // the first stats request runs its query: the counter sees it
      assert(jobs("/api/stats") > 0)
      Seq(s"/api/tasks/${ids(0)}", "/api/tasks?status=pending&limit=5",
        "/api/workers", s"/api/workers/${workers(0)}").foreach(get(port, _))
      assert(jobs("/api/tasks/no_such_task", 404) == 1)
      assert(jobs(s"/api/tasks/${ids(1)}") == 1)
      assert(jobs("/api/tasks?status=processing&limit=5") == 1)
      assert(jobs(s"/api/workers/${workers(1)}") == 1)
      assert(jobs("/api/stats") == 0)
      assert(jobs("/api/workers") == 0)
    } finally {
      facade.stop()
      hive.close()
    }
  }

  test("20 new task ids and 20 new worker ids compile no new classes") {
    val hive = TaskHive(spark, "/root/testdata/sf0.01")
    val facade = new HttpFacade(hive)
    val port = facade.start()
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    try {
      val ids = hive.listTasks(None, 22).collect().map(_.getString(0))
      val workers = hive.listWorkers().collect().map(_.getString(0)).take(22)
        .map(java.net.URLEncoder.encode(_, "UTF-8"))
      assert(ids.distinct.length == 22 && workers.distinct.length == 22)
      val paths = ids.map(id => s"/api/tasks/$id") ++ workers.map(w => s"/api/workers/$w")
      // warm-up: two values of each route
      Seq(paths(0), paths(1), paths(22), paths(23)).foreach(p => assert(get(port, p)._1 == 200))
      val before = compiles
      (paths.slice(2, 22) ++ paths.slice(24, 44)).foreach(p => assert(get(port, p)._1 == 200, p))
      assert(compiles - before == 0)
    } finally {
      facade.stop()
      hive.close()
    }
  }

  test("stop() ends the facade's handler threads") {
    def httpThreads() = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(_.getName.startsWith("graft-http-")).toSeq
    val hive = TaskHive(spark, sf)
    val facade = new HttpFacade(hive)
    val port = facade.start()
    try {
      assert(get(port, "/api/stats")._1 == 200)
      assert(httpThreads().nonEmpty, "handlers run on graft-http-* threads")
    } finally {
      facade.stop()
      hive.close()
    }
    val left = httpThreads()
    left.foreach(_.join(10000L))
    assert(left.forall(!_.isAlive), s"still alive: ${left.filter(_.isAlive).map(_.getName)}")
  }
}
