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
