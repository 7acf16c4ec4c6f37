package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.DataFrame

/** The reference's HTTP serving loop (api/server.go:20-30: five routes
  * over the task/worker query API) as a THIN shell over [[TaskHive]] —
  * JDK built-in HttpServer, zero new dependencies.
  *
  * Route table (mirroring server.go):
  *  - GET /api/tasks?status=&limit=  → [[TaskHive.listTasks]]
  *    (server.go:32-51: default limit 100, both params optional)
  *  - GET /api/tasks/{id}            → [[TaskHive.getTaskByID]]
  *    (server.go:53-68: empty id → 400; no row → 404)
  *  - GET /api/stats                 → [[TaskHive.getTaskStats]]
  *  - GET /api/workers               → [[TaskHive.listWorkers]]
  *  - GET /api/workers/{id}          → [[TaskHive.getWorkerTasks]]
  *    (server.go:92-107: empty id → 400)
  *
  * Design boundary (SURVEY.md §2.1 S11): serving is NOT an engine
  * concern — every route body is exactly one TaskHive query plus
  * Spark's canonical row→JSON encoding (`Dataset.toJSON`), so the
  * façade adds no query logic that could fork from the oracle-gated
  * plans (HttpFacadeSpec asserts each route's bytes equal the direct
  * query's toJSON). The terminal collect is the one place the engine
  * legitimately drives rows to a single process: an API response is
  * driver-sized by contract (limits / point lookups / dim-sized
  * reports — the same bound the reference's etcd range reads have).
  * A production deployment would put this shell on the driver of a
  * long-running session (or swap it for Livy/Connect); the engine
  * surface underneath is unchanged.
  *
  * Served once per facade: `GET /api/stats` and `GET /api/workers`
  * take no parameter, and a [[TaskHive]] serves its first-use snapshot
  * for its whole life (its "Snapshot lifetime"), so their query answers
  * the same rows on every call. The facade runs each of them on the
  * route's first request and serves the stored body from then on, with
  * no Spark job. The body is the same bytes the query gives, so this is
  * exact. A first request that fails stores nothing and the next one
  * runs the query again. Every other route runs its query per request.
  */
final class HttpFacade(hive: TaskHive) {

  @volatile private var server: HttpServer = _
  @volatile private var pool: ExecutorService = _

  /** JSON array of the frame's rows in Spark's canonical encoding. */
  private def toJsonArray(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  private lazy val statsBody = toJsonArray(hive.getTaskStats())
  private lazy val workersBody = toJsonArray(hive.listWorkers())

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def handle(ex: HttpExchange)(f: => (Int, String)): Unit =
    try {
      val (code, body) = f
      respond(ex, code, body)
    } catch {
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${jsonStr(e.getMessage)}}""")
    } finally ex.close()

  private def jsonStr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.contains('='))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  /** Bind and serve; port 0 picks an ephemeral port. Returns the bound
    * port. Handlers run on a small fixed pool of `graft-http-<n>`
    * threads — each request is at most one Spark action, and the driver
    * is the bottleneck by design. [[stop]] shuts the pool down, so a
    * stopped facade leaves no thread that keeps the JVM alive. */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    pool = Executors.newFixedThreadPool(4, (r: Runnable) =>
      new Thread(r, s"graft-http-${HttpFacade.threadIds.incrementAndGet()}"))
    server.setExecutor(pool)

    // JDK context matching is longest-prefix, so "/api/tasks" receives
    // "/api/tasks/{id}" too — branch on the remaining path like
    // server.go's handler pair does.
    server.createContext("/api/tasks", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/tasks")
      if (path.isEmpty || path == "/") {
        val p = queryParams(ex)
        val limit = p.get("limit").flatMap(_.toIntOption).filter(_ > 0)
          .getOrElse(100)
        (200, toJsonArray(hive.listTasks(p.get("status").filter(_.nonEmpty), limit)))
      } else {
        val id = path.stripPrefix("/")
        if (id.isEmpty) (400, """{"error":"task id required"}""")
        else {
          val rows = hive.getTaskByID(id).toJSON.collect()
          if (rows.isEmpty) (404, s"""{"error":"task not found"}""")
          else (200, rows.head)
        }
      }
    })
    server.createContext("/api/stats", (ex: HttpExchange) => handle(ex) {
      (200, statsBody)
    })
    server.createContext("/api/workers", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/workers")
      if (path.isEmpty || path == "/") (200, workersBody)
      else {
        val id = path.stripPrefix("/")
        if (id.isEmpty) (400, """{"error":"worker id required"}""")
        else (200, toJsonArray(hive.getWorkerTasks(id)))
      }
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      server = null
      pool.shutdown()
      pool = null
    }
  }
}

object HttpFacade {
  private val threadIds = new AtomicInteger(0)
}
