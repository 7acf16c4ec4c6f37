package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Exprs
import graft.sources.Tables

/** The reference's public API surface, one method per exported entry
  * point, so a user of the reference can switch libraries and call the
  * same operations by the same names — parameterized (real ids/status/
  * limits, unlike the fixed-parameter oracle queries in [[SparkEntry]],
  * which pin one instantiation of each plan for the correctness gate).
  *
  * Reference mapping:
  *  - `New`/`DefaultConfig` (taskhive/taskhive.go:48-91) → [[TaskHive.apply]]
  *  - `SubmitTask` (taskhive/taskhive.go:248-251) → [[submitTasks]]
  *  - `RegisterTaskProcessor` (taskhive/taskhive.go:253-255) →
  *    [[registerTaskProcessor]] (session UDF registry,
  *    [[graft.functions.Processors]])
  *  - `Start` (taskhive/taskhive.go:150-212: dispatcher election +
  *    workers + watch loops) → [[start]] (the Structured Streaming
  *    lifecycle engine; exactly-once replaces election/CAS entirely)
  *  - `GetTaskByID` (tasks/api.go:43) → [[getTaskByID]] (durable table)
  *    and [[getLiveTaskStatus]] (the api.go:43-111 live-processing
  *    probe + readme.txt:19 TODO #1: the RUNNING engine's state)
  *  - `ListTasks` (tasks/api.go:114) → [[listTasks]]
  *  - `GetTaskStats` (tasks/api.go:200) → [[getTaskStats]]
  *  - `ListWorkers` (tasks/api.go:243) → [[listWorkers]]
  *  - `GetWorkerTasks` (tasks/api.go:280) → [[getWorkerTasks]]
  *
  * Every method returns a lazy DataFrame (the Spark-first contract:
  * callers compose/collect as needed); plans are identical in shape to
  * the oracle-gated queries (status prefix scans = pushed filters,
  * limits = TakeOrdered), except that a task's worker comes from the
  * instance's worker mapping, not a broadcast join (see below).
  *
  * Snapshot lifetime: an instance resolves its directory's file listing
  * and parquet schemas on first use and serves that snapshot for its
  * lifetime, so a request pays no listing or schema-inference job. To
  * see a directory rewritten in place, construct a new `TaskHive` (as
  * a [[graft.operators.Memo]] entry needs `Memo.invalidate`).
  *
  * Worker mapping: the same holds for the `s_suppkey → worker_id`
  * mapping behind [[getTaskByID]] and [[getWorkerTasks]]. An instance
  * collects it once, on first use, and derives each processing task's
  * `worker_id` from it by an array lookup, with the same answer as
  * [[Tables.assignedTasks]]' broadcast join. The join rebuilt its
  * broadcast on every request, a Spark job of its own. The mapping
  * holds the same `(s_suppkey, worker_id)` pairs that the broadcast
  * shipped on every request, in fewer than 2 × |supplier| slots, so it
  * adds no new scale limit. A `supplier` table that repeats an
  * `s_suppkey` would give the join several rows per task and cannot be
  * a mapping: first use throws `IllegalArgumentException` instead.
  */
final class TaskHive private (val spark: SparkSession, val dir: String) {

  // Base relations of the read routes, resolved once per instance (see
  // "Snapshot lifetime"); each route derives a fresh DataFrame from them.
  private lazy val tasks = Tables.tasks(spark, dir)
  private lazy val workers = operators.WorkerOps.workerLiveness(spark, dir)

  /** [[Tables.assignedTasks]] with the broadcast join replaced by a
    * lookup in the instance's worker mapping (see "Worker mapping"). */
  private[graft] lazy val assignedTasks: DataFrame = {
    val sup = Tables.workers(spark, dir)
      .select(col("s_suppkey").cast("long"), col("worker_id")).collect()
    // the join's modulus is the supplier row count, null keys included
    val n = sup.length
    val keyed = sup.filterNot(_.isNullAt(0)).map(r => r.getLong(0) -> r.getString(1))
    val repeated = keyed.groupBy(_._1).collect { case (k, v) if v.length > 1 => k }
    require(repeated.isEmpty, s"$dir/supplier.parquet repeats s_suppkey " +
      s"${repeated.toSeq.sorted.take(5).mkString(", ")}: a task would have several workers")
    // o_orderkey % n lies in (-n, n), so only those keys can match; slot
    // k + n - 1 holds key k's worker. An array index, not a map literal:
    // Spark looks a map key up by scanning every key.
    val slots = new Array[String](math.max(2 * n - 1, 0))
    for ((k, w) <- keyed if k > -n && k < n) slots((k + n - 1).toInt) = w
    tasks.withColumn("worker_id", when(col("status") === Tables.Processing,
      get(typedLit(slots.toSeq), (col("o_orderkey") % n.toLong + (n - 1)).cast("int"))))
  }

  /** GetTaskByID (api.go:43-111): point lookup incl. worker extract. */
  def getTaskByID(id: String): DataFrame =
    assignedTasks
      .filter(col("id") === id)
      .select("id", "status", "priority", "retry_count", "worker_id")

  /** ListTasks (api.go:114-159): one status partition, or all five
    * unioned for the empty filter, globally ordered + limited. */
  def listTasks(status: Option[String] = None, limit: Int = 100): DataFrame = {
    val t = tasks.select("id", "status", "priority")
    val filtered = status match {
      case Some(s) => t.filter(col("status") === Exprs.statusCode(lit(s)))
      case None => t
    }
    filtered.orderBy(desc("priority"), asc("id")).limit(limit)
  }

  /** GetTaskStats (api.go:200-240): per-status counts. Like
    * [[getWorkerTasks]], the small answer is sorted in one partition. */
  def getTaskStats(): DataFrame =
    tasks.groupBy("status")
      .agg(count(lit(1)).as("cnt")).coalesce(1).sortWithinPartitions("status")

  /** ListWorkers (api.go:243-277): worker dim + liveness flag. The
    * ~1 k worker rows are sorted inside one partition, as
    * [[getWorkerTasks]] sorts its answer. */
  def listWorkers(): DataFrame =
    workers.coalesce(1).sortWithinPartitions("worker_id")

  /** GetWorkerTasks (api.go:280-310): one worker's in-flight tasks.
    * The answer is small (a worker holds at most a few hundred tasks),
    * so it is sorted inside one partition: a global `orderBy` would run
    * a sampling job and a range shuffle for it. */
  def getWorkerTasks(workerId: String): DataFrame =
    assignedTasks
      .filter(col("status") === Tables.Processing &&
        col("worker_id") === workerId)
      .select("id", "priority", "create_time", "worker_id")
      .coalesce(1).sortWithinPartitions("id")

  /** SubmitTask (taskhive.go:248-251), batch form: normalize incoming
    * rows to the full task schema with the reference's defaults
    * (priority 5, status pending, retry_count 0, create_time now —
    * model.go:24-38), column-ordered like [[Tables.tasks]] so the frame
    * appends via `tasks.unionByName(submitted, allowMissingColumns =
    * true)` (the fixture task table carries extra derived columns and
    * no payload; the streaming engine takes payload directly). */
  def submitTasks(payloads: DataFrame): DataFrame = {
    require(payloads.columns.contains("id") &&
      payloads.columns.contains("payload"),
      "submitTasks expects columns (id, payload[, priority, task_type])")
    val withPrio =
      if (payloads.columns.contains("priority")) payloads
      else payloads.withColumn("priority", lit(5))
    val withType =
      if (withPrio.columns.contains("task_type")) withPrio
      else withPrio.withColumn("task_type", lit("default"))
    // submission time captured ONCE here, not current_timestamp():
    // that expression re-evaluates at every action, so the same
    // returned frame materialized twice (task table + engine feed)
    // would stamp the same task with two different create_times
    val submittedAt = lit(java.sql.Timestamp.from(java.time.Instant.now()))
    withType.select(col("id").cast("string").as("id"),
      col("priority").cast("int").as("priority"),
      lit(Tables.Pending).as("status"),
      submittedAt.as("create_time"),
      col("task_type"),
      lit(0).as("retry_count"),
      col("payload"))
  }

  /** RegisterTaskProcessor (taskhive.go:253-255): install a processor
    * for a TASK TYPE — the reference's registry key (worker.go:30-32).
    * The body becomes a session UDF and the type→processor entry is
    * recorded on this instance so [[processTasks]]' dispatch CASE
    * includes it; re-registering a type replaces its entry (last-wins,
    * like the Go map assignment). */
  def registerTaskProcessor(taskType: String, f: String => String): Unit =
    synchronized {
      val name = functions.Processors.userProcName(instanceTag, taskType)
      spark.udf.register(name, udf(f))
      userProcs.put(taskType, name)
    }

  private val userProcs =
    scala.collection.mutable.LinkedHashMap.empty[String, String]
  // distinct per facade instance so two TaskHives on one SparkSession
  // never share (and never clobber) each other's processor UDFs
  private val instanceTag = s"i${TaskHive.instanceIds.incrementAndGet()}"

  /** Release this facade's session-global UDF registrations (the
    * instance-tagged names would otherwise accumulate for the session's
    * lifetime — a slow leak under a construct-per-request pattern).
    * Mirrors the reference's `Stop` teardown (taskhive.go:215-246). */
  def close(): Unit = synchronized {
    userProcs.values.foreach { name =>
      spark.sessionState.catalog.dropTempFunction(name, ignoreIfNotExists = true)
    }
    userProcs.clear()
  }

  /** The worker processing pass (worker.go:228-260): dispatch every
    * task to the processor registered for its type — built-ins plus
    * everything installed via [[registerTaskProcessor]] (user entries
    * override built-ins for the same type); unregistered types hit the
    * registry-miss → failed path (worker.go:241-251). Same plan shape
    * as the oracle-gated `process_dispatch_udf` (one narrow projection,
    * CASE built once at plan time). */
  def processTasks(): DataFrame = synchronized {
    val mapping = functions.Processors.typeToProcessor
      .filterNot { case (t, _) => userProcs.contains(t) } ++ userProcs.toSeq
    tasks
      .select(col("id"), col("task_type"),
        functions.Processors.dispatch(col("id"), col("task_type"), mapping)
          .as("result"),
        functions.Processors.newStatus(col("task_type"), mapping)
          .as("new_status"))
      .orderBy("id")
  }

  /** GetTaskByID's LIVE half — the reference's TODO #1
    * (readme.txt:19: query a task's status by id) and GetTaskByID's
    * probe of the PROCESSING partition on the live system
    * (tasks/api.go:43-111). [[getTaskByID]] reads the durable table;
    * this reads the RUNNING engine's in-flight state: Spark's State
    * Data Source scans the lifecycle engine's state store from the
    * query's checkpoint — the last COMMITTED micro-batch's snapshot,
    * safe while the query runs (what an operator asks at 3am: "what is
    * task X doing RIGHT NOW?").
    *
    * Scale: the state source reads the store's shards directly (one
    * task per row, sharded by task_id across executors) and the id
    * filter prunes to one key — never a replay of the transition log. */
  def getLiveTaskStatus(checkpointDir: String, id: String): DataFrame =
    liveTaskStates(checkpointDir).filter(col("task_id") === id)

  /** Every in-flight task the running engine holds in state (the
    * un-filtered form of [[getLiveTaskStatus]]): one row per task key
    * with its current lifecycle state. */
  def liveTaskStates(checkpointDir: String): DataFrame =
    spark.read.format("statestore").load(checkpointDir)
      .select(col("key.value").as("task_id"),
        col("value.groupState.status").as("status"),
        col("value.groupState.retryCount").as("retry_count"),
        col("value.groupState.workerId").as("worker_id"))

  /** Start (taskhive.go:150-212): run the lifecycle state machine over
    * a task-event stream into a checkpointed parquet transition log —
    * Structured Streaming's exactly-once replaces the reference's
    * leader election, CAS loops and watch threads.
    *
    * Checkpoint, state-store and sink files go through the session's
    * `file:` binding. A session built by [[GraftSession]] writes them
    * without forking processes ([[sources.LocalFiles]]); any other
    * session keeps Hadoop's local file system, which forks a `chmod` or
    * `readlink` process per file without native `libhadoop`. */
  def start(events: org.apache.spark.sql.Dataset[streaming.TaskEngine.TaskEvent],
      checkpointDir: String, outDir: String): StreamingQuery =
    streaming.TaskEngine.transitions(spark, events)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .format("parquet").option("path", outDir)
      .start()
}

object TaskHive {
  private val instanceIds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** DefaultConfig + New (taskhive.go:48-91). */
  def apply(spark: SparkSession, dir: String): TaskHive = {
    GraftExtensions.register(spark)
    functions.Processors.register(spark)
    new TaskHive(spark, dir)
  }
}
