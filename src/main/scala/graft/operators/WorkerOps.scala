package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Worker-side query layer: liveness, capacity, load, assignment joins —
  * the Spark re-expression of /root/reference/tasks/api.go:243-310 and
  * the dispatcher's worker selection (/root/reference/tasks/dispatcher.go:515-655).
  *
  * `workers` is a bounded dim table, so every join here is a broadcast
  * join — zero shuffle of the (large) task side at any scale.
  */
object WorkerOps {

  private def asOfTs = expr(s"TIMESTAMP '${Tables.AsOf}'")

  /** P5: ListWorkers with is_active = heartbeat age < 30s
    * (tasks/api.go:243-277). */
  def activeWorkers(spark: SparkSession, sfDir: String): DataFrame =
    workerLiveness(spark, sfDir).orderBy("worker_id")

  /** [[activeWorkers]] unsorted. */
  private[graft] def workerLiveness(spark: SparkSession, sfDir: String): DataFrame =
    Tables.workers(spark, sfDir)
      .select(col("worker_id"), col("task_count"), col("capacity"),
        (col("last_heartbeat") > asOfTs - expr("INTERVAL 30 SECONDS"))
          .as("is_active"))

  /** P3/P4: capacity-gated workers (tasks/dispatcher.go:536-544) with
    * the negative-count clamp. */
  def availableWorkers(spark: SparkSession, sfDir: String): DataFrame =
    Tables.workers(spark, sfDir)
      .withColumn("task_count", greatest(lit(0), col("task_count")))
      .filter(col("capacity") > 0 && col("task_count") < col("capacity"))
      .select("worker_id", "task_count", "capacity")
      .orderBy("worker_id")

  /** F7: heartbeat age in seconds vs the fixed as-of instant
    * (tasks/api.go:263). */
  def heartbeatAge(spark: SparkSession, sfDir: String): DataFrame =
    Tables.workers(spark, sfDir)
      .select(col("worker_id"),
        (unix_timestamp(asOfTs) - unix_timestamp(col("last_heartbeat")))
          .as("age_sec"))
      .orderBy("worker_id")

  /** A2 (batch analog): per-worker in-flight count — groupBy over
    * processing tasks replaces the reference's CAS counter loop
    * (tasks/worker.go:168-226). */
  def workerLoad(spark: SparkSession, sfDir: String): DataFrame =
    Tables.assignedTasks(spark, sfDir)
      .filter(col("status") === Tables.Processing)
      .groupBy("worker_id")
      .agg(count(lit(1)).as("n_tasks"))
      .orderBy("worker_id")

  /** Unpivot/melt: the workers matrix in long form — one (worker,
    * metric, value) row per numeric column. Narrow generate (each row
    * fans out to |metrics| rows map-side, no shuffle). */
  def workerMetricsLong(spark: SparkSession, sfDir: String): DataFrame =
    Tables.workers(spark, sfDir)
      .select("worker_id", "capacity", "task_count")
      .unpivot(Array(col("worker_id")),
        Array(col("capacity"), col("task_count")), "metric", "value")
      .orderBy("worker_id", "metric")

  /** workerLoad under key skew: two-phase salted aggregation — partial
    * counts on (worker_id, salt) spread a hot worker over 8 reducers,
    * then a tiny final combine. Identical results to workerLoad (same
    * oracle); the 100 TB answer to a skewed worker_id distribution. */
  def workerLoadSalted(spark: SparkSession, sfDir: String): DataFrame =
    Tables.assignedTasks(spark, sfDir)
      .filter(col("status") === Tables.Processing)
      .withColumn("salt", pmod(xxhash64(col("id")), lit(8)))
      .groupBy("worker_id", "salt")
      .agg(count(lit(1)).as("c"))
      .groupBy("worker_id")
      .agg(sum("c").as("n_tasks"))
      .orderBy("worker_id")

  /** A3: least-loaded worker argmin (tasks/dispatcher.go:612-633) with a
    * deterministic worker_id tiebreak. TakeOrdered(1) — no global sort. */
  def leastLoadedWorker(spark: SparkSession, sfDir: String): DataFrame =
    Tables.workers(spark, sfDir)
      .select("worker_id", "task_count")
      .orderBy(asc("task_count"), asc("worker_id"))
      .limit(1)

  /** J1: task ⋈ worker on the materialized assignment
    * (tasks/dispatcher.go:580). Broadcast hash join on the dim side. */
  def workerTasksJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.assignedTasks(spark, sfDir)
      .filter(col("status") === Tables.Processing)
      .select("id", "priority", "worker_id")
    val w = Tables.workers(spark, sfDir)
      .select("worker_id", "task_count", "capacity")
    t.join(broadcast(w), Seq("worker_id"))
      .select("worker_id", "id", "priority", "task_count", "capacity")
      .orderBy("worker_id", "id")
  }

  /** J2 list form: the reference's GetWorkerTasks API returns the task
    * LIST per worker (tasks/api.go:203-232) — here as the array-agg
    * surface: sorted task ids collapsed per worker. Emitted as a
    * comma-joined string (cross-engine array renderings differ; the
    * join is the deterministic compare). One hash aggregation; arrays
    * stay bounded by worker capacity, so the agg buffer is small at
    * any corpus scale. */
  def workerTaskIds(spark: SparkSession, sfDir: String): DataFrame =
    Tables.assignedTasks(spark, sfDir)
      .filter(col("status") === Tables.Processing && col("worker_id").isNotNull)
      .groupBy("worker_id")
      .agg(concat_ws(",", sort_array(collect_list(col("id")))).as("task_ids"),
        count(lit(1)).as("n_tasks"))
      .orderBy("worker_id")

  /** ST5 (batch analog): orphaned in-flight tasks — processing tasks
    * whose worker is no longer live (tasks/dispatcher.go:657-708), as a
    * broadcast left-anti join. */
  def orphanedTasks(spark: SparkSession, sfDir: String): DataFrame = {
    val live = Tables.workers(spark, sfDir)
      .filter(col("last_heartbeat") > asOfTs - expr("INTERVAL 30 SECONDS"))
      .select("worker_id")
    Tables.assignedTasks(spark, sfDir)
      .filter(col("status") === Tables.Processing)
      .join(broadcast(live), Seq("worker_id"), "left_anti")
      .select("id", "worker_id", "priority")
      .orderBy("id")
  }
}
