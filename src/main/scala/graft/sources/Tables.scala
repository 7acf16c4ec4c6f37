package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture readers plus the deterministic derivation of reference-shaped
  * entities (`tasks`, `workers`, assignment) from the driver's star-schema
  * parquet fixtures. The derivation is mirrored verbatim in
  * [[graft.Oracles.CTE]] so the DuckDB oracle sees byte-identical inputs
  * (FIXTURES.md §C).
  *
  * Reference data model being re-expressed:
  *  - Task record: /root/reference/model/model.go:11-22 (id, payload,
  *    priority 1-10 default 5, status enum, createTime, retryCount, type).
  *  - Status enum 0=pending 1=processing 2=completed 3=failed 4=delayed:
  *    /root/reference/common/constants.go:37-46.
  *  - Worker record: /root/reference/tasks/worker.go:21-27 (ID, TaskCount,
  *    LastHeartbeat, Capacity; default capacity 10:
  *    /root/reference/taskhive/taskhive.go:52).
  *  - Task↔worker assignment is materialized in the etcd key
  *    `/tasks/processing/{workerID}/{taskID}`
  *    (/root/reference/tasks/dispatcher.go:580); here it is a nullable
  *    `worker_id` column on processing-status rows.
  *
  * Scale notes (100 TB): every derivation below is a narrow projection or
  * a broadcast join against the `supplier` dim — no wide shuffle. At
  * production scale `tasks` would be a parquet table partitioned by
  * (status, date) so the per-status scans in the query layer become
  * partition-pruned reads (the Spark analog of the reference's key-prefix
  * partitioning, /root/reference/common/constants.go:5-14).
  */
object Tables {

  /** Scale-adaptive partition count for the EXPLICIT range/hash
    * repartitions in query paths (round-17, guide §2.2/§2.5): the
    * former hard-coded 32 was tuned to local[32] — on a cluster it
    * would cap the distributed-rank stages at 32 tasks regardless of
    * fleet size. Default = the session's shuffle-partition setting
    * (what every implicit Exchange already uses; GraftSession wires it
    * to the core count locally), overridable via
    * `spark.graft.explicitParts` for cluster runs. Every caller's
    * RESULT is partition-count-invariant (global ranks derived from
    * range ordering / keyed writes), so the knob is pure performance. */
  def explicitParts(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.explicitParts").map { raw =>
      // validate here (round-17 advice): a malformed value otherwise
      // surfaces as a bare NumberFormatException (or a failure deep
      // inside repartition) with nothing naming the config key
      val n = try raw.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.explicitParts must be a positive integer, got '$raw'")
      }
      require(n > 0,
        s"spark.graft.explicitParts must be a positive integer, got '$raw'")
      n
    }.getOrElse(spark.sessionState.conf.numShufflePartitions)

  /** Status enum values (reference common/constants.go:37-46). */
  val Pending = 0
  val Processing = 1
  val Completed = 2
  val Failed = 3
  val Delayed = 4

  /** Fixed "now" used by liveness predicates so oracle SQL is
    * deterministic (reference uses wall-clock `time.Since`,
    * /root/reference/tasks/api.go:263). */
  val HeartbeatBase = "2024-01-01 00:00:00"
  val AsOf = "2024-01-01 00:00:40"

  /** Every fixture read also installs graft's native functions on the
    * session (constant-time after the first call): query builders build
    * columns through helpers like [[graft.functions.Exprs.tokenCount]]
    * that resolve registered functions, and routing ALL of them through
    * this chokepoint means they work on ANY session — not just ones
    * built by [[graft.GraftSession]] or callers that registered
    * defensively (round-16 advice: AggOps/CatalogOps/LayoutOps threw
    * AnalysisException on foreign sessions).
    *
    * Every call resolves the scan afresh: it lists the files and runs a
    * parquet schema-inference job. A caller that serves many queries
    * off one directory resolves once and derives its frames from the
    * result, as [[graft.TaskHive]] does. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Memoized driver-side row count of a fixture table, one
    * [[graft.operators.Memo]] entry per (session, table): it dies with
    * the session or with `Memo.invalidate` after an in-place rewrite,
    * like every other memoized artifact. Strategy picks
    * ([[graft.operators.TextOps.ngramJaccard]]) and dim-modulo
    * parameters ([[assignedTasks]]) need one scalar per table; without
    * the memo every query invocation re-ran a count job —
    * parquet-footer-cheap locally, but at 100 TB each count is an
    * object-store listing + footer sweep costing seconds of driver
    * latency PER QUERY. */
  def cachedCount(spark: SparkSession, sfDir: String, name: String): Long =
    graft.operators.Memo.cached(spark, s"count:$name:$sfDir") {
      table(spark, sfDir, name).count()
    }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** Schema-adaptive events reader. Fixture generations have carried two
    * physical types for `ts`:
    *  - TIMESTAMP(NANOS): Spark 4 rejects it unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (GraftSession sets it),
    *    under which it scans as a ns BIGINT → keep full precision in
    *    `ts_ns`, derive a µs-truncated TimestampType `ts` (integer DIV —
    *    a double division would lose precision at 1.7e18 ns).
    *  - timestamp[us] (current): scans as TIMESTAMP_NTZ → cast to
    *    TimestampType (session tz is UTC so the wall-clock micros are
    *    preserved exactly) and derive `ts_ns = unix_micros * 1000`.
    * Either way every consumer sees the same contract: `ts` TIMESTAMP at
    * µs precision plus `ts_ns` BIGINT. Branching on the SCANNED dtype (a
    * footer read, no data job) keeps the engine working across fixture
    * regenerations instead of failing analysis. */
  def events(s: SparkSession, d: String): DataFrame =
    adaptEvents(table(s, d, "events"))

  /** The dtype branch, factored so streaming readers of the same fixture
    * (e.g. a readStream over the events directory) apply the identical
    * contract. Works on any plan whose `ts` column carries one of the
    * known physical types — including an unresolved streaming source. */
  def adaptEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `tasks` derived from `orders` — pure narrow projection, fully
    * pushdown-friendly (scan reads only the 6 source columns). */
  def tasks(spark: SparkSession, sfDir: String): DataFrame =
    orders(spark, sfDir).select(
      col("o_orderkey").cast("string").as("id"),
      (lit(1) + col("o_orderkey") % 10).cast("int").as("priority"),
      when(col("o_orderstatus") === "P", lit(1))
        .when(col("o_orderstatus") === "O", lit(0))
        .otherwise(lit(2) + col("o_orderkey") % 3)
        .cast("int").as("status"),
      col("o_orderdate").as("create_time"),
      col("o_orderpriority").as("task_type"),
      (col("o_orderkey") % 4).cast("int").as("retry_count"),
      col("o_totalprice").as("total_price"),
      col("o_orderkey"),
      col("o_custkey"))

  /** `workers` derived from `supplier` — a bounded dim table (always
    * broadcastable: |supplier| = 0.01% of |lineitem| in TPC-H). */
  def workers(spark: SparkSession, sfDir: String): DataFrame =
    supplier(spark, sfDir).select(
      col("s_name").as("worker_id"),
      col("s_suppkey"),
      lit(10).as("capacity"),
      (col("s_suppkey") % 11).cast("int").as("task_count"),
      expr(s"TIMESTAMP '$HeartbeatBase' + make_dt_interval(0, 0, 0, CAST(s_suppkey % 60 AS DOUBLE))")
        .as("last_heartbeat"))

  /** tasks + nullable worker_id: processing rows join their worker by
    * `s_suppkey = o_orderkey % |supplier|` (the deterministic stand-in for
    * the dispatcher's assignment). Broadcast join — workers is a dim. */
  def assignedTasks(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tasks(spark, sfDir)
    // |supplier| is a handful of rows per SF; a driver-side count of a
    // dim table parameterizes the modulo identically to the oracle's
    // scalar subquery. Not a data-path collect; memoized per JVM.
    val nSup = cachedCount(spark, sfDir, "supplier")
    val w = workers(spark, sfDir).select(col("worker_id"), col("s_suppkey"))
    t.join(
        broadcast(w),
        t("status") === Processing && w("s_suppkey") === t("o_orderkey") % nSup,
        "left")
      .drop("s_suppkey")
  }
}
