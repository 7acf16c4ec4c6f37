package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The user-facing facade must return the same answers as the
  * oracle-gated queries for matching parameters (same plans, real
  * arguments). */
class TaskHiveSpec extends SparkSuite {
  import spark.implicits._

  private lazy val hive = TaskHive(spark, sf)

  test("getTaskByID matches the task_by_id oracle query at id=42") {
    val got = hive.getTaskByID("42").collect()
    val oracle = operators.TaskOps.taskById(spark, sf).collect()
    assert(got.toSeq == oracle.toSeq)
  }

  test("listTasks(None) matches list_all_tasks; status filter scans one partition") {
    val all = hive.listTasks(None, 100).collect()
    val oracle = operators.TaskOps.listAllTasks(spark, sf).collect()
    assert(all.toSeq == oracle.toSeq)
    val pending = hive.listTasks(Some("pending"), 50).collect()
    assert(pending.nonEmpty && pending.forall(_.getAs[Int]("status") == 0))
    assert(pending.length <= 50)
  }

  test("getTaskStats matches task_stats") {
    assert(hive.getTaskStats().collect().toSeq ==
      operators.TaskOps.taskStats(spark, sf).collect().toSeq)
  }

  test("getWorkerTasks returns only that worker's in-flight tasks") {
    val anyWorker = hive.listWorkers().select("worker_id")
      .as[String].head()
    val rows = hive.getWorkerTasks(anyWorker).collect()
    assert(rows.forall(_.getAs[String]("worker_id") == anyWorker))
  }

  test("submitTasks applies reference defaults and appends to the task table") {
    val in = Seq(("t1", "{\"k\":1}"), ("t2", "{\"k\":2}")).toDF("id", "payload")
    val out = hive.submitTasks(in)
    assert(out.columns.toSeq == Seq("id", "priority", "status",
      "create_time", "task_type", "retry_count", "payload"))
    val rows = out.collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getAs[Int]("priority") == 5 &&
      r.getAs[Int]("status") == 0 && r.getAs[String]("task_type") == "default" &&
      r.getAs[Int]("retry_count") == 0 && r.getAs[java.sql.Timestamp]("create_time") != null))
    // the documented append path must analyze cleanly
    sources.Tables.tasks(spark, sf)
      .unionByName(out, allowMissingColumns = true).schema
    intercept[IllegalArgumentException] {
      hive.submitTasks(Seq("x").toDF("payload_only"))
    }
  }

  test("processTasks with no user registrations ≡ the registry-dispatch oracle") {
    val fresh = TaskHive(spark, sf)
    assert(fresh.processTasks().collect().toSeq ==
      operators.TaskOps.processDispatchUdf(spark, sf).collect().toSeq)
  }

  test("registerTaskProcessor routes its task type through dispatch") {
    val h2 = TaskHive(spark, sf)
    h2.registerTaskProcessor("1-URGENT", id => s"custom:$id")
    val rows = h2.processTasks().collect()
    val urgent = rows.filter(_.getAs[String]("task_type") == "1-URGENT")
    assert(urgent.nonEmpty && urgent.forall(r =>
      r.getAs[String]("result") == s"custom:${r.getAs[String]("id")}" &&
        r.getAs[Int]("new_status") == sources.Tables.Completed))
    // built-ins for other types are untouched
    val high = rows.filter(_.getAs[String]("task_type") == "2-HIGH")
    assert(high.nonEmpty &&
      high.forall(_.getAs[String]("result").startsWith("wechat:")))
    // per-instance registry: the sibling facade still runs the built-in
    assert(hive.processTasks()
      .filter(col("task_type") === "1-URGENT").collect()
      .forall(_.getAs[String]("result").startsWith("spider:")))
    // and a THIRD instance registering the SAME type must not clobber
    // h2's processor body (session UDF names are instance-tagged)
    val h3 = TaskHive(spark, sf)
    h3.registerTaskProcessor("1-URGENT", id => s"other:$id")
    assert(h2.processTasks()
      .filter(col("task_type") === "1-URGENT").collect()
      .forall(_.getAs[String]("result").startsWith("custom:")))
    assert(h3.processTasks()
      .filter(col("task_type") === "1-URGENT").collect()
      .forall(_.getAs[String]("result").startsWith("other:")))
    // close() releases the session-global registrations: dispatch falls
    // back to the built-ins (and the instance-tagged UDFs are dropped
    // from the session registry, so per-request facades don't leak)
    h3.close()
    assert(h3.processTasks()
      .filter(col("task_type") === "1-URGENT").collect()
      .forall(_.getAs[String]("result").startsWith("spider:")))
  }

  test("start() runs the lifecycle engine end to end (facade smoke)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-hive-start").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[streaming.TaskEngine.TaskEvent]
    input.addData(
      streaming.TaskEngine.TaskEvent("t1", "submit", null, 0L),
      streaming.TaskEngine.TaskEvent("t1", "assign", "w1", 1L),
      streaming.TaskEngine.TaskEvent("t1", "complete", null, 2L))
    val q = hive.start(input.toDS(), s"$dir/ckpt", s"$dir/out")
    try q.processAllAvailable() finally q.stop()
    val transitions = spark.read.parquet(s"$dir/out")
    assert(transitions.count() == 3)
    assert(transitions.filter(col("taskId") === "t1").count() == 3)
  }

  private val TagKey = "graft.spec.tag"

  /** Jobs started on this thread while `body` runs, counted by a
    * listener keyed on a thread-local tag (so background jobs of other
    * suites never count). */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"taskhive-spec-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(TagKey) == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try body finally {
      sc.setLocalProperty(TagKey, null)
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("warm routes build their DataFrames without starting a Spark job") {
    val h = TaskHive(spark, sf)
    val worker = "Supplier#000000001"
    val routes: Seq[() => DataFrame] = Seq(
      () => h.getTaskByID("42"),
      () => h.listTasks(Some("processing"), 100),
      () => h.getTaskStats(),
      () => h.listWorkers(),
      () => h.getWorkerTasks(worker),
      () => h.processTasks())
    // the first call resolves the base relations: listing plus parquet
    // schema inference, which starts jobs (proves the counter counts)
    assert(jobsStartedBy(routes.head()) > 0)
    routes.foreach(r => r().collect())
    routes.foreach(r => assert(jobsStartedBy(r()) == 0))
  }

  test("combining two calls on one instance analyzes and counts as before") {
    val h = TaskHive(spark, sf)
    val a = h.listTasks(Some("processing"), 50)
    val b = h.listTasks(Some("processing"), 20)
    assert(a.join(b, a("id") === b("id")).count() == 20)
    val worker = h.listWorkers().select("worker_id").as[String].head()
    val wt = h.getWorkerTasks(worker)
    val lw = h.listWorkers()
    assert(wt.join(lw, wt("worker_id") === lw("worker_id")).count() == 44)
    assert(h.getTaskByID("42").union(h.getTaskByID("43")).count() == 2)
  }

  test("an instance serves its first-use snapshot; a new one sees a rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hive-snapshot")
    Seq("orders", "supplier").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        dir.resolve(s"$t.parquet"))
    }
    val before = TaskHive(spark, dir.toString)
    val oldRows = before.getTaskStats().collect().map(_.getLong(1)).sum
    assert(before.getTaskByID("1").count() == 1)
    // rewrite orders in place: only the even keys survive
    val evens = sources.Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0)
    evens.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val newRows = evens.count()
    assert(newRows < oldRows)
    val after = TaskHive(spark, dir.toString)
    assert(after.getTaskStats().collect().map(_.getLong(1)).sum == newRows)
    assert(after.getTaskByID("1").count() == 0)
    assert(after.getTaskByID("2").count() == 1)
    assert(after.listTasks(None, 10).collect().forall(_.getString(0).toLong % 2 == 0))
  }

  test("userProcName stays injective when sanitized forms collide") {
    val names = Seq("etl-v1.0", "etl v1 0", "ETL_V1_0", "###", "!!!")
      .map(functions.Processors.userProcName("i1", _))
    assert(names.distinct.size == names.size, s"collisions in $names")
  }
}
