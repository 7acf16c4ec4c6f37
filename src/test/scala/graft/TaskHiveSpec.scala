package graft

import org.apache.spark.sql.{DataFrame, Row}
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
    val dir = tempDir("graft-hive-start").toString
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

  test("listWorkers sorts in one partition: one Spark job per call") {
    val h = TaskHive(spark, sf)
    val first = h.listWorkers().collect()
    assert(jobsStartedBy(h.listWorkers().collect()) == 1)
    // same rows, in the order of the active_workers oracle query
    assert(first.toSeq == operators.WorkerOps.activeWorkers(spark, sf).collect().toSeq)
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
    val dir = tempDir("graft-hive-snapshot")
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

  /** `a` and `b` hold the same rows with the same multiplicities. */
  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.exceptAll(b).count() == 0, s"$what: rows only in TaskHive's answer")
    assert(b.exceptAll(a).count() == 0, s"$what: rows only in the join's answer")
  }

  test("the worker mapping equals Tables.assignedTasks' join, every task and worker") {
    // every task and worker through the frame at both scales; through
    // the API calls every worker and a dozen ids at sf0.001, two of each
    // at sf0.01
    Seq(sf -> true, "/root/testdata/sf0.01" -> false).foreach { case (dir, all) =>
      val h = TaskHive(spark, dir)
      val joined = sources.Tables.assignedTasks(spark, dir)
      // the frame that getTaskByID and getWorkerTasks filter
      assertSameRows(h.assignedTasks, joined, s"$dir every task")
      val rows = joined.select("id", "status", "priority", "retry_count", "worker_id",
        "create_time").collect().toSeq.sortBy(_.getString(0))
      def task(r: Row) = Row(r.toSeq.take(5): _*)
      // point lookups: processing and other tasks, a processing task the
      // join leaves without a worker (if any), absent and non-canonical ids
      val (processing, other) = rows.partition(_.getInt(1) == sources.Tables.Processing)
      val ids = (if (all) processing.take(3) ++ other.take(2) ++
        processing.filter(_.isNullAt(4)).take(1) else processing.take(1) ++ other.take(1))
        .map(_.getString(0)) ++
        (if (all) Seq("007", "", "-1", " 42", "42.0", "999999999") else Nil)
      ids.foreach { id =>
        assert(h.getTaskByID(id).collect().toSeq == rows.filter(_.getString(0) == id).map(task),
          s"$dir task '$id'")
      }
      // workers: the same rows in the same order as the join's answer
      val byWorker = processing.filterNot(_.isNullAt(4)).groupBy(_.getString(4))
        .view.mapValues(_.map(r => Row(r.getString(0), r.getInt(2), r.get(5), r.getString(4))))
        .toMap
      val workers = h.listWorkers().select("worker_id").as[String].collect()
      assert(byWorker.nonEmpty && byWorker.keySet.subsetOf(workers.toSet))
      (if (all) workers ++ Seq("", "Supplier#999999999") else workers.take(2)).foreach { w =>
        assert(h.getWorkerTasks(w).collect().toSeq == byWorker.getOrElse(w, Nil),
          s"$dir worker '$w'")
      }
    }
  }

  test("the worker mapping equals the join on negative, null and unmatchable keys") {
    val dir = tempDir("graft-hive-keys").toString
    val orders = sources.Tables.orders(spark, sf)
    orders.withColumn("o_orderkey",
        (col("o_orderkey") - 750).cast(orders.schema("o_orderkey").dataType))
      .write.parquet(s"$dir/orders.parquet")
    // 12 suppliers: keys -4..5, one null key and key 40, which no
    // o_orderkey % 12 can reach
    val sup = sources.Tables.supplier(spark, sf)
    val keyType = sup.schema("s_suppkey").dataType
    sup.withColumn("s_suppkey", (col("s_suppkey") - 5).cast(keyType))
      .union(sup.orderBy("s_suppkey").limit(2).withColumn("s_suppkey",
        when(col("s_suppkey") === 1, lit(null)).otherwise(lit(40)).cast(keyType)))
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val h = TaskHive(spark, dir)
    assert(h.assignedTasks.filter(col("o_orderkey") < 0 && col("worker_id").isNotNull)
      .count() > 0)
    assertSameRows(h.assignedTasks, sources.Tables.assignedTasks(spark, dir), "shifted keys")
  }

  test("a supplier table that repeats an s_suppkey fails loudly") {
    val dir = tempDir("graft-hive-dupsup")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/orders.parquet"),
      dir.resolve("orders.parquet"))
    val sup = sources.Tables.supplier(spark, sf)
    sup.union(sup.orderBy("s_suppkey").limit(1)).coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    val h = TaskHive(spark, dir.toString)
    Seq(() => h.getTaskByID("1"), () => h.getWorkerTasks("Supplier#000000001")).foreach { r =>
      val e = intercept[IllegalArgumentException](r())
      assert(e.getMessage.contains("repeats s_suppkey"), e.getMessage)
    }
  }

  test("userProcName stays injective when sanitized forms collide") {
    val names = Seq("etl-v1.0", "etl v1 0", "ETL_V1_0", "###", "!!!")
      .map(functions.Processors.userProcName("i1", _))
    assert(names.distinct.size == names.size, s"collisions in $names")
  }
}
