package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.TaskEngine
import graft.streaming.TaskEngine._

/** ST2/ST3/ST5/ST9 lifecycle semantics — pure function + end-to-end
  * through MemoryStream micro-batches. The streaming tests run ONCE
  * PER STATE-STORE PROVIDER (default HDFS-backed and RocksDB): a
  * production deployment picks RocksDB when keyed state outgrows
  * executor heap (per-task state lives in native memory + local SST
  * files, with changelog checkpointing), and the engine's semantics
  * must be provider-independent. */
class TaskEngineSpec extends SparkSuite {

  private val providers = Seq(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  private def withProvider(cls: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, cls)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("pure step: happy path submit→assign→complete") {
    val s0 = step(None, TaskEvent("t1", "submit", null, 1)).get
    assert(s0._1 == TaskState(Pending, 0, null))
    val s1 = step(Some(s0._1), TaskEvent("t1", "assign", "w1", 2)).get
    assert(s1._1 == TaskState(Processing, 0, "w1"))
    val s2 = step(Some(s1._1), TaskEvent("t1", "complete", null, 3)).get
    assert(s2._1 == TaskState(Completed, 0, "w1"))
  }

  test("pure step: retry cycle with exponential backoff, FAILED after MaxRetries") {
    var st = step(None, TaskEvent("t", "submit", null, 1)).get._1
    val delays = Vector.newBuilder[Int]
    for (i <- 1 to MaxRetries) {
      st = step(Some(st), TaskEvent("t", "assign", s"w$i", 0)).get._1
      val (ns, tr) = step(Some(st), TaskEvent("t", "fail", null, 0)).get
      assert(ns.status == Delayed && ns.retryCount == i)
      delays += tr.delaySec
      st = step(Some(ns), TaskEvent("t", "retry_fire", null, 0)).get._1
      assert(st.status == Pending)
    }
    assert(delays.result() == Vector(2, 4, 8)) // 2s·2^(n-1), worker.go:72-79
    st = step(Some(st), TaskEvent("t", "assign", "w", 0)).get._1
    val (fin, _) = step(Some(st), TaskEvent("t", "fail", null, 0)).get
    assert(fin.status == Failed)
  }

  test("pure step: invalid transitions are no-ops (idempotent claim, ST9)") {
    assert(step(None, TaskEvent("t", "complete", null, 1)).isEmpty)
    val pending = TaskState(Pending, 0, null)
    assert(step(Some(pending), TaskEvent("t", "complete", null, 1)).isEmpty)
    assert(step(Some(pending), TaskEvent("t", "submit", null, 1)).isEmpty)
  }

  test("pure step: worker death re-enqueues in-flight task (ST5 failover)") {
    val proc = TaskState(Processing, 1, "w9")
    val (ns, tr) = step(Some(proc), TaskEvent("t", "worker_down", null, 0)).get
    assert(ns == TaskState(Pending, 1, null))
    assert(tr.workerId == "w9" && tr.to == Pending)
  }

  for ((tag, cls) <- providers)
  test(s"streaming: lifecycle across micro-batches via MemoryStream [$tag]") {
    withProvider(cls) {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TaskEvent]
    val q = TaskEngine.transitions(spark, input.toDS())
      .writeStream.format("memory").queryName(s"transitions_$tag")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(TaskEvent("a", "submit", null, 1), TaskEvent("b", "submit", null, 1))
      q.processAllAvailable()
      input.addData(TaskEvent("a", "assign", "w1", 2), TaskEvent("b", "assign", "w2", 2))
      q.processAllAvailable()
      // batch 3: a completes; b fails (retry 1) — state carried between batches
      input.addData(TaskEvent("a", "complete", null, 3), TaskEvent("b", "fail", null, 3))
      q.processAllAvailable()
      val out = spark.table(s"transitions_$tag").as[TaskTransition].collect()
      assert(out.count(_.to == Processing) == 2)
      assert(out.exists(t => t.taskId == "a" && t.to == Completed))
      val bFail = out.find(t => t.taskId == "b" && t.to == Delayed).get
      assert(bFail.retryCount == 1 && bFail.delaySec == 2)
      // in-batch ordering honored: submit+assign+complete in ONE batch
      input.addData(TaskEvent("c", "submit", null, 1),
        TaskEvent("c", "assign", "w3", 2), TaskEvent("c", "complete", null, 3))
      q.processAllAvailable()
      val c = spark.table(s"transitions_$tag").as[TaskTransition]
        .filter(_.taskId == "c").collect().sortBy(_.to)
      assert(c.map(_.to).toSet == Set(Pending, Processing, Completed))
    } finally q.stop()
    }
  }

  for ((tag, cls) <- providers)
  test(s"end-to-end pipeline: event stream → state machine → per-batch stats sink [$tag]") {
    withProvider(cls) {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TaskEvent]
    // ST6-style micro-batch sink: every batch folds its transitions into
    // a live status-count table (the streaming form of task_stats)
    val counts = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val q = TaskEngine.transitions(spark, input.toDS())
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[TaskTransition], _: Long) =>
        batch.groupBy("to").count().collect()
          .foreach(r => counts.updateWith(r.getInt(0)) {
            case Some(v) => Some(v + r.getLong(1))
            case None => Some(r.getLong(1))
          })
      }
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1 to 20).map(i => TaskEvent(s"t$i", "submit", null, 1)): _*)
      q.processAllAvailable()
      input.addData((1 to 20).map(i => TaskEvent(s"t$i", "assign", s"w${i % 3}", 2)): _*)
      q.processAllAvailable()
      input.addData((1 to 10).map(i => TaskEvent(s"t$i", "complete", null, 3)) ++
        (11 to 20).map(i => TaskEvent(s"t$i", "fail", null, 3)): _*)
      q.processAllAvailable()
      assert(counts(Pending) == 20L)
      assert(counts(Processing) == 20L)
      assert(counts(Completed) == 10L)
      assert(counts(Delayed) == 10L) // first failure → retry, not FAILED
    } finally q.stop()
    }
  }
}
