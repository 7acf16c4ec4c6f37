package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.WorkerMonitor
import graft.streaming.WorkerMonitor._

/** ST4 worker sessions via MemoryStream. */
class StreamingSpec extends SparkSuite {

  test("worker monitor emits 'up' once per worker") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Heartbeat]
    // withTimeout=false: a live ProcessingTimeTimeout schedules no-data
    // batches forever and processAllAvailable never settles
    val q = WorkerMonitor.monitor(spark, input.toDS(), withTimeout = false)
      .writeStream.format("memory").queryName("workers_up")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Heartbeat("w1", Timestamp.valueOf("2024-01-01 00:00:00")))
      q.processAllAvailable()
      input.addData(Heartbeat("w1", Timestamp.valueOf("2024-01-01 00:00:05")),
        Heartbeat("w2", Timestamp.valueOf("2024-01-01 00:00:05")))
      q.processAllAvailable()
      val out = spark.table("workers_up").as[WorkerEvent].collect()
      assert(out.toSet == Set(WorkerEvent("w1", "up"), WorkerEvent("w2", "up")))
    } finally q.stop()
  }

  test("worker monitor timeout branch emits 'down' (TestGroupState)") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val timedOut = TestGroupState.create[Long](
      optionalState = Optional.of(3L),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 100000L,
      eventTimeWatermarkMs = Optional.empty[Long], hasTimedOut = true)
    val out = WorkerMonitor.processGroup(armTimeout = true)(
      "w1", Iterator.empty, timedOut).toList
    assert(out == List(WorkerEvent("w1", "down")))
    assert(timedOut.isRemoved)
  }
}
