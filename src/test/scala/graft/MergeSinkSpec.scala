package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.MergeSink

/** Streaming CDC upsert (append-log + compaction-on-read) semantics:
  * stream ≡ batch compaction, and per-batch idempotent replay. */
class MergeSinkSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  test("streamed compacted view equals batch max_by compaction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val logDir = tmp("mergelog")
    val ckpt = tmp("mergeckpt")
    val input = MemoryStream[(Long, String, Long, Long)]
    val df = input.toDF().toDF("user_id", "event_type", "event_id", "cents")
    val q = MergeSink.start(df, logDir, ckpt)
    val data1 = Seq((1L, "click", 10L, 100L), (1L, "click", 11L, 150L),
      (2L, "view", 5L, 70L))
    val data2 = Seq((1L, "click", 12L, 90L), (2L, "buy", 6L, 999L))
    try {
      input.addData(data1: _*)
      q.processAllAvailable()
      input.addData(data2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = MergeSink.compactedRead(spark, logDir)
      .orderBy("user_id", "event_type").collect().toSeq
    val batch = (data1 ++ data2)
      .toDF("user_id", "event_type", "event_id", "cents")
      .groupBy("user_id", "event_type")
      .agg(max("event_id").as("last_event_id"),
        max_by(col("cents"), col("event_id")).as("last_cents"),
        count(lit(1)).as("n_versions"))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(streamed == batch)
    // and the upsert actually won: user 1 click resolves to event 12
    assert(streamed.exists(r => r.getLong(0) == 1L && r.getLong(2) == 12L
      && r.getLong(3) == 90L))
  }

  test("batch replay is idempotent (retry overwrites its own partition)") {
    val s = spark
    import s.implicits._
    val logDir = tmp("mergelog2")
    val b = Seq((1L, "click", 1L, 10L))
      .toDF("user_id", "event_type", "event_id", "cents")
    MergeSink.mergeBatch(b, logDir, 0L)
    MergeSink.mergeBatch(b, logDir, 0L) // simulated retry of batch 0
    val out = MergeSink.compactedRead(spark, logDir).collect()
    assert(out.length == 1 && out(0).getAs[Long]("n_versions") == 1L,
      s"replayed batch duplicated rows: ${out.mkString}")
  }
}
