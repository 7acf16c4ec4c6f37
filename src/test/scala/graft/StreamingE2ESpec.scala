package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.TaskEngine._

/** End-to-end streaming against REAL sources and sinks (VERDICT r01
  * gap #2): file readStream → the production lifecycle engine
  * ([[TaskHive.start]]) → checkpointed parquet writeStream, killed and
  * restarted mid-stream.
  * The reference is watch-driven end to end
  * (/root/reference/tasks/dispatcher.go:297-309); the checkpoint's
  * offset log + state store give the Spark form its exactly-once
  * equivalent: replayed/duplicate events after restart are invalid
  * transitions and fold to no-ops (ST9 idempotent claim).
  */
class StreamingE2ESpec extends SparkSuite {

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + 90000
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(250)
    assert(cond, s"timed out waiting for: $what")
  }

  /** Atomic-ish drop of a JSON-lines events file into the watched dir. */
  private def dropFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("file source → TaskHive.start → checkpointed parquet survives kill+restart exactly-once") {
    val root = tempDir("graft-e2e").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    val hive = TaskHive(spark, sf)

    def startQuery() = {
      val s = spark
      import s.implicits._
      val events = spark.readStream
        .schema(Encoders.product[TaskEvent].schema)
        .json(in)
        .as[TaskEvent]
      hive.start(events, ckpt, out)
    }
    def transitions(): Seq[(String, Int, Int)] = {
      val s = spark
      import s.implicits._
      Try(spark.read.parquet(out).as[TaskTransition].collect().toSeq)
        .getOrElse(Seq.empty)
        .map(t => (t.taskId, t.from, t.to))
    }

    try {
      dropFile(in, "batch1.json", Seq(
        """{"taskId":"t1","kind":"submit","workerId":null,"seq":1}""",
        """{"taskId":"t1","kind":"assign","workerId":"w1","seq":2}""",
        """{"taskId":"t1","kind":"complete","workerId":null,"seq":3}""",
        """{"taskId":"t2","kind":"submit","workerId":null,"seq":4}"""))
      val q1 = startQuery()
      waitFor("first 4 transitions in the parquet sink") {
        transitions().toSet == Set(
          ("t1", -1, Pending), ("t1", Pending, Processing),
          ("t1", Processing, Completed), ("t2", -1, Pending))
      }
      q1.stop() // kill mid-stream; state + offsets live in ckpt

      // after restart: t2 progresses; t1's REPLAYED events must fold to
      // no-ops against the recovered COMPLETED state (ST9)
      dropFile(in, "batch2.json", Seq(
        """{"taskId":"t1","kind":"submit","workerId":null,"seq":5}""",
        """{"taskId":"t1","kind":"assign","workerId":"w9","seq":6}""",
        """{"taskId":"t2","kind":"assign","workerId":"w2","seq":7}""",
        """{"taskId":"t2","kind":"complete","workerId":null,"seq":8}"""))
      val q2 = startQuery()
      waitFor("t2 completion after restart") {
        transitions().contains(("t2", Processing, Completed))
      }
      q2.stop()

      val all = transitions()
      // exactly-once: six transitions total, no duplicates, and no
      // resurrection of the completed t1
      assert(all.size == 6, s"expected 6 transitions, got $all")
      assert(all.distinct.size == 6)
      assert(!all.contains(("t1", Completed, Pending)))
      assert(all.count(_._1 == "t1") == 3)
    } finally spark.streams.active.foreach(_.stop())
  }

  test("batch-stream unification: streamed tumbling agg equals the batch query") {
    // the SAME windowed aggregation expressed over readStream produces
    // the batch answer — Spark's unified model, demonstrated on the
    // events fixture (complete mode: every window emitted at drain)
    val sfDir = "/root/testdata/sf0.001"
    // the file stream source wants a directory, not a single file
    val dir = tempDir("graft-unify").toString
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      Paths.get(dir, "events.parquet"))
    val batchSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val streamed = graft.sources.Tables.adaptEvents(
      spark.readStream.schema(batchSchema).parquet(dir))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 hour").as("w"),
        col("event_type"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.round(col("value") * 100).cast("long"))
          .as("sum_cents"))
      .select(org.apache.spark.sql.functions.unix_timestamp(col("w.start"))
          .as("window_start"),
        col("event_type"), col("n"), col("sum_cents"))
    val q = streamed.writeStream.format("memory").queryName("unify_out")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(!q.isActive)
    val got = spark.table("unify_out")
      .orderBy("window_start", "event_type").collect().map(_.toSeq).toSeq
    val expected = graft.operators.EventOps.eventsTumbling(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("ST9 dedup analog: dropDuplicatesWithinWatermark drops late duplicate events") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val q = input.toDS()
      .toDF("taskId", "kind", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("taskId", "kind")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    def ts(sec: Int) = java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${"%02d".format(sec)}")
    try {
      input.addData(("t1", "submit", ts(1)), ("t1", "submit", ts(2)))
      q.processAllAvailable()
      // duplicate arrives in a LATER micro-batch, still within watermark
      input.addData(("t1", "submit", ts(3)), ("t2", "submit", ts(4)))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
      assert(rows.length == 2) // one per (taskId, kind)
      assert(rows.map(_.getString(0)).sorted.toSeq == Seq("t1", "t2"))
    } finally q.stop()
  }
}
