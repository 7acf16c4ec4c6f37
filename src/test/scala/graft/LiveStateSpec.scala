package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.Encoders

import graft.streaming.TaskEngine._

/** Live task-status queries against the RUNNING engine — the reference's
  * TODO #1 (readme.txt:19) / GetTaskByID's live-processing probe
  * (tasks/api.go:43-111): TaskHive.getLiveTaskStatus reads the state
  * store of the in-flight streaming query via the State Data Source,
  * without stopping it, and must agree with the transition log the
  * engine has emitted so far. */
class LiveStateSpec extends SparkSuite {

  private def waitFor(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + 90000
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(250)
    assert(cond, s"timed out waiting for: $what")
  }

  private def dropFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".$name.tmp")
    Files.write(tmp, String.join("\n", lines: _*).getBytes)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("getLiveTaskStatus reads the running engine's state and tracks it batch to batch") {
    val root = tempDir("graft-live").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    val s = spark
    import s.implicits._
    val events = spark.readStream
      .schema(Encoders.product[TaskEvent].schema)
      .json(in)
      .as[TaskEvent]
    val hive = TaskHive(spark, sf)
    val q = hive.start(events, ckpt, out)

    def sunk(): Long =
      scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
    def live(id: String): (Int, Int, String) = {
      val r = hive.getLiveTaskStatus(ckpt, id).head()
      (r.getInt(1), r.getInt(2), r.getString(3))
    }

    try {
      // t1 mid-flight (assigned), t2 just submitted, t3 failed once
      dropFile(in, "b1.json", Seq(
        """{"taskId":"t1","kind":"submit","workerId":null,"seq":1}""",
        """{"taskId":"t1","kind":"assign","workerId":"w1","seq":2}""",
        """{"taskId":"t2","kind":"submit","workerId":null,"seq":3}""",
        """{"taskId":"t3","kind":"submit","workerId":null,"seq":4}""",
        """{"taskId":"t3","kind":"assign","workerId":"w2","seq":5}""",
        """{"taskId":"t3","kind":"fail","workerId":null,"seq":6}"""))
      waitFor("first 6 transitions in the sink")(sunk() == 6L)

      // the ENGINE IS STILL RUNNING: point-probe its state store
      assert(live("t1") == ((Processing, 0, "w1")))
      assert(live("t2") == ((Pending, 0, null)))
      assert(live("t3") == ((Delayed, 1, null)), "failed task must sit in DELAYED with retry 1")

      // live state advances with the next micro-batch
      dropFile(in, "b2.json", Seq(
        """{"taskId":"t1","kind":"complete","workerId":null,"seq":7}"""))
      waitFor("t1 completion transition")(sunk() == 7L)
      assert(live("t1") == ((Completed, 0, "w1")))

      // the live view must agree with the emitted transition log: each
      // task's current status is the unique `to` that no later
      // transition departs from (the log is a chain; file read order
      // is not append order, so reconstruct rather than take last)
      val logged = spark.read.parquet(out).as[TaskTransition].collect()
      Seq("t1", "t2", "t3").foreach { id =>
        val ts = logged.filter(_.taskId == id)
        val terminal = ts.map(_.to).diff(ts.map(_.from)).toSeq
        assert(terminal.size == 1, s"$id log is not a chain: ${ts.toSeq}")
        assert(live(id)._1 == terminal.head,
          s"$id live status ${live(id)._1} != last logged transition ${terminal.head}")
      }
    } finally q.stop()

    // stopped mid-flight: the state remains queryable from the checkpoint
    assert(hive.getLiveTaskStatus(ckpt, "t2").head().getInt(1) == Pending)
    assert(hive.liveTaskStates(ckpt).count() == 3)
  }
}
