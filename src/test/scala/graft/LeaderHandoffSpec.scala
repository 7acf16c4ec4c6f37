package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.streaming.TaskEngine
import graft.streaming.TaskEngine._

/** Coordinator takeover — the engine's substitution for the reference's
  * etcd leader election (/root/reference/tasks/leader.go:45-83:
  * Campaign blocks until the current leader's session dies, exactly one
  * instance runs leaderFunc, a deposed leader re-campaigns). The Spark
  * form has no separate lock service: the CHECKPOINT is the lease.
  *
  *  - single-leader invariant = a second query on an already-active
  *    checkpoint either FAILS (stopActiveRunOnRestart=false — the
  *    Campaign that cannot win while the leader's lease holds) or
  *    DEPOSES the active run (default — leader.go's observe loop:
  *    the old leader sees the leadership change and steps down);
  *    either way exactly one run owns the checkpoint;
  *  - leader death = stopping the first query (session close);
  *  - takeover = a SECOND engine instance — a separate SparkSession,
  *    sharing nothing but the checkpoint dir, the way two coordinator
  *    processes share nothing but etcd — resumes the SAME checkpoint
  *    and continues the state machine EXACTLY-ONCE: replayed events
  *    fold to no-ops against the recovered state (ST9), committed
  *    transitions are not re-emitted.
  */
class LeaderHandoffSpec extends SparkSuite {

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

  test("second engine instance takes over the checkpoint exactly-once; concurrent start is fenced") {
    val root = tempDir("graft-handoff").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))

    // an "engine instance" = its own SparkSession (isolated SQL conf +
    // streaming query manager), as close to a separate coordinator
    // process as one JVM allows; only the checkpoint dir is shared
    def startInstance(instance: SparkSession): StreamingQuery = {
      val s = instance
      import s.implicits._
      val events = instance.readStream
        .schema(Encoders.product[TaskEvent].schema)
        .json(in)
        .as[TaskEvent]
      TaskEngine.transitions(instance, events)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.ProcessingTime(100))
        .start()
    }
    def transitions(): Seq[(String, Int, Int)] =
      Try(spark.read.parquet(out).collect().toSeq).getOrElse(Seq.empty)
        .map(r => (r.getAs[String]("taskId"),
          r.getAs[Int]("from"), r.getAs[Int]("to")))

    val instanceA = spark.newSession()
    val instanceB = spark.newSession()
    try {
      dropFile(in, "batch1.json", Seq(
        """{"taskId":"t1","kind":"submit","workerId":null,"seq":1}""",
        """{"taskId":"t1","kind":"assign","workerId":"w1","seq":2}""",
        """{"taskId":"t1","kind":"complete","workerId":null,"seq":3}""",
        """{"taskId":"t2","kind":"submit","workerId":null,"seq":4}"""))
      val qA = startInstance(instanceA)
      waitFor("leader A processes batch 1") {
        transitions().toSet == Set(
          ("t1", -1, Pending), ("t1", Pending, Processing),
          ("t1", Processing, Completed), ("t2", -1, Pending))
      }

      // CAMPAIGN WHILE THE LEADER LIVES, fencing mode: with
      // stopActiveRunOnRestart off, instance B must NOT win — the
      // second query on the active checkpoint is refused (leader.go's
      // Campaign blocking while the leader's lease holds)
      instanceB.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
      val contested = Try(startInstance(instanceB))
      contested.foreach(_.stop()) // never happens; defensive cleanup
      assert(contested.isFailure,
        "second instance must be fenced while the leader's query is active")
      assert(qA.isActive, "the fenced campaign must not disturb the leader")
      instanceB.conf.unset("spark.sql.streaming.stopActiveRunOnRestart")

      // LEADER DIES mid-stream; state + offsets survive in the lease dir
      qA.stop()

      // replayed t1 events (the at-least-once window a real failover
      // produces) + t2's progress arrive for the NEW leader
      dropFile(in, "batch2.json", Seq(
        """{"taskId":"t1","kind":"submit","workerId":null,"seq":5}""",
        """{"taskId":"t1","kind":"assign","workerId":"w9","seq":6}""",
        """{"taskId":"t2","kind":"assign","workerId":"w2","seq":7}""",
        """{"taskId":"t2","kind":"complete","workerId":null,"seq":8}"""))
      val qB = startInstance(instanceB) // Campaign now wins
      waitFor("new leader B completes t2") {
        transitions().contains(("t2", Processing, Completed))
      }
      qB.stop()

      val all = transitions()
      // exactly-once across the handoff: 6 transitions, no duplicates,
      // no resurrection of the completed t1 by its replayed events
      assert(all.size == 6, s"expected 6 transitions, got $all")
      assert(all.distinct.size == 6)
      assert(!all.contains(("t1", Completed, Pending)))
      assert(all.count(_._1 == "t1") == 3)
    } finally {
      instanceA.streams.active.foreach(q => Try(q.stop()))
      instanceB.streams.active.foreach(q => Try(q.stop()))
    }
  }

  test("default mode: a new campaigner deposes the active leader (observe-loop semantics)") {
    // leader.go:68-76 — the OLD leader watches the election key and
    // steps down when the value is no longer its id. Spark's default
    // (stopActiveRunOnRestart=true) is exactly that: starting the
    // query on an active checkpoint stops the old run and the new run
    // takes over; at no point do two runs own the checkpoint.
    val root = tempDir("graft-depose").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(in))
    def startInstance(instance: SparkSession): StreamingQuery = {
      val s = instance
      import s.implicits._
      val events = instance.readStream
        .schema(Encoders.product[TaskEvent].schema)
        .json(in)
        .as[TaskEvent]
      TaskEngine.transitions(instance, events)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.ProcessingTime(100))
        .start()
    }
    val instanceA = spark.newSession()
    val instanceB = spark.newSession()
    try {
      dropFile(in, "batch1.json", Seq(
        """{"taskId":"d1","kind":"submit","workerId":null,"seq":1}"""))
      val qA = startInstance(instanceA)
      waitFor("leader A emits d1 submit") {
        Try(spark.read.parquet(out).count()).getOrElse(0L) == 1L
      }
      val qB = startInstance(instanceB) // deposes A
      waitFor("old leader observes the loss and steps down")(!qA.isActive)
      assert(qB.isActive)
      // the new leader owns the state: d1's recovered PENDING accepts
      // assign, and the replayed submit folds to a no-op (no dup rows)
      dropFile(in, "batch2.json", Seq(
        """{"taskId":"d1","kind":"submit","workerId":null,"seq":2}""",
        """{"taskId":"d1","kind":"assign","workerId":"w1","seq":3}"""))
      waitFor("new leader processes d1 assign") {
        Try(spark.read.parquet(out).collect().toSeq).getOrElse(Seq.empty)
          .exists(r => r.getAs[Int]("to") == Processing)
      }
      qB.stop()
      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getAs[String]("taskId"), r.getAs[Int]("from"),
          r.getAs[Int]("to"))).toSeq
      assert(rows.sorted == Seq(("d1", -1, Pending), ("d1", Pending, Processing)))
    } finally {
      instanceA.streams.active.foreach(q => Try(q.stop()))
      instanceB.streams.active.foreach(q => Try(q.stop()))
    }
  }
}
