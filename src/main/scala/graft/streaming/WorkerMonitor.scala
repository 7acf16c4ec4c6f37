package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming worker-liveness session (SURVEY.md ST4/ST5): the
  * reference's 10s etcd lease + keepalive + watch-DELETE failover
  * (/root/reference/tasks/dispatcher.go:28-172, 657-708) becomes a
  * keyed state timeout: each heartbeat arms a processing-time timer;
  * timer expiry emits a worker_down event that drives TaskEngine's
  * failover transition.
  */
object WorkerMonitor {

  case class Heartbeat(workerId: String, ts: Timestamp)
  /** kind ∈ up | down */
  case class WorkerEvent(workerId: String, kind: String)

  val LeaseTtlMs: Long = 10000L // dispatcher.go:30

  /** Keyed session step — public so the timeout branch is unit-testable
    * with org.apache.spark.sql.streaming.TestGroupState (driving a real
    * ProcessingTimeTimeout to expiry needs wall-clock and never settles
    * under processAllAvailable). */
  def processGroup(armTimeout: Boolean)(workerId: String, beats: Iterator[Heartbeat],
      state: GroupState[Long]): Iterator[WorkerEvent] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator(WorkerEvent(workerId, "down"))
    } else {
      val isNew = !state.exists
      state.update(state.getOption.getOrElse(0L) + beats.size)
      if (armTimeout) state.setTimeoutDuration(LeaseTtlMs)
      if (isNew) Iterator(WorkerEvent(workerId, "up")) else Iterator.empty
    }
  }

  /** Worker up/down event stream from a heartbeat stream. `withTimeout =
    * false` disables the lease timer (test mode — see processGroup). */
  def monitor(spark: SparkSession, heartbeats: Dataset[Heartbeat],
      withTimeout: Boolean = true): Dataset[WorkerEvent] = {
    import spark.implicits._
    val timeoutConf =
      if (withTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    heartbeats.groupByKey(_.workerId)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        processGroup(armTimeout = withTimeout))
  }
}
