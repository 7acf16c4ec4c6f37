package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed interval around a call the benchmark makes into a layer.
  * Spans of one operation share `op`; `parent` is the causing span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled recorders still time the call (the
  * workloads need the durations) but keep nothing. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def newOp(): Long = ids.incrementAndGet()

  /** Runs `f`, returning its value and the span that timed it. */
  def span[T](name: String, op: Long, parent: Long = 0)(f: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val v = f(id)
    val s = Span(id, parent, op, name, t0, System.nanoTime())
    if (enabled) buf.add(s)
    (v, s)
  }

  def all: Seq[Span] = buf.asScala.toSeq
}

/** Per-tag totals of the Spark work a set of jobs did. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spillBytes = 0L
  val schedDelayMs = mutable.ArrayBuffer.empty[Double]

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spillBytes += o.spillBytes
    schedDelayMs ++= o.schedDelayMs
  }

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "spill_bytes" -> spillBytes)
}

object Work {
  def sum(ws: Iterable[Work]): Work = { val t = new Work; ws.foreach(t.add); t }
}

/** A SparkListener that attributes every job, stage and task to the tag
  * the launching thread carried in the local property [[Ledger.TagKey]].
  * Jobs launched without a tag (streaming micro-batches, which run on
  * the query's own thread) land under [[Ledger.Untagged]]. */
final class Ledger extends SparkListener {
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val byTag = mutable.HashMap.empty[String, Work]

  private def work(tag: String): Work = byTag.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.TagKey)))
      .getOrElse(Ledger.Untagged)
    work(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    work(stageTag.getOrElse(e.stageInfo.stageId, Ledger.Untagged)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageTag.getOrElse(e.stageId, Ledger.Untagged))
    w.tasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spillBytes += m.diskBytesSpilled
      if (info != null) w.schedDelayMs += math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime).toDouble
    }
  }

  /** Totals over every tag. Call after [[Ledger.drain]]. */
  def total: Work = synchronized(Work.sum(byTag.values))

  def tags: Map[String, Work] = synchronized(byTag.toMap)
  def reset(): Unit = synchronized { byTag.clear() }
}

object Ledger {
  val TagKey = "graft.perfbench.tag"
  val Untagged = "-"

  /** Runs `f` with this thread's jobs tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far, so the ledger's totals cover all finished jobs. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.ListenerDrain(sc)
}

/** Keeps every streaming progress report, stamped with its arrival. */
final class StreamCapture extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(_.batchId)
}

/** SQL metrics read from a frame's final adaptive plan. */
object PlanMetrics {
  /** Every node of the executed plan, descending through adaptive
    * wrappers, query stages and reused exchanges. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Output rows of every join operator the frame's last action ran. */
  def joinOutputRows(df: DataFrame): Long =
    nodes(df.queryExecution.executedPlan)
      .filter(n => n.nodeName.contains("Join") || n.nodeName.contains("NestedLoop"))
      .flatMap(_.metrics.get("numOutputRows"))
      .map(_.value).sum
}
