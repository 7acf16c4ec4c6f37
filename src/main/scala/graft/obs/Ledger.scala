package graft.obs

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The Spark work of one measured block, summed over every job it
  * started. Jobs, stages and tasks repeat exactly for the same plan,
  * and bytes for the same plan over the same data. Compilations count
  * the generated classes Janino had to compile, so they also depend on
  * what the JVM's codegen cache still holds; times do not repeat. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, inputBytes: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0, compilations: Long = 0) {

  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    inputBytes + o.inputBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    compilations + o.compilations)

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_run_ms":$runMs,""" +
      s""""task_cpu_ms":${cpuNs / 1000000},"gc_ms":$gcMs,"input_bytes":$inputBytes,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"compilations":$compilations}"""
}

/** A [[SparkListener]] that sums the work of every job, stage and task
  * it hears about. It is attached only for the length of one
  * [[Ledger.measure]] call; no engine query path registers one. */
final class Ledger private () extends SparkListener {
  private var work = Work()

  private def add(w: Work): Unit = synchronized { work += w }

  override def onJobStart(e: SparkListenerJobStart): Unit = add(Work(jobs = 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(Work(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    add(Option(e.taskMetrics).fold(Work(tasks = 1))(m => Work(tasks = 1,
      runMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      inputBytes = m.inputMetrics.bytesRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.diskBytesSpilled)))

  private def total: Work = synchronized(work)
}

object Ledger {
  /** Janino compilations so far in this JVM. */
  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `body` and returns its value with the work it did on `sc`.
    * The listener bus is drained before the ledger is attached, so no
    * event of an earlier job counts, and again before it is read, so
    * every event of the block's own jobs does. Jobs that other threads
    * start meanwhile count too: measure with nothing else running. */
  def measure[T](sc: SparkContext)(body: => T): (T, Work) = {
    ListenerBusDrain(sc)
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    try {
      val c0 = compilations
      val v = body
      val compiled = compilations - c0
      ListenerBusDrain(sc)
      (v, ledger.total.copy(compilations = compiled))
    } finally sc.removeSparkListener(ledger)
  }
}
