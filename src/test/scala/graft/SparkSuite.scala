package graft

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM, so every suite reuses this). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf: String = "/root/testdata/sf0.001"

  private val TagKey = "graft.spec.tag"
}

abstract class SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  import SparkSuite.TagKey

  lazy val spark: SparkSession = SparkSuite.spark
  def sf: String = SparkSuite.Sf

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory, deleted with everything in it when the
    * suite ends. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  /** Regular files anywhere under `dir`. */
  def regularFiles(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).count()
    finally walk.close()
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))

  /** Jobs started while `body` runs that `counted` accepts, read after
    * the listener bus has delivered every event posted so far. */
  private def jobsStartedWhile(counted: SparkListenerJobStart => Boolean)(
      body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try body finally {
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Jobs started on this thread while `body` runs, counted by a
    * listener keyed on a thread-local tag (so background jobs of other
    * suites never count). */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-${java.util.UUID.randomUUID()}"
    jobsStartedWhile(e => Option(e.properties).exists(_.getProperty(TagKey) == tag)) {
      sc.setLocalProperty(TagKey, tag)
      try body finally sc.setLocalProperty(TagKey, null)
    }
  }

  /** Jobs of the SQL queries whose action is called from class `caller`
    * while `body` runs, on any thread. For work that `body` hands to
    * threads which do not inherit [[jobsStartedBy]]'s tag, such as an
    * HTTP server's handler pool. A query's jobs all carry its execution
    * id, broadcast and adaptive stage jobs included. */
  def jobsOfQueriesFrom(caller: Class[_])(body: => Unit): Int = {
    val sc = spark.sparkContext
    val frame = caller.getName + "."
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val starts = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.details.contains(frame) =>
          ours.add(s.executionId.toString)
        case _ =>
      }
    }
    sc.addSparkListener(starts)
    try jobsStartedWhile(e => Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .exists(ours.contains))(body)
    finally sc.removeSparkListener(starts)
  }
}
