package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What every workload gets: the session, its run directory, the seed,
  * the measuring window, and the tracing switch. */
final class Ctx(val spark: SparkSession, val dir: Path, val seed: Long,
    val seconds: Double, val trace: Boolean, val cores: Int) {
  /** How often a workload repeats its set-up, reporting the median:
    * three times, or once in a traced run, which does not report
    * `setup_s`. */
  val setupReps: Int = if (trace) 1 else 3

  def sub(name: String): String = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <task_api|curation_batch|task_lifecycle> --seed <n>
  *      --seconds <s> --trace <0|1> --dir <run dir>
  * }}}
  *
  * Prints the workload's named metrics one per line, then as its last
  * line one JSON object: `correct`, `attempted`, `failed` and `metrics`
  * (the gated end-to-end metrics, or with `--trace 1` the per-layer
  * ones). Spans and counters of a traced run go to `<dir>/trace.json`.
  * Exits 1 when an output check failed. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "task_api" -> TaskApi.run,
    "curation_batch" -> Curation.run,
    "task_lifecycle" -> Lifecycle.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = Paths.get(opts("dir")).toAbsolutePath
    Files.createDirectories(dir)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = session(dir, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, dir, seed, seconds, trace, cores)
    val out = try run(ctx) catch {
      case e: Throwable =>
        // no result line; exit now rather than wait on non-daemon threads
        e.printStackTrace()
        sys.exit(1)
    } finally spark.stop()

    val (setup, rest) = out.gated.partition(_.name == "setup_s")
    val gated = setup.map(m => m.copy(value = m.value + sessionS)) ++ rest :+
      Metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    val named = Metric("session_s", sessionS, "s") +: out.named
    (gated ++ named).foreach(m => println(f"${m.name}%-40s ${m.value}%14.4f ${m.unit}"))
    val failedRatio = out.failed.toDouble / math.max(out.attempted, 1)
    println(f"${"failed_ratio"}%-40s ${failedRatio}%14.4f ratio")
    out.inputs.foreach { case (k, v) => println(s"input.$k = ${Report.json(v)}") }
    out.errors.foreach(e => println(s"FAILED: $e"))

    val reported = if (trace) named.filter(m => Layer.Names.contains(m.name))
      else gated
    write(dir.resolve("result.json"), Report.json(ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores, "inputs" -> ListMap(out.inputs: _*),
      "metrics" -> Report.metrics(gated ++ named),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "errors" -> out.errors)))
    println(Report.json(ListMap(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Report.metrics(reported))))
    // exit explicitly: HttpFacade.stop leaves its handler pool's
    // non-daemon threads running, which would keep the JVM alive
    sys.exit(if (out.failed > 0) 1 else 0)
  }

  /** `local[cores]` with the engine's own session builder; warehouse,
    * metastore and spill space inside the run directory. */
  private def session(dir: Path, cores: Int): SparkSession = {
    val b = GraftSession.builder(cores)
    System.setProperty("derby.stream.error.file", dir.resolve("derby.log").toString)
    val spark = b.master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${dir.resolve("metastore")};create=true")
      .config("spark.sql.streaming.checkpointLocation", dir.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def write(p: Path, s: String): Unit =
    Files.write(p, (s + "\n").getBytes(StandardCharsets.UTF_8))
}
