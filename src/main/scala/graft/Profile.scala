package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.obs.{Ledger, Work}
import graft.operators.SimilarityOps

/** What a [[SparkEntry]] query did, read from Spark rather than timed by
  * hand. A diagnostic main; `Verify` and `Bench` do not use it.
  *
  * {{{
  * runMain graft.Profile <dir> [q…]
  * runMain graft.Profile --plans <dir> <outDir> <tag> [q…]
  * runMain graft.Profile --skew <dir>…
  * }}}
  *
  *  - Default mode: after [[Bench.warmUp]], one JSON line per query.
  *    `build` is the [[Ledger]] of DataFrame construction (the eager
  *    `localCheckpoint`, count and collect jobs some queries start
  *    before their action), `action` the ledger of `count()`, the
  *    action [[Bench]] times. With them: the row count, wall ms of each
  *    half, planning ms of the action from its `QueryPlanningTracker`,
  *    and the output rows and time metrics of every node of the final
  *    adaptive plan. A last line sums both ledgers over all queries.
  *  - `--plans`: after [[Bench.warmUp]], writes each query's formatted
  *    physical plan to `<outDir>/<q>_<tag>.txt`, the input of
  *    `tools/plan_diff.py`.
  *  - `--skew`: per store, one line per [[SimilarityOps.bucketFamilies]]
  *    family — occupied buckets, largest bucket and Σc² of the very
  *    frame and keys its fanout rule reads.
  *
  * No query list means [[Bench.headline]]. `SPARK_GRAFT_CPUS` sets
  * `local[n]` (default: the host's cores).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def names(rest: Seq[String]): Seq[String] = {
      val unknown = rest.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      if (rest.isEmpty) Bench.headline else rest
    }
    try args.toList match {
      case "--plans" :: dir :: outDir :: tag :: rest =>
        val qs = names(rest)
        Bench.warmUp(spark, dir, "profile")
        plans(spark, dir, outDir, tag, qs)
      case "--skew" :: dirs if dirs.nonEmpty =>
        for (d <- dirs; (family, buckets, maxC, sumSq) <- skew(spark, d))
          println(s"""{"dir":"$d","family":"$family","buckets":$buckets,"max":$maxC,"sum_sq":$sumSq}""")
      case dir :: rest if !dir.startsWith("--") =>
        val qs = names(rest)
        Bench.warmUp(spark, dir, "profile")
        val runs = qs.map { q =>
          val run = profile(spark, dir, q)
          println(run.fold(s"""{"query":"$q","failed":true}""")(_.json))
          run
        }
        println(total(runs.flatten))
      case _ => sys.error("usage: Profile <dir> [q…] | --plans <dir> <outDir> <tag> [q…] | --skew <dir>…")
    } finally spark.stop()
  }

  /** One profiled query: its two ledgers, timings and final-plan
    * metrics. */
  final case class Run(query: String, rows: Long, buildMs: Double,
      actionMs: Double, planMs: Long, build: Work, action: Work,
      nodes: Seq[String]) {
    def json: String =
      f"""{"query":"$query","rows":$rows,"build_ms":$buildMs%.1f,"action_ms":$actionMs%.1f,""" +
        s""""plan_ms":$planMs,"build":${build.json},"action":${action.json},""" +
        nodes.mkString(""""nodes":[""", ",", "]}")
  }

  /** Builds `q` and counts it, each half under its own [[Ledger]];
    * `None` when either half throws (the message goes to stderr). */
  def profile(spark: SparkSession, dir: String, q: String): Option[Run] = {
    val sc = spark.sparkContext
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") actions.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val t0 = System.nanoTime()
      val (df, build) = Ledger.measure(sc)(SparkEntry.queries(q)(spark, dir))
      val t1 = System.nanoTime()
      spark.listenerManager.register(listener)
      val (rows, action) =
        try Ledger.measure(sc)(df.count())
        finally spark.listenerManager.unregister(listener)
      val t2 = System.nanoTime()
      // the ledger drained the bus, so the count's execution has arrived
      val qe = actions.peek()
      Some(Run(q, rows, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        qe.tracker.phases.values.map(_.durationMs).sum, build, action,
        planNodes(qe.executedPlan).flatMap(nodeJson)))
    } catch { case e: Throwable =>
      System.err.println(s"[profile] $q failed: ${e.getMessage}")
      None
    }
  }

  /** Every node of an executed plan, descending through the adaptive
    * wrapper, query stages and subqueries; a reused exchange is listed
    * once, without the subtree it reuses. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** A node's output rows and time metrics (ms), if it set any. */
  private def nodeJson(p: SparkPlan): Option[String] = {
    val set = p.metrics.toSeq.sortBy(_._1).filter { case (_, m) => !m.isZero && m.value >= 0 }
    val rows = set.collectFirst { case ("numOutputRows", m) => s""","rows":${m.value}""" }
    val times = set.collect {
      case (k, m) if m.metricType == "timing" => s""""$k":${m.value}"""
      case (k, m) if m.metricType == "nsTiming" => s""""$k":${m.value / 1000000}"""
    }
    if (rows.isEmpty && times.isEmpty) None
    else Some(s"""{"node":"${p.nodeName}"""" + rows.getOrElse("") +
      (if (times.isEmpty) "" else times.mkString(""","ms":{""", ",", "}")) + "}")
  }

  /** The last line of the default mode: both ledgers summed over every
    * query that ran. */
  private def total(runs: Seq[Run]): String = {
    def sum(f: Run => Work) = runs.map(f).foldLeft(Work())(_ + _)
    f"""{"total":{"queries":${runs.size},"build_ms":${runs.map(_.buildMs).sum}%.1f,""" +
      f""""action_ms":${runs.map(_.actionMs).sum}%.1f,"plan_ms":${runs.map(_.planMs).sum},""" +
      s""""build":${sum(_.build).json},"action":${sum(_.action).json}}}"""
  }

  /** Writes each query's formatted physical plan to
    * `<outDir>/<q>_<tag>.txt`. */
  def plans(spark: SparkSession, dir: String, outDir: String, tag: String,
      queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { n =>
      val txt =
        try SparkEntry.queries(n)(spark, dir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
    }
  }

  /** Per bucket family of the store at `dir`: its name, occupied
    * buckets, largest bucket and Σc². */
  def skew(spark: SparkSession, dir: String): Seq[(String, Long, Long, Long)] =
    SimilarityOps.bucketFamilies.map { f =>
      val (buckets, maxC, sumSq) =
        SimilarityOps.bucketHistogram(f.frame(spark, dir), f.keys)
      (f.name, buckets, maxC, sumSq)
    }
}
