package graft.perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One named measurement with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back to [[Main]]: the gated metrics (under the
  * names BENCHMARK.json lists), the workload's own detailed metrics
  * (printed for people and written to the run file), the input
  * description, and the operation tally the correctness checks
  * produced. */
final case class Outcome(
    gated: Seq[Metric],
    named: Seq[Metric],
    inputs: Seq[(String, Any)],
    attempted: Long,
    failed: Long,
    errors: Seq[String])

/** Tally of attempted operations and the first few failure reasons. */
final class Tally {
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  def ok(): Unit = synchronized { attempted += 1 }
  def fail(why: String): Unit = synchronized {
    attempted += 1; failed += 1
    if (errors.size < 20) errors += why
  }
  def check(cond: Boolean, why: => String): Unit = if (cond) ok() else fail(why)
  def counts: (Long, Long) = synchronized((attempted, failed))
  def reasons: Seq[String] = synchronized(errors.toList)
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest whole percentile, at most p99, that leaves at least ten
    * samples beyond it, as (label, value); p50 when there are too few. */
  def tail(xs: Seq[Double]): (String, Double) = {
    val p = math.min(99, math.floor(100 * (1 - 10.0 / xs.size)).toInt)
    if (p <= 50) "p50" -> median(xs) else s"p$p" -> pct(xs, p / 100.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** JSON for the result line and the run files, through Jackson (with
  * its Scala module, so Scala maps, sequences and options serialise as
  * JSON objects, arrays and nullable values). */
object Report {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Name → `{value, unit}`, in the given order. */
  def metrics(ms: Seq[Metric]): ListMap[String, ListMap[String, Any]] =
    ListMap(ms.map(m => m.name -> ListMap("value" -> m.value, "unit" -> m.unit)): _*)

  /** A ledger tag's counters as one object. */
  def counters(ledger: Ledger): Seq[ListMap[String, Any]] =
    ledger.tags.toSeq.sortBy(_._1).map { case (t, w) => ListMap(("tag" -> t) +: w.fields: _*) }
}

/** The per-layer metrics every traced run reports, under one name on
  * every workload. An "op" is the workload's unit of work: one API
  * request, one curation pipeline pass, or one streaming trigger. */
object Layer {
  val Names: Seq[String] = Seq(
    "construct_ms", "construct_jobs", "plan_ms", "exec_ms",
    "jobs_per_op", "stages_per_op", "tasks_per_op",
    "task_run_ms_per_op", "task_cpu_ms_per_op", "gc_ms_per_op",
    "input_mb_per_op", "shuffle_write_mb_per_op", "shuffle_read_mb_per_op",
    "spill_mb_per_op", "sched_delay_p99_ms", "core_util", "trace_overhead_pct")
}
