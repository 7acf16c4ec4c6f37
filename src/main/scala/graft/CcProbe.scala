package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: head-to-head of the two
  * components engines on ENGINEERED pair-graph topologies at probe
  * scale — the evidence behind the auto dispatch in
  * [[graft.operators.GraphOps.components]].
  *
  * Measured at n=10k (this host, after the round-8 integer-DIV fix —
  * the earlier star-forest rows ran an accidentally-empty graph):
  * chain star 14.8 s / minlabel 6.1 s; star-forest (9999 real nodes)
  * star 1.05 s / minlabel 0.66 s; random star 2.9 s / minlabel 2.5 s — while the REAL dense near-dup pair graphs at the
  * 10× probe run 4× FASTER under star contraction (22.5 s → 5.6 s).
  * The reading: min-label's pointer jumping telescopes label chains
  * that align with the graph (a pure path converges in O(log n)
  * rounds, NOT O(n) — the jump halves the pointer distance every
  * round), and its per-round cost is lower (one phase, no set-equality
  * probe); star contraction's O(log² n) guarantee is topology-blind
  * and wins where jumping can't shortcut — the dense cluster graphs
  * where new minima keep entering regions off the label-pointer paths
  * (the τ=0.30 semantic graph measured 15 min-label rounds). Hence the
  * dispatch: min-label for caller-declared star forests, star
  * contraction for arbitrary DETECTOR pair graphs, conf override for
  * corpora whose pair structure is known to be chain-like.
  *
  * Usage: runMain graft.CcProbe [nNodes] (default 10000)
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10000)
    val spark = GraftSession.builder(8).master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val chain = spark.range(1, n)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // integer DIV, not Column `/` (double division would evaluate the
    // root expression exactly back to id and the src=!=dst filter would
    // empty the graph — making the star-forest rows vacuous)
    val stars = spark.range(1, n)
      .select(expr("(id - 1) DIV 100 * 100 + 1").as("src"), col("id").as("dst"))
      .filter(col("src") =!= col("dst"))
    val rnd = spark.range(1, n)
      .select((xxhash64(col("id")) % (n / 2)).as("a"),
        (xxhash64(col("id") + 7) % (n / 2)).as("b"))
      .select(abs(col("a")).as("a"), abs(col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))

    def time(tag: String, f: => Long): Unit = {
      val t0 = System.nanoTime()
      try {
        val rows = f
        println(f"CCPROBE $tag%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows nodes)")
      } catch {
        case e: Exception =>
          println(f"CCPROBE $tag%-22s FAILED: ${e.getMessage.linesIterator.next()}")
      }
    }
    for ((name, edges) <- Seq("chain" -> chain, "stars" -> stars, "random" -> rnd)) {
      time(s"$name/star",
        operators.GraphOps.starContractComponents(edges).count())
      time(s"$name/minlabel",
        operators.GraphOps.minLabelComponents(edges).count())
    }
    spark.stop()
  }
}
