package graft

import graft.operators.SimilarityOps

/** The IVF index LIFECYCLE: [[SimilarityOps.buildIvfIndex]] persists
  * centroids + cid-partitioned cell assignments once (the offline
  * half); [[SimilarityOps.annIvfProbe]] answers searches from the
  * stored index (the online half) — bit-identical to the fused
  * train+search query, with zero training work in the plan.
  */
class IvfIndexSpec extends SparkSuite {

  test("probe over a persisted index ≡ annIvfTopk, with no training in the plan") {
    val dir = tempDir("graft-ivf").toString
    SimilarityOps.buildIvfIndex(spark, sf, dir)

    // layout: cells is written partitioned by cid — one directory per
    // populated cell, so an nprobe cell filter is partition pruning at
    // the scan (files of unprobed cells are never opened)
    val cellDirs = new java.io.File(s"$dir/cells").listFiles().toSeq
      .filter(_.getName.startsWith("cid="))
    info(s"${cellDirs.size} populated cell partitions")
    assert(cellDirs.nonEmpty && cellDirs.size <= 16,
      s"expected 1..16 cid= partitions, got ${cellDirs.size}")

    // the fused query trains in-plan (Lloyd rounds leave their
    // localCheckpoint RDD scans = LogicalRDD nodes carrying the
    // CENTROID schema (cid, cv)); the probe's plan must contain NO
    // centroid RDD — its index arrives from parquet. The probe DOES
    // legitimately carry one non-training LogicalRDD: the 5-row
    // materialized query frame (query_id, qv — the round-10 fix that
    // stopped re-deriving queries with extra store scans), so the
    // round-9 blanket no-LogicalRDD proxy would false-positive.
    val probe = SimilarityOps.annIvfProbe(spark, sf, dir)
    val fused = SimilarityOps.annIvfTopk(spark, sf, 2)
    def rddSchemas(df: org.apache.spark.sql.DataFrame): Seq[Set[String]] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          r.output.map(_.name).toSet
      }
    val probeRdds = rddSchemas(probe)
    assert(!probeRdds.exists(_.contains("cv")),
      s"training (centroid RDD) leaked into the probe plan: $probeRdds")
    assert(probeRdds.forall(_ == Set("query_id", "qv")),
      s"unexpected non-query LogicalRDD in the probe plan: $probeRdds")
    assert(rddSchemas(fused).exists(_.contains("cv")),
      "fused form no longer trains in-plan — update this spec")

    val got = probe.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    val want = fused.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSeq
    assert(got == want, "stored-index probe diverged from the fused query")
    assert(got.nonEmpty)
  }

  test("ann_ivf_probe query form: builds once, probes training-free, ≡ fused") {
    // the (spark, sfDir) query form memoizes the index build per
    // (session, sfDir) — second call must reuse the same stored index
    val first = SimilarityOps.annIvfProbeQuery(spark, sf)
    val rdds = first.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.output.map(_.name).toSet
    }
    assert(rdds.forall(_ == Set("query_id", "qv")),
      s"training leaked into the query-form probe plan: $rdds")
    val got = first.collect().map(_.toSeq).toSeq
    assert(got == SimilarityOps.annIvfTopk(spark, sf, 2).collect().map(_.toSeq).toSeq,
      "query-form probe diverged from the fused train+search query")
    assert(got == SimilarityOps.annIvfProbeQuery(spark, sf).collect().map(_.toSeq).toSeq,
      "second (memoized) invocation diverged")
  }
}
