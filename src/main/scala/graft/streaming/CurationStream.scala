package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exprs
import graft.operators.TextOps

/** Curation as a STREAMING INGESTION job — the same three gates as the
  * batch pipeline ([[graft.operators.TextOps.pipelineCurate]]), applied
  * while documents arrive instead of over a finished corpus (what a
  * 100 TB pipeline actually runs: curation at ingestion, not as a
  * nightly rewrite). Spec-asserted stream ≡ batch on the same data.
  *
  * Streaming-legal re-expression of each gate:
  *  - quality: stateless per-row predicate — the SAME Column object as
  *    batch ([[TextOps.isQuality]]), so the gate can't fork;
  *  - decontamination: the batch form's broadcast join + per-doc count
  *    becomes a per-row `array_intersect` against the eval set's
  *    shingle hashes. Eval sets are dim-sized at ANY corpus scale
  *    (benchmarks are small by construction), so shipping them as an
  *    array literal/broadcast is the right plan — at extreme sizes a
  *    bloom filter replaces the exact array, same shape. No stream
  *    aggregation, no shuffle.
  *  - exact dedup: `dropDuplicates` on the content fingerprint — keyed
  *    state holding one fingerprint per distinct document. First
  *    arrival wins, which equals the batch min-doc_id canonical pick
  *    whenever ingestion is id-ordered; unbounded-history dedup is the
  *    semantic here, and [[curateWithinWatermark]] is the bounded-state
  *    production form once "duplicate" has a time horizon (eviction and
  *    re-admission pinned by CurationStreamSpec; the raw operator's ST9
  *    analog lives in StreamingE2ESpec).
  */
object CurationStream {

  /** Hashed distinct eval-set shingles, computed batch-side once per
    * benchmark release (xxhash64 — 8-byte currency, matching the
    * stream side's hashed compare). Memoized per (session, sfDir) in
    * [[graft.operators.Memo]], so repeated spec/bench calls pay the
    * eval-set collect once. */
  def benchShingleHashes(spark: SparkSession, sfDir: String): Array[Long] =
    graft.operators.Memo.cached(spark, s"benchShingleHashes:$sfDir") {
      graft.GraftExtensions.register(spark)
      import spark.implicits._
      graft.sources.Tables.documents(spark, sfDir)
        .filter(col("doc_id") % 100 === 0)
        .select(explode(call_function("graft_shingles", col("text"), lit(3)))
          .as("tok"))
        .distinct()
        .select(xxhash64(col("tok")))
        .as[Long].collect().sorted
    }

  /** Quality gate + decontamination + fingerprint, the SINGLE
    * definition both public forms dedup behind — the gates must never
    * fork between the exact and the bounded form (same principle as
    * [[TextOps.isQuality]] not forking between batch and stream). */
  private def gated(spark: SparkSession, docs: DataFrame,
      benchHashes: Array[Long]): DataFrame = {
    graft.GraftExtensions.register(spark)
    val sh: Column = call_function("graft_shingles", col("text"), lit(3))
    docs
      .filter(TextOps.isQuality(col("text")))
      .withColumn("sh_h", transform(sh, t => xxhash64(t)))
      // graft_shingles emits DISTINCT shingles, so |intersect| is the
      // batch form's per-doc distinct-overlap count
      .filter(lit(4) * size(array_intersect(col("sh_h"), lit(benchHashes)))
        < size(col("sh_h")))
      .withColumn("fp", md5(col("text")))
  }

  private val Output = Seq(col("doc_id"),
    Exprs.tokenCount(col("text")).as("n_tokens"))

  /** The streaming curation transform. `docs` is a streaming frame with
    * (doc_id, text); output is the curated (doc_id, n_tokens) in append
    * mode. */
  def curate(spark: SparkSession, docs: DataFrame,
      benchHashes: Array[Long]): DataFrame =
    gated(spark, docs, benchHashes)
      .dropDuplicates("fp")
      .select(Output: _*)

  /** The state-BOUNDED production form of [[curate]]: identical gates
    * (shared, not copied), but the dedup keeps a fingerprint only
    * within `horizon` of the watermark
    * (`dropDuplicatesWithinWatermark`), so state is bounded by the
    * duplicate horizon instead of growing with corpus cardinality
    * forever. `docs` must carry an `ingest_ts` timestamp (the
    * micro-batch arrival time in a real deployment). The unbounded
    * [[curate]] stays as the exact batch-equivalent form — the horizon
    * is the standard accuracy/state trade: a duplicate arriving later
    * than `horizon` after its original is re-admitted (spec-pinned,
    * both directions). */
  def curateWithinWatermark(spark: SparkSession, docs: DataFrame,
      benchHashes: Array[Long], horizon: String = "1 hour"): DataFrame =
    gated(spark, docs.withWatermark("ingest_ts", horizon), benchHashes)
      .dropDuplicatesWithinWatermark("fp")
      .select(Output: _*)
}
