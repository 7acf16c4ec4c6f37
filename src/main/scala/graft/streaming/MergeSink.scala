package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming incremental upsert WITHOUT a transactional table format:
  * the append-log + compaction-on-read pattern (what CDC ingestion
  * looks like on plain parquet before Delta/Iceberg enter the stack;
  * their MERGE is the same logical shape with a transaction log).
  *
  *  - Each micro-batch lands in its own `batch=<id>` partition dir with
  *    per-batch OVERWRITE — so a retried batch REPLACES its own
  *    previous attempt (idempotent), which together with the
  *    checkpoint's exactly-once batch ids gives exactly-once appends.
  *  - Readers compact last-writer-wins with one max_by aggregation
  *    ([[compactedRead]] — the streaming analog of EventOps.cdcLatest;
  *    same plan shape, no window sort).
  *  - A periodic rewrite of old partitions (LayoutOps.compactionPlan
  *    picks the victims) bounds read amplification; not run inline
  *    here — at 100 TB compaction is its own maintenance job.
  */
object MergeSink {

  /** Idempotent per-batch landing: retry of batch N overwrites ONLY
    * `batch=N`. Append-mode writes would duplicate on retry; full
    * overwrite would drop history — per-partition overwrite is the
    * exactly-once middle ground. A `_graft_committed` marker is created
    * AFTER the write completes so readers can distinguish a committed
    * batch from one mid-(re)write — overwrite deletes the whole dir
    * (marker included) before writing, so the marker's presence means
    * the batch's files are complete. */
  def mergeBatch(batch: DataFrame, logDir: String, batchId: Long): Unit = {
    val dir = s"$logDir/batch=$batchId"
    batch.write.mode("overwrite").parquet(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, CommitMarker)
    val fs = marker.getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    fs.create(marker, true).close()
  }

  private val CommitMarker = "_graft_committed"

  /** Start the CDC ingestion stream: every micro-batch appends its own
    * partition under `logDir`; `checkpointDir` carries the batch-id
    * ledger that makes retries idempotent. */
  def start(keyed: DataFrame, logDir: String, checkpointDir: String): StreamingQuery =
    keyed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: DataFrame, id: Long) => mergeBatch(b, logDir, id))
      .start()

  /** Last-writer-wins view over the log: one hash aggregation keyed by
    * (user_id, event_type), latest row selected by event_id via max_by
    * — identical to the batch cdc_latest compaction (spec-asserted).
    *
    * Isolation from in-flight writes: only batch dirs carrying the
    * commit marker are read, so a batch mid-(re)write — whose dir
    * exists but is incomplete — is excluded instead of surfacing a
    * partial batch. Residual window: a COMMITTED dir deleted by a
    * crash-retry between our listing and plan resolution fails root-
    * path resolution (`ignoreMissingFiles` only suppresses files that
    * vanish AFTER the file index is built, never missing root paths) —
    * that read re-lists with linear backoff (5 attempts, ~2 s total:
    * the rewrite it is waiting out is one micro-batch's files), then
    * rethrows if the log still has no readable committed batch. */
  def compactedRead(spark: SparkSession, logDir: String): DataFrame =
    committedRead(spark, logDir)
      .groupBy("user_id", "event_type")
      .agg(max("event_id").as("last_event_id"),
        max_by(col("cents"), col("event_id")).as("last_cents"),
        count(lit(1)).as("n_versions"))

  /** The committed-batches view of a [[mergeBatch]] log, factored so
    * every sink built on the marker protocol (the CDC compaction
    * above, [[IngestPipeline]]'s curated landing) shares one reader:
    * only marker-carrying batch dirs are read; the result carries the
    * `batch` partition column. */
  def committedRead(spark: SparkSession, logDir: String): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(logDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val MaxAttempts = 5
    var attempt = 0
    var result: DataFrame = null
    while (result == null) {
      attempt += 1
      try {
        val committed = fs.listStatus(base).filter(_.isDirectory)
          .map(_.getPath)
          .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, CommitMarker)))
          .map(_.toString).sorted
        require(committed.nonEmpty, s"no committed batches under $logDir")
        result = spark.read
          .option("ignoreMissingFiles", "true")
          .option("basePath", logDir)
          .parquet(committed.toIndexedSeq: _*)
      } catch {
        // retry BOTH shapes of the race: a listed dir vanished before
        // plan resolution (AnalysisException), or the only committed
        // batch is mid-rewrite so the filtered listing came up empty
        // (IllegalArgumentException from the require)
        case e @ (_: org.apache.spark.sql.AnalysisException |
                  _: IllegalArgumentException) if attempt < MaxAttempts =>
          Thread.sleep(100L * attempt)
      }
    }
    result
  }
}
