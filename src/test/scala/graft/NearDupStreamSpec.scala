package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.NearDupStream

/** Ingestion-time near-dup detection ≡ the batch poly-MinHash LSH
  * pipeline on the same corpus: streaming in docs (across several
  * micro-batches, so cross-batch pairs exercise the keyed state) must
  * surface exactly the candidate pairs the batch self-join finds, with
  * identical Jaccard estimates. */
class NearDupStreamSpec extends SparkSuite {

  test("streamed near-dup pairs ≡ batch minhash_dedup_poly on the fixture corpus") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = sources.Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id")
      .as[(Long, String)].collect()
    // three micro-batches: a pair whose members arrive in different
    // batches is only found if bucket state persists across batches
    val chunks = docs.grouped((docs.length / 3).max(1)).toSeq

    val input = MemoryStream[(Long, String)]
    val q = NearDupStream.nearDupPairs(spark, input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append).start()
    try {
      chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
      // batch emits DISTINCT pairs; the stream double-fires multi-band
      // collisions exactly like the batch join pre-distinct, so
      // compare as sets — but ALSO pin that every duplicate emission
      // agrees on the estimate (same-sig invariant)
      val streamedRows = spark.table("neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val streamed = streamedRows.toSet
      assert(streamedRows.groupBy(t => (t._1, t._2)).values
        .forall(_.map(_._3).distinct.length == 1),
        "multi-band emissions of one pair disagree on est_jaccard_milli")
      val batch = operators.SimilarityOps.minhashDedupPoly(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}; " +
          s"batch-only: ${(batch -- streamed).take(5)}")
      assert(batch.nonEmpty, "fixture produced no near-dup pairs")
    } finally q.stop()
  }

  test("watermarked variant: in-horizon near-dup paired, past-horizon member evicted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // identical content (Jaccard 1 → collides in every band; the
    // estimate math itself is pinned by the batch-equality test), plus
    // an unrelated text to advance the watermark
    val text = ("tok " * 30).trim
    val near = text
    val other = Seq.tabulate(30)(i => s"w$i").mkString(" ")
    def ts(t: String) = java.sql.Timestamp.valueOf(t)

    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = NearDupStream.nearDupPairsWithinWatermark(spark,
        input.toDF().toDF("doc_id", "ingest_ts", "text"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName("neardup_wm")
      .outputMode(OutputMode.Append).start()
    try {
      def pairs() = spark.table("neardup_wm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      input.addData((1L, ts("2024-01-01 10:00:00"), text))
      q.processAllAvailable()
      // in-horizon near-dup: paired
      input.addData((2L, ts("2024-01-01 10:05:00"), near))
      q.processAllAvailable()
      assert(pairs().contains((1L, 2L)), s"in-horizon pair missing: ${pairs()}")
      // advance the watermark past 10:05 + 10 min → docs 1,2 evicted
      input.addData((3L, ts("2024-01-01 11:00:00"), other))
      q.processAllAvailable()
      // the same near-dup content arriving after the horizon is NOT
      // paired with the evicted members — the documented state bound
      input.addData((4L, ts("2024-01-01 11:01:00"), text))
      q.processAllAvailable()
      assert(!pairs().exists(p => p._2 == 4L),
        s"past-horizon member was not evicted: ${pairs()}")
      // but the fresh arrival seeds new state: an in-horizon follower pairs
      input.addData((5L, ts("2024-01-01 11:02:00"), near))
      q.processAllAvailable()
      assert(pairs().contains((4L, 5L)), s"re-seeded pair missing: ${pairs()}")
    } finally q.stop()
  }

  test("bucketStep emits each cross-member pair once, in deterministic order") {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // pure-function check through the test harness-free path: prior
    // state {1}, arrivals {3, 2} (out of order) → pairs (1,2),(1,3),
    // (2,3) with id-sorted processing
    val sig1 = Seq(1L, 2L, 3L, 4L)
    val sig2 = Seq(1L, 2L, 3L, 9L)
    val sig3 = Seq(1L, 8L, 8L, 8L)
    val state = new TestGroupState(Some(List(NearDupStream.DocSig(1, sig1))))
    val out = NearDupStream.bucketStep(
      Iterator(NearDupStream.DocSig(3, sig3), NearDupStream.DocSig(2, sig2)),
      state).toList
    assert(out.map(p => (p.a_id, p.b_id)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // id-sorted arrival processing: doc 2's pair precedes doc 3's
    assert(out.head.b_id == 2L)
    // est over 4-perm stub sigs: 3/4 match → 188 with PolyPerms=16
    // scaling is wrong — estMilli divides by PolyPerms(16), so a 4-slot
    // sig yields 3/16 → 188‰; the unit here is "matching permutations
    // out of PolyPerms", consistent because production sigs are 16-long
    assert(out.head.est_jaccard_milli == math.round(1000.0 * 3 / 16))
    assert(state.updated.exists(_.map(_.docId).toSet == Set(1L, 2L, 3L)))
  }

  test("stream-static index check ≡ batch dedup_incremental's dup_existing arm") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = sources.Tables.documents(spark, sf).select("doc_id", "text")
    val isNew = pmod(col("doc_id"), lit(5)) === 0
    val dir = tempDir("graft-idx-stream").toString
    operators.SimilarityOps.buildSigIndex(spark, docs.filter(!isNew), dir)

    val arrivals = docs.filter(isNew).orderBy("doc_id")
      .as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    val q = NearDupStream
      .nearDupAgainstIndex(spark, input.toDF().toDF("doc_id", "text"), dir)
      .writeStream.format("memory").queryName("idxdup")
      .outputMode(OutputMode.Append).start()
    try {
      arrivals.grouped((arrivals.length / 2).max(1))
        .foreach { c => input.addData(c: _*); q.processAllAvailable() }
      // min verified match per arriving doc, collapsing multi-band fires
      val got = spark.table("idxdup").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      val batch = operators.SimilarityOps.dedupIncremental(spark, sf).collect()
        .filter(_.getString(1) == "dup_existing")
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(batch.nonEmpty, "fixture has no dup_existing docs")
      assert(got == batch,
        s"stream-only: ${(got.toSet -- batch.toSet).take(5)}; " +
          s"batch-only: ${(batch.toSet -- got.toSet).take(5)}")
    } finally q.stop()
  }
}

/** Minimal GroupState stub for exercising bucketStep as a pure function. */
class TestGroupState[S](initial: Option[S])
    extends org.apache.spark.sql.streaming.GroupState[S] {
  var updated: Option[S] = initial
  override def exists: Boolean = updated.isDefined
  override def get: S = updated.get
  override def getOption: Option[S] = updated
  override def update(newState: S): Unit = updated = Some(newState)
  override def remove(): Unit = updated = None
  override def hasTimedOut: Boolean = false
  override def setTimeoutDuration(durationMs: Long): Unit = ()
  override def setTimeoutDuration(duration: String): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long): Unit = ()
  override def setTimeoutTimestamp(timestampMs: Long, additionalDuration: String): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date): Unit = ()
  override def setTimeoutTimestamp(timestamp: java.sql.Date, additionalDuration: String): Unit = ()
  override def getCurrentWatermarkMs(): Long = 0L
  override def getCurrentProcessingTimeMs(): Long = 0L
}
