package graft

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TestGroupState}

import graft.streaming.{NearDupStream, ProbeAppend}
import graft.streaming.NearDupStream.{DocSig, TimedDocSig}

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

  test("re-delivered doc adds no duplicate bucket member and re-emits no pairs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = Seq.tabulate(30)(i => s"w$i").mkString(" ")
    val input = MemoryStream[(Long, String)]
    val q = NearDupStream.nearDupPairs(spark, input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_redeliver")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, text), (2L, text)); q.processAllAvailable()
      // at-least-once source re-delivers doc 1, then a new member 3
      // arrives: without the state guard, 3 would pair against TWO
      // copies of 1 in every band
      input.addData((1L, text)); q.processAllAvailable()
      input.addData((3L, text)); q.processAllAvailable()
      val counts = spark.table("neardup_redeliver").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
        .groupBy(identity).map { case (p, v) => p -> v.size }
      // identical text collides in every band: one emission per band
      val bands = operators.SimilarityOps.PolyBands
      assert(counts == Map((1L, 2L) -> bands, (1L, 3L) -> bands, (2L, 3L) -> bands),
        s"expected each pair once per band, got $counts")
    } finally q.stop()
  }

  test("bucketStep emits each cross-member pair once, in deterministic order") {
    // pure-function check of the shared step with the near-dup pair
    // function: prior state {1}, arrivals {3, 2} (out of order) →
    // pairs (1,2),(1,3),(2,3) with id-sorted processing
    val sig1 = Seq(1L, 2L, 3L, 4L)
    val sig2 = Seq(1L, 2L, 3L, 9L)
    val sig3 = Seq(1L, 8L, 8L, 8L)
    val state = unboundedState(Some(List(DocSig(1, sig1))))
    val out = ProbeAppend.step(Iterator(DocSig(3, sig3) -> true, DocSig(2, sig2) -> true),
      state)(_.docId, None)(NearDupStream.pairOf).toList
    assert(out.map(p => (p.a_id, p.b_id)).toSet ==
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // id-sorted arrival processing: doc 2's pair precedes doc 3's
    assert(out.head.b_id == 2L)
    // docs 1 and 2 agree on 3 of their 4 stub slots; the estimate counts
    // matching slots out of PolyPerms (16), the production signature
    // length, so it reads 3/16 → 188‰
    assert(out.head.est_jaccard_milli == math.round(1000.0 * 3 / 16))
    assert(state.getOption.exists(_.map(_.docId).toSet == Set(1L, 2L, 3L)))
  }

  test("a probe copy (home = false) pairs with the members but is not appended") {
    val sig = Seq(1L, 2L)
    val state = unboundedState(Some(List(DocSig(1, sig))))
    val out = ProbeAppend.step(Iterator(DocSig(2, sig) -> false), state)(
      _.docId, None)(NearDupStream.pairOf).toList
    assert(out.map(p => (p.a_id, p.b_id)) == List((1L, 2L)))
    assert(!state.isUpdated && state.getOption.contains(List(DocSig(1, sig))))
    // a key that only sees probe copies never stores an empty list
    val fresh = unboundedState(None)
    assert(ProbeAppend.step(Iterator(DocSig(3, sig) -> false), fresh)(
      _.docId, None)(NearDupStream.pairOf).isEmpty)
    assert(!fresh.exists && !fresh.isUpdated)
  }

  test("bounded step evicts members below the watermark before probing") {
    val sig = Seq(1L, 2L)
    val state = boundedState(List(TimedDocSig(1, sig, 5000L), TimedDocSig(2, sig, 20000L)),
      watermarkMs = 10000L)
    val out = ProbeAppend.step(Iterator(TimedDocSig(3, sig, 25000L) -> true), state)(
      _.docId, Some((_.tsMillis, 60000L)))(NearDupStream.pairOf).toList
    assert(out.map(p => (p.a_id, p.b_id)) == List((2L, 3L)))
    assert(state.getOption.map(_.map(_.docId)).contains(List(3L, 2L)))
    assert(state.getTimeoutTimestampMs.get == 25000L + 60000L)
    // every member evicted and nothing appended: the state is removed
    val stale = boundedState(List(TimedDocSig(1, sig, 5000L)), watermarkMs = 10000L)
    assert(ProbeAppend.step(Iterator(TimedDocSig(4, sig, 30000L) -> false), stale)(
      _.docId, Some((_.tsMillis, 60000L)))(NearDupStream.pairOf).isEmpty)
    assert(stale.isRemoved)
  }

  test("bounded step re-arms the event-time timeout on a probe-only call") {
    // Spark clears an event-time timeout that a call does not set
    // again, so a call that appends nothing must still re-arm it
    val sig = Seq(1L, 2L)
    val state = boundedState(List(TimedDocSig(2, sig, 20000L)), watermarkMs = 10000L)
    val out = ProbeAppend.step(Iterator(TimedDocSig(4, sig, 30000L) -> false), state)(
      _.docId, Some((_.tsMillis, 60000L)))(NearDupStream.pairOf).toList
    assert(out.map(p => (p.a_id, p.b_id)) == List((2L, 4L)))
    assert(state.getOption.contains(List(TimedDocSig(2, sig, 20000L))))
    assert(state.getTimeoutTimestampMs.get == 20000L + 60000L)
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

  private def unboundedState(members: Option[List[DocSig]]) =
    TestGroupState.create[List[DocSig]](Optional.ofNullable(members.orNull),
      GroupStateTimeout.NoTimeout, 0L, Optional.empty[Long], false)

  private def boundedState(members: List[TimedDocSig], watermarkMs: Long) =
    TestGroupState.create[List[TimedDocSig]](Optional.of(members),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(watermarkMs), false)
}
