package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.SemanticStream

/** Ingestion-time semantic near-dup detection ≡ the batch
  * semantic_dedup pair stage on the same store: streaming the vectors
  * across several micro-batches (so cross-batch pairs exercise the
  * per-cell keyed state) must surface exactly the pairs the batch
  * within-cell join finds, with identical integer evidence. */
class SemanticStreamSpec extends SparkSuite {

  test("streamed semantic pairs ≡ batch semantic_dedup on the fixture store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val vecs = sources.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").orderBy("vec_id")
      .as[(Long, Seq[Float])].collect()
    val chunks = vecs.grouped((vecs.length / 3).max(1)).toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    val q = SemanticStream.semanticPairsStream(spark,
        input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("semstream")
      .outputMode(OutputMode.Append).start()
    try {
      chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
      val streamed = spark.table("semstream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = operators.SimilarityOps.semanticDedup(spark, sf)
        .select("a_id", "b_id", "dot", "cos2_e6").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(batch.nonEmpty, "fixture produced no semantic pairs")
      assert(streamed == batch,
        s"stream-only: ${(streamed -- batch).take(5)}; " +
          s"batch-only: ${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("sharded hot-cell form ≡ unsharded pair set (engineered hot cell, cross- and in-batch)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // engineered HOT CELL: positive multiples of one direction all
    // quantize to the same q8 signature → one cell holds every vector
    // and every pair qualifies (cos = 1); plus a cold cell (alternating
    // signs) to prove cross-cell isolation survives sharding
    val hot: Seq[Float] = Seq.tabulate(8)(i => (i + 1).toFloat)
    val cold: Seq[Float] = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val vecs: Seq[(Long, Seq[Float])] =
      (1L to 30L).map(i => i -> hot.map(x => x * (1 + (i % 7)))) ++
        (31L to 36L).map(i => i -> cold)
    // split so pairs form both across batches (keyed state) and within
    // one batch (the in-batch append/probe ordering)
    val chunks = vecs.grouped(13).toSeq

    def run(name: String,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[
          streaming.SemanticStream.SemPair]) = {
      val input = MemoryStream[(Long, Seq[Float])]
      val q = mk(input.toDF().toDF("vec_id", "embedding"))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    }
    val unsharded = run("sem_unsharded",
      df => SemanticStream.semanticPairsStream(spark, df))
    val sharded = run("sem_sharded",
      df => SemanticStream.semanticPairsStreamSharded(spark, df, shards = 4))
    assert(unsharded.size >= 30 * 29 / 2,
      s"hot cell not hot: only ${unsharded.size} pairs")
    assert(sharded == unsharded,
      s"sharded-only: ${(sharded -- unsharded).take(5)}; " +
        s"unsharded-only: ${(unsharded -- sharded).take(5)}")
  }

  test("re-delivered vector adds no duplicate state and re-emits no pairs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dup: Seq[Float] = Seq.fill(8)(1.0f)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = SemanticStream.semanticPairsStream(spark,
        input.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("sem_redeliver")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, dup), (2L, dup)); q.processAllAvailable()
      // at-least-once source re-delivers vec 1, then a new member 3
      // arrives: without the state guard, 3 would pair against TWO
      // copies of 1 (duplicate SemPair rows for every future partner)
      input.addData((1L, dup)); q.processAllAvailable()
      input.addData((3L, dup)); q.processAllAvailable()
      val rows = spark.table("sem_redeliver").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
        s"expected each pair exactly once, got $rows")
    } finally q.stop()
  }

  test("watermarked variant: in-horizon semantic dup paired, past-horizon member evicted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identical embeddings → same cell, cos 1 (pairs); `other` has
    // alternating signs → dot 0 against `dup` (never pairs), it only
    // advances the watermark
    val dup: Seq[Float] = Seq.fill(8)(1.0f)
    val other: Seq[Float] = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val input = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])]
    val q = streaming.SemanticStream.semanticPairsWithinWatermark(spark,
        input.toDF().toDF("vec_id", "ingest_ts", "embedding"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName("sem_wm")
      .outputMode(OutputMode.Append).start()
    try {
      def got() = spark.table("sem_wm").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      input.addData((1L, ts("2024-01-01 10:00:00"), dup))
      q.processAllAvailable()
      input.addData((2L, ts("2024-01-01 10:05:00"), dup))
      q.processAllAvailable()
      assert(got().contains((1L, 2L)), s"in-horizon pair missing: ${got()}")
      // advance the watermark far past horizon → members 1,2 evicted
      input.addData((3L, ts("2024-01-01 11:00:00"), other))
      q.processAllAvailable()
      input.addData((4L, ts("2024-01-01 11:01:00"), dup))
      q.processAllAvailable()
      assert(!got().exists(_._2 == 4L),
        s"past-horizon member was not evicted: ${got()}")
      // fresh arrival re-seeds state: an in-horizon follower pairs
      input.addData((5L, ts("2024-01-01 11:02:00"), dup))
      q.processAllAvailable()
      assert(got().contains((4L, 5L)), s"re-seeded pair missing: ${got()}")
    } finally q.stop()
  }

  test("stream-static index probe matches every replayed vector to its original") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-semidx").toString
    val base = sources.Tables.embeddings(spark, sf).select("vec_id", "embedding")
    operators.SimilarityOps.buildVecIndex(spark, base, s"$dir/idx")
    // replay with fresh ids and IDENTICAL embeddings: every probe must
    // hit its original at cos 1 (cos2_e6 within floor error of 1e6)
    val replayDir = s"$dir/in"
    base.withColumn("vec_id", col("vec_id") + 1000000000L)
      .write.parquet(replayDir)
    val streamed = streaming.SemanticStream.semanticAgainstIndex(spark,
      spark.readStream.schema(base.schema).parquet(replayDir), s"$dir/idx")
    val q = streamed.writeStream.format("memory").queryName("semidx")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      val rows = spark.table("semidx").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      val selfHits = rows.filter { case (v, m, _) => v - 1000000000L == m }
      val nBase = base.count()
      assert(selfHits.length == nBase,
        s"${selfHits.length} of $nBase replayed vectors matched their original")
      // identical vectors: cos² = 1 exactly up to the integer floor
      selfHits.foreach { case (v, _, cos2) =>
        assert(cos2 >= 999999L && cos2 <= 1000000L, s"vec $v cos2_e6=$cos2")
      }
    } finally q.stop()
  }
}
