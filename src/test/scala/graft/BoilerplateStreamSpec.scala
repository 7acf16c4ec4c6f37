package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.BoilerplateStream
import graft.operators.TextOps

/** Ingestion-time boilerplate stripping: stream ≡ batch strip against
  * the same stored dictionary, across micro-batch boundaries, with
  * all-boilerplate docs dropped. */
class BoilerplateStreamSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  // 12-token docs → two 10-token-chunk rows each; "b0..b9" is the
  // shared boilerplate chunk (in both existing docs), the tails are
  // unique payload
  private val boiler = (0 until 10).map(i => s"b$i").mkString(" ")
  private def doc(tail: String) = s"$boiler $tail"

  test("streamed strip equals batch strip against the same dictionary") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dictDir = tmp("bp-dict")
    val outDir = tmp("bp-out")
    val ckpt = tmp("bp-ckpt")

    // existing corpus: the boilerplate chunk appears in 2 distinct docs
    val existing = Seq(
      (100L, doc("alpha beta")),
      (101L, doc("gamma delta"))).toDF("doc_id", "text")
    BoilerplateStream.buildChunkDictionary(spark, existing, dictDir)
    // dictionary holds exactly the shared chunk
    assert(spark.read.parquet(dictDir).count() == 1)

    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = BoilerplateStream.start(spark, docs, dictDir, outDir, ckpt)
    val batch1 = Seq((1L, doc("one two")), (2L, "clean text only here"))
    val batch2 = Seq((3L, doc("three four")), (4L, boiler)) // 4 = all boiler
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "clean_text", "n_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = TextOps.stripAgainstDict(spark,
        (batch1 ++ batch2).toDF("doc_id", "text"),
        spark.read.parquet(dictDir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")

    // semantic pins: boilerplate stripped, clean doc untouched,
    // all-boilerplate doc dropped
    assert(streamed.contains((1L, "one two", 1L)))
    assert(streamed.contains((2L, "clean text only here", 1L)))
    assert(streamed.contains((3L, "three four", 1L)))
    assert(!streamed.exists(_._1 == 4L), "all-boilerplate doc survived")
  }

  test("batch strip shares the executed query's pipeline on the fixture") {
    // stripAgainstDict with the full-corpus dictionary IS
    // boilerplate_strip_text (same helper) — pin the wiring on real
    // fixture data so the stream path and the oracle-gated query can
    // never diverge.
    val docs = graft.sources.Tables.documents(spark, sf)
    val viaHelper = TextOps.stripAgainstDict(spark, docs,
        TextOps.chunkDictionary(spark, docs))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val viaQuery = TextOps.boilerplateStripText(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(viaHelper == viaQuery)
  }
}
