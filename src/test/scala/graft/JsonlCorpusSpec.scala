package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.OutputMode

import graft.sources.JsonlCorpus
import graft.streaming.CurationStream

/** JSONL ingestion: clean docs parsed, junk quarantined (never dropped,
  * never fatal), and the streaming form feeds the curation pipeline. */
class JsonlCorpusSpec extends SparkSuite {

  private val goodText = ("tok " * 30).trim

  private def writeFixture(): String = {
    val dir = tempDir("graft-jsonl").toString
    val lines = Seq(
      s"""{"doc_id": 1, "source": "web", "text": "$goodText"}""",
      s"""{"doc_id": 2, "source": "web", "text": "$goodText extra"}""",
      s"""{"doc_id": 3, "source": "code", "text": "$goodText more", "extra_field": {"nested": true}}""",
      """{"doc_id": 4, "source": "web"}""", // structurally valid, no text
      """{"doc_id": oops not json at all""", // malformed
      """just some stray plain text""", // not even an object
      s"""{"doc_id": 5, "source": "web", "text": "$goodText"} trailing junk""",
      s"""{"doc_id": 6, "source": "web", "text": "a"}{"doc_id": 7, "source": "web", "text": "b"}""", // merged records
      s"""{"doc_id": "eight", "source": "web", "text": "$goodText"}""", // wrong-typed id
      """{"doc_id": 9, "source": "web", "text": 123}""", // wrong-typed text
      s"""{"doc_id": 10, "source": 42, "text": "$goodText"}""") // wrong-typed source
    Files.write(java.nio.file.Paths.get(dir, "part-000.jsonl"),
      String.join("\n", lines: _*).getBytes)
    dir
  }

  test("docs parse declared schema; junk lines quarantine with raw text") {
    val s = spark
    import s.implicits._
    val dir = writeFixture()
    val docs = JsonlCorpus.docs(spark, dir)
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(docs.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(docs.forall(_._3.startsWith("tok")))
    val quarantined = JsonlCorpus.quarantine(spark, dir)
      .as[String].collect().toSet
    assert(quarantined.size == 8)
    assert(quarantined.exists(_.contains("oops")))
    assert(quarantined.exists(_.contains("stray")))
    assert(quarantined.exists(_.contains("\"doc_id\": 4")),
      "payload-less object must quarantine, not become a null-text doc")
    // the producer bugs from_json silently ACCEPTS must quarantine here
    assert(quarantined.exists(_.contains("trailing junk")),
      "trailing garbage after a valid object must quarantine")
    assert(quarantined.exists(_.contains("\"doc_id\": 6")),
      "two records merged on one line must quarantine")
    assert(quarantined.exists(_.contains("eight")),
      "wrong-typed doc_id must quarantine")
    assert(quarantined.exists(_.contains("\"text\": 123")),
      "numeric text must quarantine, not coerce to \"123\"")
    assert(quarantined.exists(_.contains("\"source\": 42")),
      "numeric source must quarantine, not coerce to \"42\"")
  }

  test("curation dedup state survives a restart: duplicate across the restart is dropped") {
    val dir = tempDir("graft-jsonl-restart").toString
    val in = s"$dir/in"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    Files.createDirectories(java.nio.file.Paths.get(in))
    def writeFile(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(in, name),
        String.join("\n", lines: _*).getBytes)
    def runDrain(): Unit = {
      val q = CurationStream.curate(spark,
          JsonlCorpus.stream(spark, in).select("doc_id", "text"), Array(0L))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeFile("b1.jsonl", Seq(
      s"""{"doc_id": 1, "source": "web", "text": "$goodText one"}""",
      s"""{"doc_id": 2, "source": "web", "text": "$goodText two"}"""))
    runDrain() // first incarnation drains batch 1, then stops
    writeFile("b2.jsonl", Seq(
      s"""{"doc_id": 3, "source": "web", "text": "$goodText one"}""", // dup of doc 1
      s"""{"doc_id": 4, "source": "web", "text": "$goodText four"}"""))
    runDrain() // SECOND incarnation: state restored from the checkpoint
    val s = spark
    import s.implicits._
    val kept = spark.read.parquet(out).as[(Long, Int)].collect()
      .map(_._1).sorted.toSeq
    assert(kept == Seq(1L, 2L, 4L),
      s"restart must restore dedup state (doc 3 duplicates doc 1): got $kept")
  }

  test("streaming JSONL feed flows through the curation gates") {
    val dir = writeFixture()
    val q = CurationStream.curate(spark,
        JsonlCorpus.stream(spark, dir).select("doc_id", "text"),
        Array(0L))
      .writeStream.format("memory").queryName("jsonl_curated")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val out = spark.table("jsonl_curated").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
      // all three clean docs pass quality (30+ tokens), none collide
      assert(out.toSeq == Seq((1L, 30), (2L, 31), (3L, 31)), s"got ${out.toSeq}")
    } finally q.stop()
  }
}
