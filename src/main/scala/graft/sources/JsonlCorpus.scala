package graft.sources

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** JSONL document ingestion — the de-facto corpus interchange format
  * (one JSON object per line: `{"doc_id":…,"source":…,"text":…}`).
  *
  * Design for a 100 TB drop zone:
  *  - schema is DECLARED, never inferred — `inferSchema` is a full
  *    extra pass over the data before the real one;
  *  - malformed lines are a certainty at corpus scale and must
  *    QUARANTINE, never kill the read or silently vanish — and
  *    "malformed" includes the classic producer bugs `from_json`
  *    silently ACCEPTS: trailing garbage after a valid object, two
  *    records merged onto one line, a wrong-typed doc_id. The parse is
  *    therefore a per-partition STRICT Jackson walk (one parser init
  *    per partition, one parse per line, end-of-input enforced), not
  *    `from_json` — which would also be re-evaluated 3-4× per line
  *    once predicate pushdown inlines it into each filter conjunct;
  *  - line splitting is Spark's text source: splittable, parallel,
  *    no custom InputFormat needed. Batch and streaming share the one
  *    parse function, so the two modes cannot drift.
  *
  * The emitted document shape is the LINE schema (doc_id, source,
  * text) — deliberately NOT the fixture documents table (which also
  * carries lang/n_chars); derive enrichment columns downstream.
  */
object JsonlCorpus {

  /** One parsed line: the declared fields, the raw line (kept for the
    * quarantine path), and the validity verdict. */
  final case class ParsedLine(doc_id: Option[Long], source: Option[String],
      text: Option[String], raw_line: String, valid: Boolean)

  /** The single strict parse both batch and streaming use: exactly one
    * JSON object per line, nothing after it, doc_id numeric, unknown
    * fields tolerated (forward compatibility). A line is a document
    * iff it parses AND carries doc_id + text — a structurally-valid
    * object missing the payload is still junk for every downstream
    * op. */
  private[sources] def parseLines(lines: Dataset[String]): Dataset[ParsedLine] = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      val factory = new JsonFactory() // per-partition init, like a codec
      it.map { line =>
        try {
          val p = factory.createParser(line)
          try {
            var docId: Option[Long] = None
            var source: Option[String] = None
            var text: Option[String] = None
            if (p.nextToken() != JsonToken.START_OBJECT)
              throw new IllegalArgumentException("not a JSON object")
            while (p.nextToken() != JsonToken.END_OBJECT) {
              val field = p.currentName()
              val tok = p.nextToken()
              field match {
                case "doc_id" if tok != JsonToken.VALUE_NULL =>
                  docId = Some(p.getLongValue) // throws on non-numeric
                // strings must BE strings: getText would silently
                // coerce {"text": 123} into text="123" — a type-confused
                // producer bug must quarantine like every other one
                case "source" if tok != JsonToken.VALUE_NULL =>
                  if (tok != JsonToken.VALUE_STRING)
                    throw new IllegalArgumentException("source must be a string")
                  source = Some(p.getText)
                case "text" if tok != JsonToken.VALUE_NULL =>
                  if (tok != JsonToken.VALUE_STRING)
                    throw new IllegalArgumentException("text must be a string")
                  text = Some(p.getText)
                case _ => p.skipChildren() // unknown/null fields tolerated
              }
            }
            // STRICTNESS: from_json would stop here and silently accept
            // "} trailing junk" or a second concatenated object
            if (p.nextToken() != null)
              throw new IllegalArgumentException("trailing content")
            ParsedLine(docId, source, text, line,
              valid = docId.nonEmpty && text.nonEmpty)
          } finally p.close()
        } catch {
          case _: Exception => ParsedLine(None, None, None, line, valid = false)
        }
      }
    }
  }

  /** Clean documents from a JSONL path: (doc_id, source, text). */
  def docs(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    parseLines(spark.read.textFile(path))
      .filter(col("valid"))
      .select(col("doc_id"), col("source"), col("text"))
  }

  /** The raw text of every rejected line — route to a quarantine sink
    * and alert on its volume; silently dropping it hides upstream
    * producer bugs. */
  def quarantine(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    parseLines(spark.read.textFile(path))
      .filter(!col("valid"))
      .select(col("raw_line"))
  }

  /** Streaming form of [[docs]] — the ingestion feed for
    * [[graft.streaming.CurationStream]]: new JSONL files landing in
    * `path` flow straight into the curation gates. */
  def stream(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    parseLines(spark.readStream.textFile(path))
      .filter(col("valid"))
      .select(col("doc_id"), col("source"), col("text"))
  }
}
