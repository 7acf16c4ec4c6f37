package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Ledger
import graft.operators.Memo

/** Spark's generated-class cache holds the engine's working set, so a
  * repeated pipeline compiles each generated class once per JVM. The
  * steps are the `curation_batch` benchmark's nightly pipeline, each
  * pass Memo-cold, each step's action the benchmark's row count and
  * hash over every column. One pass generates ~160 distinct classes:
  * at Spark's default of 100 cache entries the second pass compiled
  * them all again. */
class CodegenCacheSpec extends SparkSuite {

  private val steps = Seq("dedup_exact", "minhash_dedup", "simhash_dedup",
    "ngram_jaccard", "fuzzy_dedup_canonical", "embedding_dedup", "bm25_search")

  private def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("decimal(38,0)")).as("h"))

  /** One Memo-cold pass: each step's (rows, hash). */
  private def pass(): Seq[(String, String)] = {
    Memo.invalidate(spark)
    steps.map { s =>
      val r = digest(SparkEntry.queries(s)(spark, sf)).collect().head
      s -> s"${r.getLong(0)}/${r.get(1)}"
    }
  }

  test("a GraftSession-built session carries the codegen cache bound") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second Memo-cold curation pass compiles no generated class") {
    val (first, w1) = Ledger.measure(spark.sparkContext)(pass())
    val (second, w2) = Ledger.measure(spark.sparkContext)(pass())
    assert(second == first)
    assert(w2.compilations == 0,
      s"pass 1 compiled ${w1.compilations} classes, pass 2 ${w2.compilations}")
  }
}
