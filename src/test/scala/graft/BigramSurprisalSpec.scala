package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Bigram-LM surprisal vs a plain-Scala reference scorer: the same MLE
  * conditional model (P(w2|w1) = c12/c1 over the corpus, one rounded
  * integer-micro ln per distinct bigram, integer mean per doc) written
  * as naive driver code — the textbook definition the distributed plan
  * must reproduce exactly. The oracle gate hash-checks the query
  * against DuckDB; this pins it against an independent THIRD
  * implementation, and pins the model semantics (conditioning,
  * ordering, short-doc exclusion) that SQL equivalence alone would
  * not make obvious.
  */
class BigramSurprisalSpec extends SparkSuite {

  test("bigram_surprisal equals the textbook driver-Scala scorer") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // reference model: bigram + context counts over the whole corpus
    val bigrams = docs.flatMap { case (id, text) =>
      val ws = text.split(" ", -1)
      if (ws.length < 2) Array.empty[(Long, (String, String))]
      else ws.sliding(2).map(p => id -> (p(0), p(1))).toArray
    }
    val c12 = bigrams.groupBy(_._2).map { case (bg, xs) => bg -> xs.length }
    val c1 = bigrams.groupBy(_._2._1).map { case (w, xs) => w -> xs.length }
    val sur = c12.map { case (bg, n12) =>
      bg -> math.round(1e6 * math.log(c1(bg._1).toDouble / n12))
    }
    val want = bigrams.groupBy(_._1).map { case (id, xs) =>
      val sum = xs.map(x => sur(x._2)).sum
      (id, xs.length.toLong, sum / xs.length) // sums are >= 0: / == DIV
    }.toSet
    val got = TextOps.bigramSurprisal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got == want)
  }

  test("word order changes the bigram score but not the unigram score") {
    // the signal the bigram model adds: scrambled text keeps its token
    // multiset (identical unigram surprisal) but produces rare
    // bigrams. Verified on the fixture by construction of a scrambled
    // twin corpus written to a temp dir with the same schema.
    val s = spark
    import s.implicits._
    val base = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    val scrambled = base.withColumn("text",
      array_join(reverse(split(col("text"), " ")), " "))
    val dir = tempDir("graft-bigram").toString
    base.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val un0 = TextOps.unigramSurprisal(spark, dir).collect().map(_.toSeq)
    val bi0 = TextOps.bigramSurprisal(spark, dir).collect().map(_.toSeq)
    scrambled.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    operators.Memo.invalidate(spark) // fixture rewritten in place
    val un1 = TextOps.unigramSurprisal(spark, dir).collect().map(_.toSeq)
    val bi1 = TextOps.bigramSurprisal(spark, dir).collect().map(_.toSeq)
    assert(un0.toSeq == un1.toSeq,
      "unigram surprisal must be order-blind (same token multiset)")
    assert(bi0.toSeq != bi1.toSeq,
      "bigram surprisal must see word order")
  }

  test("topv shuffle fallback (vocab past broadcast ceiling) equals broadcast arm") {
    // round-12 advice: the driver collect of the |vocab| unigram table
    // is now gated by an approx vocab count; past the ceiling the uni
    // join flips to a shuffle against the memoized model frames. Force
    // the fallback with a ceiling of 1 and pin bit-equality — the two
    // arms share the scoring plans up to the collect, so any drift is
    // a real bug, not float noise.
    val broadcastArm = TextOps.bigramSurprisalTopV(spark, sf)
      .collect().map(_.toSeq).toSeq
    spark.conf.set("spark.graft.topv.maxVocabBroadcast", "1")
    try {
      val shuffleArm = TextOps.bigramSurprisalTopV(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(broadcastArm.nonEmpty)
      assert(shuffleArm == broadcastArm)
    } finally spark.conf.unset("spark.graft.topv.maxVocabBroadcast")
  }
}
