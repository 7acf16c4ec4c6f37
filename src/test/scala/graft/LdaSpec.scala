package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** The trained Fisher-LDA classifier: the oracle gate hash-checks the
  * estimator's arithmetic on the fixture (whose synthetic text carries
  * no language signal — chance accuracy there, documented); this spec
  * proves the ESTIMATOR on an engineered separable corpus and pins the
  * closed-form solve against an independent plain-Scala reference.
  */
class LdaSpec extends SparkSuite {

  /** Engineered corpus: "en" docs use long words with frequent 'the',
    * the others short words without it — linearly separable in the
    * (word-length, the-rate) feature plane. */
  private def engineered(dir: String): Unit = {
    val s = spark
    import s.implicits._
    // per-doc composition varies WITHIN each class (i-dependent filler
    // counts) — identical docs would make the pooled covariance
    // singular, which ldaTrain rejects by contract
    val rows = (1L to 120L).map { i =>
      if (i % 2 == 0) {
        val txt = (Seq.fill(20)("the considerable arrangement") ++
          Seq.fill((i % 7).toInt)("of extraordinary magnitude")).mkString(" ")
        (i, txt, "en", "srcA", txt.length.toLong)
      } else {
        val txt = (Seq.fill(30)("ab cd ef") ++
          Seq.fill((i % 5).toInt)("zyx wv u t")).mkString(" ")
        (i, txt, "de", "srcB", txt.length.toLong)
      }
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("LDA separates the engineered corpus (accuracy >= 0.9)") {
    val dir = tempDir("graft-lda").toString
    engineered(dir)
    val got = TextOps.qualityLda(spark, dir).collect()
    assert(got.length == 120)
    val acc = got.count(r =>
      r.getAs[Boolean]("pred_en") == r.getAs[Boolean]("is_en")).toDouble /
      got.length
    assert(acc >= 0.9, s"LDA accuracy $acc on a linearly separable corpus")
    // scores must carry real separation, not knife-edge noise
    val enScores = got.filter(_.getAs[Boolean]("is_en"))
      .map(_.getAs[Long]("score_micro"))
    val deScores = got.filterNot(_.getAs[Boolean]("is_en"))
      .map(_.getAs[Long]("score_micro"))
    assert(enScores.min > deScores.max,
      "engineered classes must separate with margin")
  }

  test("distributed training equals an independent plain-Scala solve") {
    val dir = tempDir("graft-lda2").toString
    engineered(dir)
    // independent reference: features and statistics recomputed from
    // the raw text on the driver, same closed form
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def feats(text: String): (Long, Long) = {
      val nWords = text.count(_ == ' ') + 1L
      val wchars = text.count(_ != ' ').toLong
      val padded = " " + text + " "
      val theHits =
        ((padded.length - padded.replace(" the ", "").length) / 5).toLong
      (wchars * 1000 / nWords, theHits * 1000 / nWords)
    }
    val byClass = docs.groupBy(_._3 == "en").view.mapValues(_.map(d => feats(d._2)))
    def stats(xs: Seq[(Long, Long)]) = (
      xs.length.toDouble,
      xs.map(_._1).sum.toDouble, xs.map(_._2).sum.toDouble,
      xs.map(p => p._1 * p._1).sum.toDouble,
      xs.map(p => p._1 * p._2).sum.toDouble,
      xs.map(p => p._2 * p._2).sum.toDouble)
    val (n0, s10, s20, s110, s120, s220) = stats(byClass(false).toSeq)
    val (n1, s11, s21, s111, s121, s221) = stats(byClass(true).toSeq)
    val m10 = s10 / n0; val m20 = s20 / n0
    val m11 = s11 / n1; val m21 = s21 / n1
    val p11 = ((s110 - s10 * m10) + (s111 - s11 * m11)) / (n0 + n1 - 2)
    val p12 = ((s120 - s10 * m20) + (s121 - s11 * m21)) / (n0 + n1 - 2)
    val p22 = ((s220 - s20 * m20) + (s221 - s21 * m21)) / (n0 + n1 - 2)
    val det = p11 * p22 - p12 * p12
    val w1 = (p22 * (m11 - m10) - p12 * (m21 - m20)) / det
    val w2 = (p11 * (m21 - m20) - p12 * (m11 - m10)) / det
    val thr = (w1 * (m10 + m11) + w2 * (m20 + m21)) / 2
    // compare through the SCORES (the public artifact): every doc's
    // rounded micro score must match the reference model exactly
    val got = TextOps.qualityLda(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("score_micro")).toMap
    docs.foreach { case (id, text, _) =>
      val (x1, x2) = feats(text)
      val want = math.round(1e6 * ((w1 * x1 + w2 * x2) - thr))
      assert(got(id) == want, s"doc $id: got ${got(id)} want $want")
    }
  }

  test("fixture corpus trains (both classes present) and scores all docs") {
    val df = TextOps.qualityLda(spark, sf)
    val n = df.count()
    assert(n == graft.sources.Tables.documents(spark, sf).count())
    assert(df.select("is_en").distinct().count() == 2)
  }
}
