package graft

import graft.operators.TextOps

/** Pins boilerplate_strip against an independent plain-Scala recompute
  * of the CCNet-style repeated-span removal: chunking mirrors
  * chunks10's semantics (split-keep-trailing-empties, stride 10, short
  * last chunk), boilerplate = chunk present in >1 DISTINCT doc, and
  * kept_tokens sums surviving chunks' whitespace token counts. The
  * DuckDB oracle checks the same numbers a third way at driver time. */
class BoilerplateStripSpec extends SparkSuite {

  private def chunksOf(text: String): Seq[String] = {
    // Spark split(text, " ") == Java split with limit -1 (trailing
    // empties kept); sequence(0, greatest(size-1, 0), 10)
    val toks = text.split(" ", -1)
    (0 to math.max(toks.length - 1, 0) by 10)
      .map(i => toks.slice(i, math.min(i + 10, toks.length)).mkString(" "))
  }

  private def tokCount(chunk: String): Long =
    chunk.count(_ == ' ') + 1L

  test("boilerplate_strip matches a driver-Scala reference on the fixture") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))

    val chunks: Map[Long, Seq[String]] =
      docs.map { case (id, t) => id -> chunksOf(t) }.toMap
    val docFreq: Map[String, Int] = chunks.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(c => (c, id)) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }

    val expected = chunks.map { case (id, cs) =>
      val boiler = cs.count(c => docFreq(c) > 1).toLong
      val kept = cs.filter(c => docFreq(c) <= 1).map(tokCount).sum
      id -> (cs.length.toLong, boiler, kept, boiler * 1000000L / cs.length)
    }

    val got = TextOps.boilerplateStrip(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    assert(got.keySet == expected.keySet, "doc coverage differs")
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }

    // the fixture genuinely exercises both branches
    val anyBoiler = expected.values.exists(_._2 > 0)
    val anyClean = expected.values.exists(_._2 == 0)
    assert(anyBoiler, "fixture has no boilerplate chunks — test is vacuous")
    assert(anyClean, "every doc is all-boilerplate — test is degenerate")
  }

  test("boilerplate_strip_text is consistent with the accounting query") {
    val acct = TextOps.boilerplateStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap // n_chunks, n_boiler
    val txt = TextOps.boilerplateStripText(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // surviving set = docs with at least one non-boilerplate chunk
    val expectSurvivors = acct.filter { case (_, (n, b)) => b < n }.keySet
    assert(txt.keySet == expectSurvivors,
      "strip-text survivors != accounting's non-all-boilerplate docs")

    txt.foreach { case (id, (clean, kept)) =>
      val (n, b) = acct(id)
      assert(kept == n - b, s"doc $id: n_kept $kept != n_chunks-n_boiler ${n - b}")
      if (b == 0)
        assert(clean == docs(id), s"doc $id: untouched doc's text changed")
      else
        assert(clean.length < docs(id).length, s"doc $id: stripped but not shorter")
    }
  }

  test("graft_chunks_pos zips positions with graft_chunks' chunks") {
    import org.apache.spark.sql.functions._
    graft.GraftExtensions.register(spark)
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    val withPos = docs
      .select(col("doc_id"), call_function("graft_chunks_pos", col("text"), lit(10)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val plain = docs
      .select(col("doc_id"), call_function("graft_chunks", col("text"), lit(10)))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(withPos.map(t => (t._1, t._3)).sameElements(plain),
      "pos variant emits different chunks or order")
    withPos.groupBy(_._1).foreach { case (id, rows) =>
      val ps = rows.map(_._2)
      assert(ps.sameElements(ps.indices.map(_ * 10)),
        s"doc $id positions not 0,10,..: ${ps.take(5).mkString(",")}")
    }
  }

  test("incremental verdicts recompose the full-corpus accounting exactly") {
    // corpus = existing ∪ batch, so for a batch doc: chunk in >1
    // distinct doc overall ⟺ chunk in existing OR in >1 batch docs.
    // Hence boiler_existing + boiler_batch == full n_boiler and the
    // kept token budgets agree — an exact equality, not a bound.
    val full = TextOps.boilerplateStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap // n_boiler, kept
    val inc = TextOps.boilerplateIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(inc.nonEmpty)
    inc.foreach { case (id, (be, bb, kept)) =>
      assert(id % 5 == 0, s"non-batch doc $id in incremental output")
      val (fb, fk) = full(id)
      assert(be + bb == fb, s"doc $id: $be+$bb != full n_boiler $fb")
      assert(kept == fk, s"doc $id: kept $kept != full kept $fk")
    }
    // the fixture exercises both verdict branches
    assert(inc.exists(_._2._1 > 0), "no boiler_existing verdicts — vacuous")
    assert(inc.exists(_._2._3 > 0), "no kept tokens — degenerate")
  }

  test("boilerplate_strip agrees with chunk_dedup on which docs carry dups") {
    // chunk_dedup flags chunks with COUNT(*) > 1 (incl. intra-doc
    // repeats); boilerplate uses DISTINCT-doc frequency. Every
    // boilerplate doc must therefore contain some chunk_dedup-flagged
    // chunk (the converse need not hold).
    val dupFps = TextOps.chunkDedup(spark, sf).select("fp")
      .collect().map(_.getString(0)).toSet
    val strip = TextOps.boilerplateStrip(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.foreach { case (id, t) =>
      val cs = t.split(" ", -1)
      val chunkFps = (0 to math.max(cs.length - 1, 0) by 10)
        .map(i => md5hex(cs.slice(i, math.min(i + 10, cs.length)).mkString(" ")))
      if (strip(id) > 0)
        assert(chunkFps.exists(dupFps), s"doc $id boilerplate w/o dup chunk")
    }
  }

  test("inline strip expression equals the anti-join form (round-12 strip floor)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text")
    // the REAL dictionary shape: >1-distinct-doc fps (the artifact
    // builder's distinct-fp superset only strips MORE — use the strict
    // dict so surviving text is non-trivial)
    val dict = docs
      .select(col("doc_id"),
        call_function("graft_chunks", col("text"), lit(10)))
      .groupBy(md5(col("chunk")).as("fp"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("fp")
    val joinForm = TextOps.stripAgainstDict(spark, docs, dict)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fps = dict.collect().map(_.getString(0)).toSeq
    val inline = TextOps.stripAgainstDictInline(spark, docs, fps)
    // row membership: the inline form emits (null, 0) where the join
    // form omits the doc; filtered, the two are row-for-row equal
    val inlineKept = inline.filter(col("n_kept") > 0)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(joinForm.nonEmpty)
    assert(inlineKept == joinForm)
    // all-boiler docs: explicit (null, 0) rows, one per input doc
    val total = docs.count()
    assert(inline.count() == total)
    val zeroRows = inline.filter(col("n_kept") === 0).collect()
    zeroRows.foreach(r => assert(r.isNullAt(1), "0-kept doc must have null clean_text"))
    assert(zeroRows.length == total - joinForm.size)
  }

  test("inline strip handles the synthetic edges (empty text, all-boiler doc)") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // doc 1: both chunks boiler; doc 2: partial survivor; doc 3: empty
    // text (one "" chunk); doc 4: nothing in dict
    val docs = Seq(
      (1L, ("a " * 10).trim + " " + ("b " * 10).trim),
      (2L, ("a " * 10).trim + " keep these words"),
      (3L, ""),
      (4L, "fresh text only")).toDF("doc_id", "text")
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fps = Seq(md5hex(("a " * 10).trim), md5hex(("b " * 10).trim))
    val got = TextOps.stripAgainstDictInline(spark, docs, fps)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, null, 0L),
      (2L, "keep these words", 1L),
      (3L, "", 1L), // empty text = one "" chunk, not in dict
      (4L, "fresh text only", 1L)))
    // and the join form agrees on its own row set
    val joinForm = TextOps.stripAgainstDict(spark, docs,
      fps.toDF("fp")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(joinForm == Seq(
      (2L, "keep these words", 1L),
      (3L, "", 1L),
      (4L, "fresh text only", 1L)))
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
