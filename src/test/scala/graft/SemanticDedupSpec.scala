package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, SimilarityOps}
import graft.sources.Tables

/** semantic_dedup (SemDeDup-style embedding dedup): the bounded-tile
  * within-cell join must be pair-complete vs the naive cell self-join,
  * the canonical verdict must equal a driver-side union-find, and the
  * integer cos² evidence must track the float cosine of the original
  * embeddings (quantization error only).
  */
class SemanticDedupSpec extends SparkSuite {

  private def pairs() = SimilarityOps.semanticDedup(spark, sf)
    .select("a_id", "b_id", "cell", "dot", "cos2_e6").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))

  test("tiled within-cell join emits every qualifying pair exactly once") {
    val got = pairs()
    assert(got.nonEmpty, "fixture produced no semantic pairs")
    // exactly once: no duplicate (a,b)
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    // naive reference: plain cell self-join in driver Scala over the
    // exact same q8 arithmetic
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    def q8(v: Seq[Double]): Seq[Long] = {
      val m = v.map(math.abs).max
      if (m == 0) v.map(_ => 0L)
      else v.map(x => math.floor(x * 127.0 / m + 0.5).toLong)
    }
    def planeElem(p: Long, d: Long): Long =
      (p * 2654435761L + d * 40503L) % 1001L - 500L
    def cellOf(q: Seq[Long]): Long =
      (0L until 8L).foldLeft(0L) { (acc, p) =>
        val dot = q.zipWithIndex.map { case (x, d) => x * planeElem(p, d) }.sum
        acc * 2 + (if (dot >= 0) 1L else 0L)
      }
    val qv = vecs.toSeq.map { case (id, v) => (id, q8(v)) }
    val byCell = qv.groupBy { case (_, q) => cellOf(q) }
    val expected = byCell.values.toSeq.flatMap { members =>
      for {
        (a, qa) <- members
        (b, qb) <- members
        if a < b
        dot = qa.zip(qb).map { case (x, y) => x * y }.sum
        na2 = qa.map(x => x * x).sum
        nb2 = qb.map(x => x * x).sum
        if dot > 0 && dot * dot * 10000L >= 900L * na2 * nb2
      } yield (a, b) -> ((dot, dot * dot * 1000000L / (na2 * nb2)))
    }.toMap
    assert(got.map(p => (p._1, p._2)).toSet == expected.keySet)
    got.foreach { case (a, b, _, dot, cos2) =>
      assert(expected((a, b)) == (dot, cos2), s"pair ($a,$b) evidence differs")
    }
  }

  test("semantic_dedup_canonical equals union-find over the pairs") {
    val edges = pairs().map(p => (p._1, p._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(v => v -> find(v)).toMap
    val nChars = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = GraphOps.semanticDedupCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2)))
    assert(rows.map(_._1).toSet == nChars.keySet.intersect(rows.map(_._1).toSet))
    rows.foreach { case (id, c, _) => assert(c == comp.get(id), s"doc $id") }
    // exactly one survivor per component, and it is the keep-longest pick
    rows.filter(_._2.isDefined).groupBy(_._2.get).foreach {
      case (cid, members) =>
        val kept = members.filter(_._3)
        assert(kept.length == 1, s"component $cid kept ${kept.length}")
        val best = members.map(_._1).maxBy(id => (nChars(id), -id))
        assert(kept.head._1 == best)
    }
    // unclustered docs always kept
    assert(rows.filter(_._2.isEmpty).forall(_._3))
  }

  test("integer cos2 evidence tracks the float cosine (quantization error only)") {
    val vecs: Map[Long, Seq[Double]] = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    pairs().foreach { case (a, b, _, _, cos2e6) =>
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cosF = dot / math.sqrt(va.map(x => x * x).sum * vb.map(x => x * x).sum)
      val cosQ = math.sqrt(cos2e6 / 1e6)
      assert(math.abs(cosQ - cosF) <= 0.05, s"pair ($a,$b): q=$cosQ f=$cosF")
    }
  }

  test("semantic_incremental verdicts are first-wins consistent with the pairs") {
    // cross-check against the pair stage: a new vec (id%5==0) is a dup
    // iff some pair connects it to a smaller-id partner; the partner
    // recorded must be the smallest, existing before earlier-new
    val ps = pairs().map(p => (p._1, p._2))
    val verdicts = SimilarityOps.semanticIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3)))
    assert(verdicts.nonEmpty && verdicts.forall(_._1 % 5 == 0))
    val partnersOf: Map[Long, Seq[Long]] = {
      val m = scala.collection.mutable.Map[Long, List[Long]]()
      ps.foreach { case (a, b) =>
        m(a) = b :: m.getOrElse(a, Nil); m(b) = a :: m.getOrElse(b, Nil)
      }
      m.view.mapValues(_.sorted.toSeq).toMap
    }
    verdicts.foreach { case (id, verdict, matched, kept) =>
      val exist = partnersOf.getOrElse(id, Nil).filter(_ % 5 != 0)
      val earlierNew = partnersOf.getOrElse(id, Nil).filter(p => p % 5 == 0 && p < id)
      val expected =
        if (exist.nonEmpty) ("dup_existing", Some(exist.min), false)
        else if (earlierNew.nonEmpty) ("dup_new", Some(earlierNew.min), false)
        else ("unique", None, true)
      assert((verdict, matched, kept) == expected, s"vec $id")
    }
  }

  test("degenerate vectors sign to cell 255 / na2 0 (oracle COALESCE contract)") {
    // The oracle CTE COALESCEs every plane SUM and na2 to 0 so an
    // empty, all-null, or all-zero embedding lands where the native
    // expression documents: every empty/zero plane sum is ">= 0" →
    // all 8 bits set → cell 255; na2 = 0. The fixture carries no such
    // vectors — this pins the contract against the next regeneration.
    graft.GraftExtensions.register(spark)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Seq.empty[java.lang.Double]),
        org.apache.spark.sql.Row(2L, Seq[java.lang.Double](null, null)),
        org.apache.spark.sql.Row(3L, Seq[java.lang.Double](0.0, 0.0)))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val got = df.select(col("vec_id"),
        call_function("graft_q8cell", col("embedding")).as("s"))
      .select(col("vec_id"), col("s.na2"), col("s.cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 255L), (2L, 0L, 255L), (3L, 0L, 255L)))
  }

  test("role pair stage: sharded equals unsharded, batch and cross") {
    // round-12: the (cell, shard) re-key that spreads a hot q8 cell's
    // candidate block across RoleShards tasks must not change the pair
    // set — every pair meets in the partner's one shard. Pinned for
    // both role shapes at the dense fixture threshold (τ = 0.30,
    // maximal pair mass) and the production τ = 0.95.
    val batch = SimilarityOps.batchCells(spark, sf)
    val exist = SimilarityOps.existCells(spark, sf)
    val cells = SimilarityOps.SemanticCells
    def role(partner: org.apache.spark.sql.DataFrame, within: Boolean, tau: Long) =
      cells.roleEdges(cells.band(batch), cells.band(partner), within,
        SimilarityOps.RoleShards, tau)
    for (tau <- Seq(30L, 95L)) {
      def key(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(
        key(role(exist, within = false, tau)) ==
        key(SimilarityOps.semanticPairsRoleUnsharded(batch, exist,
          within = false, tauE2 = tau)), s"cross pairs differ at tau=$tau")
      assert(
        key(role(batch, within = true, tau)) ==
        key(SimilarityOps.semanticPairsRoleUnsharded(batch, batch,
          within = true, tauE2 = tau)), s"within pairs differ at tau=$tau")
    }
  }

  test("pair plan joins on cell+tile keys, never a cartesian") {
    val plan = SimilarityOps.semanticDedup(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("cell"))
    assert(!plan.toLowerCase.contains("cartesian"))
  }
}
