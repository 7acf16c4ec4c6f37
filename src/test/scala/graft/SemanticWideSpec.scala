package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, SimilarityOps}
import graft.sources.Tables

/** The WIDE 4-band × 16-plane semantic lattice (round-14: the last
  * fixed-key-space quadratic's structural fix, the simhash_dedup_wide
  * blueprint applied to the q8 family): the native graft_q8cellw
  * signature must be bit-identical to a driver-Scala reference of the
  * documented arithmetic, the tiled band-OR pair stage must equal a
  * naive all-pairs over the same cells, the sharded role probes must
  * equal their unsharded twins, and the incremental wide verdict must
  * equal the full recompute.
  */
class SemanticWideSpec extends SparkSuite {

  private def q8Ref(v: Seq[Double]): Seq[Long] = {
    val m = if (v.isEmpty) 0.0 else v.map(math.abs).max
    if (m == 0) v.map(_ => 0L)
    else v.map(x => math.floor(x * 127.0 / m + 0.5).toLong)
  }

  private def cellsRef(q: Seq[Long]): Seq[Long] =
    (0 until 4).map { b =>
      (0 until 16).foldLeft(0L) { (acc, j) =>
        val p = 16L * b + j
        val dot = q.zipWithIndex.map { case (x, d) =>
          x * ((p * 2654435761L + d * 40503L) % 1001L - 500L)
        }.sum
        acc * 2 + (if (dot >= 0) 1L else 0L)
      }
    }

  private lazy val vecsRef: Map[Long, Seq[Long]] =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> q8Ref(r.getSeq[Float](1).map(_.toDouble)))
      .toMap

  test("native graft_q8cellw is bit-identical to the reference arithmetic") {
    graft.GraftExtensions.register(spark)
    val got = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        call_function("graft_q8cellw", col("embedding")).as("s"))
      .select(col("vec_id"), col("s.q8"), col("s.na2"), col("s.cells"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2),
        r.getSeq[Long](3)))
    assert(got.nonEmpty)
    got.foreach { case (id, q8, na2, cells) =>
      val ref = vecsRef(id)
      assert(q8 == ref, s"vec $id q8")
      assert(na2 == ref.map(x => x * x).sum, s"vec $id na2")
      assert(cells == cellsRef(ref), s"vec $id cells")
    }
    // planes 0..7 ARE the narrow cell's planes: band 0's top byte
    // equals graft_q8cell's 8-bit cell (the documented compatibility)
    val narrow = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        call_function("graft_q8cell", col("embedding")).getField("cell")
          .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, _, _, cells) =>
      assert(cells.head >> 8 == narrow(id), s"vec $id band0 high byte")
    }
  }

  test("degenerate vectors sign to cells [65535 x4] / na2 0 (oracle COALESCE contract)") {
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
        call_function("graft_q8cellw", col("embedding")).as("s"))
      .select(col("vec_id"), col("s.na2"), col("s.cells"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
    got.foreach { case (id, na2, cells) =>
      assert(na2 == 0L, s"vec $id na2")
      assert(cells == Seq(65535L, 65535L, 65535L, 65535L), s"vec $id cells")
    }
  }

  test("tiled band-OR pair stage equals naive all-pairs, exactly once") {
    val got = SimilarityOps.semanticDedupWide(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty, "fixture produced no wide semantic pairs")
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    val byKey = vecsRef.toSeq
      .flatMap { case (id, q) =>
        cellsRef(q).zipWithIndex.map { case (c, b) => (b, c) -> id }
      }
      .groupBy(_._1)
    val expected = byKey.values.toSeq.flatMap { members =>
      for {
        (_, a) <- members
        (_, b) <- members
        if a < b
        qa = vecsRef(a); qb = vecsRef(b)
        dot = qa.zip(qb).map { case (x, y) => x * y }.sum
        na2 = qa.map(x => x * x).sum
        nb2 = qb.map(x => x * x).sum
        if dot > 0 && dot * dot * 10000L >= 900L * na2 * nb2
      } yield (a, b) -> ((dot, dot * dot * 1000000L / (na2 * nb2)))
    }.toMap
    assert(got.map(p => (p._1, p._2)).toSet == expected.keySet)
    got.foreach { case (a, b, dot, cos2) =>
      assert(expected((a, b)) == (dot, cos2), s"pair ($a,$b) evidence differs")
    }
  }

  test("wide role pair stage: sharded equals unsharded, batch and cross") {
    val wide = SimilarityOps.SemanticWideBuckets
    val batch = wide.band(SimilarityOps.batchCellsWide(spark, sf))
    val exist = wide.band(SimilarityOps.existCellsWide(spark, sf))
    for (tau <- Seq(30L, 95L)) {
      def key(df: org.apache.spark.sql.DataFrame) =
        df.distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(
        key(wide.roleEdges(batch, exist, within = false,
          SimilarityOps.RoleShards, tau)) ==
        key(SimilarityOps.semanticPairsRoleWideUnsharded(batch, exist,
          within = false, tauE2 = tau)), s"cross pairs differ at tau=$tau")
      assert(
        key(wide.roleEdges(batch, batch, within = true,
          SimilarityOps.RoleShards, tau)) ==
        key(SimilarityOps.semanticPairsRoleWideUnsharded(batch, batch,
          within = true, tauE2 = tau)), s"within pairs differ at tau=$tau")
    }
  }

  test("incremental wide verdict equals the full recompute verdict") {
    // the oracle asserts this against DuckDB at the driver's SF; this
    // pins the same identity in-engine at the spec fixture — the
    // merge over the stored assignment must reproduce components of
    // the full τ=0.95 wide pair graph (labels are min-ids)
    val pairs = SimilarityOps.semanticWidePairsShared(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(v => v -> find(v)).toMap
    val rows = GraphOps.semanticClustersIncrementalWide(spark, sf)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, c, _) =>
      assert(c == comp.get(id), s"doc $id component") }
  }

  test("wide pair plan joins on subcell+tile keys, never a cartesian") {
    val plan = SimilarityOps.semanticDedupWide(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("subcell"))
    assert(!plan.toLowerCase.contains("cartesian"))
  }
}
