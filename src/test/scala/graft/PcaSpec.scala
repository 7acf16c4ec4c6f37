package graft

import org.apache.spark.sql.functions._

/** The PCA lifecycle must agree with a plain-Scala reference end to
  * end: the distributed covariance equals a driver recompute exactly
  * (integer arithmetic), the Jacobi basis is orthonormal with
  * descending eigen-residual-checked eigenvalues, and the projection
  * query reproduces the reference fold bit-for-bit (same left-to-right
  * summation order).
  */
class PcaSpec extends SparkSuite {

  private lazy val q8ByVec: Map[Long, Array[Long]] = {
    GraftExtensions.register(spark)
    sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        call_function("graft_q8cell", col("embedding")).getField("q8").as("q8"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
  }

  test("q8_covariance equals an exact driver recompute") {
    val rows = operators.PcaOps.q8Covariance(spark, sf).collect()
    assert(rows.nonEmpty)
    val d = rows.iterator.map(_.getInt(1)).max + 1
    val vecs = q8ByVec.values.toArray
    assert(rows.length == d * (d + 1) / 2)
    rows.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      assert(r.getLong(2) == vecs.length)
      assert(r.getLong(3) == vecs.iterator.map(v => v(i) * v(j)).sum,
        s"s2($i,$j)")
      assert(r.getLong(4) == vecs.iterator.map(_(i)).sum, s"s1_i($i,$j)")
      assert(r.getLong(5) == vecs.iterator.map(_(j)).sum, s"s1_j($i,$j)")
    }
  }

  test("PCA basis: orthonormal, descending eigenvalues, true eigenvectors") {
    val (comps, _) = operators.PcaOps.pcaBasis(spark, sf)
    val d = comps.head.length
    // orthonormality
    for (a <- comps.indices; b <- a until comps.length) {
      val dot = (0 until d).map(i => comps(a)(i) * comps(b)(i)).sum
      val expect = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-8, s"<w$a, w$b> = $dot")
    }
    // rebuild the centered covariance and check residuals + ordering
    val vecs = q8ByVec.values.toArray
    val n = vecs.length.toDouble
    val mean = (0 until d).map(i => vecs.iterator.map(_(i)).sum / n).toArray
    val cov = Array.tabulate(d, d)((i, j) =>
      vecs.iterator.map(v => v(i) * v(j)).sum / n - mean(i) * mean(j))
    val lambdas = comps.map { w =>
      val cw = (0 until d).map(i => (0 until d).map(j => cov(i)(j) * w(j)).sum)
      val lambda = (0 until d).map(i => w(i) * cw(i)).sum // Rayleigh quotient
      val resid = math.sqrt(
        (0 until d).map(i => math.pow(cw(i) - lambda * w(i), 2)).sum)
      assert(resid < 1e-6 * math.max(1.0, math.abs(lambda)),
        s"eigen residual $resid at lambda $lambda")
      lambda
    }
    lambdas.sliding(2).foreach { case Array(hi, lo) =>
      assert(hi >= lo - 1e-9, s"eigenvalues out of order: $hi < $lo")
    }
    assert(lambdas.head > 0, "top eigenvalue must be positive")
  }

  test("embedding_pca_project equals the reference projection, micro-exact") {
    val (comps, offsets) = operators.PcaOps.pcaBasis(spark, sf)
    val got = operators.PcaOps.embeddingPcaProject(spark, sf).collect()
    assert(got.length == q8ByVec.size)
    got.foreach { r =>
      val v = q8ByVec(r.getLong(0))
      comps.indices.foreach { c =>
        // same left-to-right fold order as the query's zip_with+aggregate
        val dot = v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * comps(c)(i))
        val expect = math.round((dot - offsets(c)) * 1e6)
        assert(r.getLong(1 + c) == expect,
          s"vec ${r.getLong(0)} pc${c + 1}: ${r.getLong(1 + c)} vs $expect")
      }
    }
  }
}
