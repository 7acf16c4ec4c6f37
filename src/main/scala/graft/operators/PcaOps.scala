package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-store PREPROCESSING — the linear-algebra half a production
  * embedding pipeline runs before dedup/ANN: second-moment statistics
  * and a PCA basis (SemDeDup-style pipelines whiten or reduce before
  * cosine; IVF recall improves on decorrelated axes).
  *
  * Split the way the tokenizer/IVF lifecycles are split here:
  *  - [[q8Covariance]] — the DISTRIBUTED statistics pass, integer-exact
  *    over the int8-quantized store so it is fully DuckDB-hash-checked;
  *  - [[embeddingPcaProject]] — eigendecomposition of those statistics
  *    (driver-side Jacobi over the d×d matrix — dim-sized work, the
  *    same sanctioned shape as the BPE argmax or the IVF centroid
  *    collect) + the projection scan. Rows-only (no eigensolver in the
  *    oracle engine); PcaSpec pins it against a plain-Scala reference,
  *    orthonormality, eigen-residuals and ordering.
  *
  * Scale: the statistics pass emits d(d+1)/2 struct entries per vector
  * into a hash aggregation — map-side partial combine reduces the
  * shuffle to (d(d+1)/2 × partitions) rows regardless of corpus size,
  * the classic one-pass covariance shape. The eigen step is O(d³) on
  * d ~ 10²-10³ — driver-trivial forever. The projection is a pure
  * per-row scan with the basis shipped as plan literals (broadcast by
  * value), memoized per (session, store) like the IVF index — training
  * is the offline half of the lifecycle.
  */
object PcaOps {

  /** Raw second-moment frame over the q8 store, upper triangle
    * (i ≤ j): n, Σ q8ᵢq8ⱼ, Σ q8ᵢ, Σ q8ⱼ — everything centering needs,
    * all int64 (|q8| ≤ 127 ⇒ |Σ q8ᵢq8ⱼ| ≤ 1.6e4·n — exact far past
    * any corpus size). Centering happens AFTER aggregation
    * (Cov = S₂/n − μμᵀ), so the distributed pass never touches
    * doubles and the oracle compare is exact. */
  def q8Covariance(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    // moment entries stream from the native graft_q8moments generator
    // straight into the hash aggregation (the flatten-of-nested-
    // transform HOF form measured 2.8 s at sf0.1 — interpreted struct
    // storm, the usual Catalyst-HOF trap)
    SimilarityOps.q8Frame(spark, sfDir)
      .select(call_function("graft_q8moments", col("q8")))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum("v").as("s2"),
        sum("qi").as("s1_i"), sum("qj").as("s1_j"))
      .orderBy("i", "j")
  }

  /** Number of principal components the projection keeps. */
  private val K = 8

  /** (components, offsets): per-component weight vectors (rows of the
    * top-K eigenbasis, sign-canonicalized) and the centering offsets
    * Σᵢ w_ci·μᵢ. Memoized per (session, sfDir) — the training half
    * (shared [[Memo]] contract). */
  private[graft] def pcaBasis(spark: SparkSession,
      sfDir: String): (Array[Array[Double]], Array[Double]) = {
    Memo.cached(spark, s"pcaBasis:$sfDir") {
      val rows = q8Covariance(spark, sfDir).collect() // d(d+1)/2 rows — dim-sized
      require(rows.nonEmpty,
        s"pcaBasis: covariance frame over $sfDir is empty — no embeddings to train on")
      val d = rows.iterator.map(_.getInt(1)).max + 1
      // one shared n across entries: ragged embedding dimensions would
      // give per-entry counts and a silently wrong covariance — fail
      // loudly instead (the store contract is a single dimension)
      val ns = rows.iterator.map(_.getLong(2)).toSet
      require(ns.size == 1,
        s"pcaBasis: ragged embedding dimensions in $sfDir — per-entry counts ${ns.mkString(", ")}")
      val n = ns.head.toDouble
      val s1 = Array.ofDim[Double](d)
      rows.foreach { r =>
        if (r.getInt(0) == r.getInt(1)) s1(r.getInt(0)) = r.getLong(4).toDouble
      }
      val cov = Array.ofDim[Double](d, d)
      rows.foreach { r =>
        val (i, j) = (r.getInt(0), r.getInt(1))
        val c = (r.getLong(3).toDouble - s1(i) * s1(j) / n) / n
        cov(i)(j) = c; cov(j)(i) = c
      }
      val (vals, vecs) = jacobiEigen(cov)
      val order = vals.indices.sortBy(i => (-vals(i), i)).take(K)
      val comps = order.map { c =>
        val w = vecs.map(_(c))
        // sign canon: the max-|w| coordinate is positive (eigenvectors
        // are sign-ambiguous; determinism needs a convention)
        val m = w.indices.maxBy(i => (math.abs(w(i)), -i))
        if (w(m) < 0) w.map(x => -x) else w
      }.toArray
      val mean = s1.map(_ / n)
      val offsets = comps.map(w =>
        w.zip(mean).foldLeft(0.0)((acc, p) => acc + p._1 * p._2))
      (comps, offsets)
    }
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, column-eigenvector matrix). O(d³) per sweep,
    * converges quadratically; plenty for d ≤ ~2000 on the driver. */
  private[operators] def jacobiEigen(
      a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- (i + 1) until d) s += a(i)(j) * a(i)(j)
      s
    }
    while (off() > 1e-18 && sweep < 100) {
      for (p <- 0 until d; q <- (p + 1) until d if math.abs(a(p)(q)) > 1e-18) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) match {
          case 0.0 => 1.0
          case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project every stored vector onto the learned top-[[K]] PCA basis
    * (centered), emitting integer micros per component. The basis rides
    * into the plan as array LITERALS — the projection is one pure
    * scan, zero shuffles before the presentation sort; dot products
    * fold left-to-right (zip_with → ordered aggregate), the same order
    * PcaSpec's driver reference folds, so the spec compare is exact. */
  def embeddingPcaProject(spark: SparkSession, sfDir: String): DataFrame = {
    val q8v = SimilarityOps.q8Frame(spark, sfDir)
    q8v.select(col("vec_id") +: projectionCols(pcaBasis(spark, sfDir)): _*)
      .orderBy("vec_id")
  }

  /** The projection as reusable Columns over any (q8) frame — the
    * batch query and the streaming form share this one definition, so
    * the arithmetic cannot fork between them. */
  private def projectionCols(
      basis: (Array[Array[Double]], Array[Double])): Seq[Column] = {
    val (comps, offsets) = basis
    comps.toSeq.zipWithIndex.map { case (w, c) =>
      val dot = aggregate(
        zip_with(col("q8"), typedlit(w.toSeq), (x, wc) => x * wc),
        lit(0.0), (acc, x) => acc + x)
      round((dot - lit(offsets(c))) * 1e6).cast("long").as(s"pc${c + 1}_micro")
    }
  }
}
