package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** IVF-PQ: lattice-pruned candidates scored by product-quantized ADC.
  * The oracle gate hash-checks the query end to end; this spec pins
  * the properties the hash can't express — recall against the exact
  * top-k, the stored-index lifecycle, and the compression contract.
  */
class IvfPqSpec extends SparkSuite {

  test("ADC recall@10 vs the exact q8 top-k is >= 0.6") {
    val exact = SimilarityOps.annQ8Topk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilarityOps.annIvfPqTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"IVF-PQ recall@10 $recall below 0.6 (ADC over pruned candidates)")
  }

  test("stored-index probe is bit-identical to the fused query") {
    val dir = tempDir("graft-ivfpq").toString
    SimilarityOps.buildIvfPqIndex(spark, sf, dir)
    val fused = SimilarityOps.annIvfPqTopk(spark, sf)
      .collect().map(_.toSeq).toSeq
    val probe = SimilarityOps.annIvfPqProbe(spark, sf, dir)
      .collect().map(_.toSeq).toSeq
    assert(fused.nonEmpty && probe == fused)
    // the compressed store really is M codes in [0, K) per vector —
    // the payload a 100 TB search reads instead of the vectors
    val codes = spark.read.parquet(s"$dir/codes")
    val n = codes.count()
    assert(n == spark.read.parquet(s"$sf/embeddings.parquet").count())
    val bad = codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= SimilarityOps.PqK).count()
    assert(bad == 0L)
    assert(codes.select(size(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(SimilarityOps.PqM))
  }

  test("stored codes match a plain-Scala PQ encoder over the stored codebook") {
    val dir = tempDir("graft-ivfpq2").toString
    SimilarityOps.buildIvfPqIndex(spark, sf, dir)
    val cb = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getAs[Int]("j"), r.getAs[Int]("k")) -> r.getSeq[Long](2))
      .toMap
    val sub = cb((0, 0)).length
    // q8 store recomputed in plain Scala with the family's quantizer
    // formula (that half is already oracle-checked via
    // embedding_quantize); the reference under test here is the
    // ENCODE rule: argmin integer L2, tie → smallest k
    val store = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect().map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val mx = v.map(math.abs).max
        r.getLong(0) -> v.map(x =>
          if (mx == 0) 0L else math.floor(x * 127.0 / mx + 0.5).toLong).toArray
      }.toMap
    val codes = spark.read.parquet(s"$dir/codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.nonEmpty && codes.keySet == store.keySet)
    codes.foreach { case (vid, got) =>
      val q = store(vid)
      val want = (0 until SimilarityOps.PqM).map { j =>
        val sv = q.slice(j * sub, (j + 1) * sub)
        (0 until SimilarityOps.PqK).minBy { k =>
          val cw = cb((j, k))
          (sv.zip(cw).map { case (x, c) => (x - c) * (x - c) }.sum, k)
        }.toLong
      }
      assert(got == want, s"vec $vid: got $got want $want")
    }
  }
}
