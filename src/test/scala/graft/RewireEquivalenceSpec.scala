package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AggOps, SimilarityOps, TextOps}
import graft.sources.Tables

/** The round-2 scale rewires must be OUTPUT-IDENTICAL to the naive
  * quadratic / single-reducer forms they replace:
  *  - simhash_dedup: pigeonhole-banded join vs all-pairs block join
  *    (Hamming ≤ 8 over 9 disjoint chunks ⇒ one chunk equal — exact);
  *  - embedding_dedup: bounded-tile triangle join vs label all-pairs
  *    (tiling only re-routes pairs, never skips them — exact);
  *  - ngram_jaccard: PPJoin prefix filter vs full token self-join
  *    (prefix-filter theorem guarantees recall 1 at t = 0.5 — exact);
  *  - round_robin_assign: range-repartitioned rank + offsets vs the
  *    unpartitioned global window.
  * Asserted at sf0.01 (the driver's CORRECTNESS scale) against
  * independently-written naive plans.
  */
class RewireEquivalenceSpec extends SparkSuite {

  test("doc_pack distributed prefix sum equals the window form at sf0.01") {
    val dist = operators.TextOps.docPack(spark, "/root/testdata/sf0.01")
      .collect().map(_.toSeq).toSeq
    val win = operators.TextOps.docPackWindow(spark, "/root/testdata/sf0.01")
      .collect().map(_.toSeq).toSeq
    assert(dist == win)
  }
  private val sf01 = "/root/testdata/sf0.01"

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("simhash_dedup banded equals naive all-pairs at sf0.01") {
    val sh = SimilarityOps.simhashes(spark, sf01)
    val naive = sh.alias("a").join(sh.alias("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming",
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))))
      .filter(col("hamming") <= 8)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("hamming").cast("int").as("hamming"))
      .orderBy("a_id", "b_id")
    val banded = SimilarityOps.simhashDedup(spark, sf01)
    val got = rows(banded)
    assert(got.nonEmpty)
    assert(got == rows(naive))
  }

  test("simhash_dedup plan contains no block self-join (joins on band keys)") {
    val plan = SimilarityOps.simhashDedup(spark, sf01)
      .queryExecution.optimizedPlan.toString
    // the join must carry band/chunk equi-keys, not just source
    assert(plan.contains("band"))
    assert(plan.contains("chunk"))
  }

  test("embedding_dedup tiled equals naive label all-pairs at sf0.01") {
    GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val naive = e.alias("a").join(e.alias("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_e4",
        round(call_function("cosine_sim", col("a.v"), col("b.v")) * 10000)
          .cast("long"))
      .filter(col("cos_e4") >= 2500)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.label").as("label"), col("cos_e4"))
      .orderBy("a_id", "b_id")
    val tiled = SimilarityOps.embeddingDedup(spark, sf01)
    val got = rows(tiled)
    assert(got.size == 293) // CORRECTNESS_r01 row count
    assert(got == rows(naive))
  }

  test("embedding_dedup output is tile-fanout-invariant (forced B = 1 vs 16)") {
    // The adaptive fanout clamps to B = 8 at fixture scale, where
    // labels are small enough that most tiles are empty — forcing a
    // spread (1 vs 16) exercises the cross-tile explode ranges and
    // role normalization the 100× runs rely on (round-12 advice).
    val untiled = rows(SimilarityOps.embeddingDedupTiled(spark, sf01, 1))
    val forced = rows(SimilarityOps.embeddingDedupTiled(spark, sf01, 16))
    assert(untiled.size == 293)
    assert(forced == untiled)
  }

  test("simhash_dedup_wide banded equals naive all-pairs (9-chunk pigeonhole)") {
    // the 126-bit wide form's exactness claim: 9 disjoint 14-bit
    // chunks are exactly r+1 bands for radius 8, so every qualifying
    // pair collides on >=1 chunk — banded output ≡ the quadratic
    // all-pairs join over the same signatures
    GraftExtensions.register(spark)
    val sh = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("source"),
        call_function("graft_polysimhash_wide", col("text")).as("chunks"))
    val ham = aggregate(
      zip_with(col("a.chunks"), col("b.chunks"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)
    val naive = sh.alias("a").join(sh.alias("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        ham.as("hamming"))
      .filter(col("hamming") <= 8)
      .select(col("a_id"), col("b_id"), col("hamming").cast("int").as("hamming"))
      .orderBy("a_id", "b_id")
    val banded = SimilarityOps.simhashDedupWide(spark, sf01)
    val got = rows(banded)
    assert(got.nonEmpty)
    assert(got == rows(naive))
    // and the wide tile routing, forced past the adaptive pick
    val wideBanded = SimilarityOps.simhashWideBandedFrame(spark, sf01)
    val wide = SimilarityOps.SimhashWideBuckets
    val forced = rows(SimilarityOps.hammingPairs(
      wide.selfPairs(wideBanded, 4, Some(wide.tau))))
    assert(forced == got)
  }

  test("graft_hamming_chunks is bit-identical to the HOF it replaced") {
    // The banded-vs-naive test above only compares hamming <= 8
    // survivors; this pins the native fused loop against
    // aggregate(zip_with(bit_count(xor))) on EVERY pair of a sample
    // cross join — the unfiltered distances too.
    GraftExtensions.register(spark)
    val sh = Tables.documents(spark, sf01).limit(80)
      .select(col("doc_id"),
        call_function("graft_polysimhash_wide", col("text")).as("chunks"))
    val hof = aggregate(
      zip_with(col("a.chunks"), col("b.chunks"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)
    val native = call_function("graft_hamming_chunks",
      col("a.chunks"), col("b.chunks"))
    val diff = sh.alias("a").crossJoin(sh.alias("b"))
      .select(hof.as("h"), native.as("n"))
      .filter(col("h") =!= col("n"))
      .count()
    assert(diff == 0)
  }

  test("graft_hamming_chunks matches the HOF on malformed inputs too") {
    // round-15 advice: the function is registered on the public SQL
    // surface, so a user swapping the HOF for the native form must see
    // identical results on inputs the signature generators never emit
    // — mismatched lengths (zip_with pads with nulls → NULL) and null
    // elements (aggregate's + propagates → NULL). Both forced through
    // codegen AND interpreted eval (the filter below runs codegen'd;
    // the collect checks values either way).
    GraftExtensions.register(spark)
    val rows = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1L, 2L),       array(1L, 2L, 4L)),
        |  (array(1L, 2L, 4L),   array(1L, 2L)),
        |  (array(1L, NULL, 4L), array(1L, 2L, 4L)),
        |  (array(1L, 2L, 4L),   array(NULL, 2L, 4L)),
        |  (array(1L, 2L, 4L),   array(1L, 3L, 4L)),
        |  (CAST(NULL AS ARRAY<BIGINT>), array(1L, 2L))
        |AS t(a, b)""".stripMargin)
    val hof = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), _ + _)
    val native = call_function("graft_hamming_chunks", col("a"), col("b"))
    val got = rows.select(hof.as("h"), native.as("n")).collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null parity differs: hof=${r.get(0)} native=${r.get(1)}")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
    // the well-formed row survives with the exact distance
    val ok = rows.filter(native === 1L).count()
    assert(ok == 1)
  }

  test("simhash pair join is tile-invariant (forced tiles = 4 vs 1)") {
    // At sf0.01 the adaptive simhash fanout computes tiles = 1 (the
    // measured bucket histogram is tiny), so the dispatch-path test
    // above never routes through the multi-tile branch — force it
    // (round-12 advice): every pair must meet in exactly one
    // (bucket, ti, tj) tile, so output is identical for any tiles.
    val banded = SimilarityOps.simhashBandedFrame(spark, sf01)
    val f = SimilarityOps.SimhashBuckets
    val untiled = rows(SimilarityOps.hammingPairs(f.selfPairs(banded, 1, Some(f.tau))))
    val forced = rows(SimilarityOps.hammingPairs(f.selfPairs(banded, 4, Some(f.tau))))
    assert(untiled.nonEmpty)
    assert(forced == untiled)
  }

  test("lattice band signature: native fused loop ≡ HOF formulation") {
    // round-13: graft_latticebands replaced the interpreted
    // transform(aggregate(zip_with(sequence…))) chain in the whole
    // integer-LSH/IVF-PQ family's banded scans — the swap is only
    // sound if the 4 band keys are bit-identical per vector
    val q8 = SimilarityOps.q8Frame(spark, sf01)
    val native = SimilarityOps.latticeBandedOf(q8)
      .orderBy("vec_id", "band").collect().map(_.toSeq).toSeq
    val hof = SimilarityOps.latticeBandedOfHof(q8)
      .orderBy("vec_id", "band").collect().map(_.toSeq).toSeq
    assert(hof.nonEmpty)
    assert(native == hof)
  }

  test("SRP bucket signature: native fused loop ≡ HOF formulation") {
    // the float-plane analog of the lattice test above — signs depend
    // on IEEE accumulation ORDER, so the native loop must reproduce
    // the HOF's sequential zip_with fold bit-for-bit
    GraftExtensions.register(spark)
    val vecs = Tables.embeddings(spark, sf01)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val native = vecs
      .select(col("vec_id"),
        posexplode(call_function("graft_srpbands", col("v"),
          typedlit(SimilarityOps.LshPlanes))))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      .orderBy("vec_id", "table").collect().map(_.toSeq).toSeq
    val hof = SimilarityOps.srpBucketsHof(vecs)
      .orderBy("vec_id", "table").collect().map(_.toSeq).toSeq
    assert(hof.nonEmpty)
    assert(native == hof)
  }

  test("ngram_jaccard PPJoin equals naive token self-join at sf0.01") {
    val shingleExpr = expr(
      """array_distinct(transform(
        |  sequence(0, greatest(size(split(text, ' ')) - 3, 0)),
        |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 3))))""".stripMargin)
    val docs = Tables.documents(spark, sf01)
      .select(col("doc_id"), col("source"), shingleExpr.as("sh"))
      .withColumn("sz", size(col("sh")))
    val naive = docs.alias("a").join(docs.alias("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long"))
      .filter(lit(2) * col("inter") >= col("a.sz") + col("b.sz") - col("inter") &&
        col("inter") > 0)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        round(lit(1000.0) * col("inter") /
          (col("a.sz") + col("b.sz") - col("inter"))).cast("long")
          .as("jaccard_milli"))
      .orderBy("a_id", "b_id")
    val expected = rows(naive)
    // dispatcher (hash-order at fixture scale) and both explicit paths
    assert(rows(TextOps.ngramJaccard(spark, sf01)) == expected)
    assert(rows(TextOps.ngramJaccardPrefixHash(spark, sf01)) == expected)
    assert(rows(TextOps.ngramJaccardPrefixDf(spark, sf01)) == expected)
  }

  test("ngram_jaccard saturation regime: exact precision, measured recall") {
    // round-12: at prefix-df saturation the dispatcher hands off to
    // MinHash-banded candidates + the SAME exact verify. Contract:
    // precision 1 (every reported pair true, every jaccard_milli
    // exact — banded output ⊆ exact output) and recall ≥ ~0.99 at the
    // J = 0.5 threshold (P(2-row band hit) = 1 − (1 − J²)^16 = 0.990
    // at J = 0.5, → 1 exponentially above). MEASURED here against the
    // recall-1 path, not just derived.
    val exact = rows(TextOps.ngramJaccardPrefixHash(spark, sf01))
    val banded = rows(TextOps.ngramJaccardBanded(spark, sf01))
    assert(exact.nonEmpty)
    val exactSet = exact.toSet
    assert(banded.forall(exactSet.contains),
      "banded regime reported a pair/value the exact path does not")
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.95,
      f"measured recall $recall%.4f below the declared ~0.99 contract")
  }

  test("skew_join_salted equals the plain unsalted join at sf0.01") {
    import graft.operators.JoinOps
    val skewKey = when(col("o_orderkey") % 10 < 8, lit(0L))
      .otherwise(col("o_orderkey") % 100)
    val fact = Tables.orders(spark, sf01)
      .select(col("o_orderkey"), skewKey.as("k"),
        (round(col("o_totalprice") * 100)).cast("long").as("price_cents"))
    val dim = Tables.supplier(spark, sf01)
      .groupBy((col("s_suppkey") % 100).as("k"))
      .agg(max("s_name").as("s_name"))
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_orders"), sum("price_cents").as("revenue_cents"),
        max("s_name").as("any_supplier"))
      .orderBy("k")
    val got = rows(JoinOps.skewJoinSalted(spark, sf01))
    assert(got.nonEmpty)
    assert(got == rows(plain))
  }

  test("round_robin_assign distributed rank equals global-window rank at sf0.01") {
    val pend = Tables.tasks(spark, sf01)
      .filter(col("status") === Tables.Pending)
      .select(col("id"), col("create_time"), col("priority"))
      .withColumn("rn", row_number().over(
        Window.orderBy(asc("create_time"), asc("id"))))
    val w = Tables.workers(spark, sf01)
      .select(col("worker_id"))
      .withColumn("wrn", row_number().over(Window.orderBy(asc("worker_id"))))
      .withColumn("nw", count(lit(1)).over(Window.partitionBy()))
    val naive = pend.join(broadcast(w),
        pmod(col("rn") - 1, col("nw")) + 1 === col("wrn"))
      .select("id", "priority", "worker_id")
      .orderBy("id")
    val got = rows(AggOps.roundRobinAssign(spark, sf01))
    assert(got.nonEmpty)
    assert(got == rows(naive))
  }
}
