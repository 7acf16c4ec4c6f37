package graft

import graft.operators.SimilarityOps

/** Pins the oracle-checkable poly-hash fuzzy-dedup twins against a
  * fully independent plain-Scala reference implementation at sf0.001 —
  * a third computation of the same semantics besides the Spark plan
  * and the DuckDB oracle, so a shared-misunderstanding bug in the SQL
  * pair can't slip through.
  */
class PolyDedupSpec extends SparkSuite {

  private val P = 1000000007L

  test("empty tokens (consecutive spaces) hash identically in native and HOF forms") {
    import org.apache.spark.sql.functions.{call_function, col}
    val s = spark
    import s.implicits._
    graft.GraftExtensions.register(spark)
    // "a  b c d" has an empty token (rollfp("") = 0 participates);
    // "  " is three empty tokens — the oracle's CASE WHEN length=0
    // branch mirrors both (checked by the DuckDB gate at all SFs)
    val df = Seq((1L, "a  b c d"), (2L, "  "), (3L, "x y z"))
      .toDF("doc_id", "text")
    val native = SimilarityOps.withPolySignature(spark, df, col("text"))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = SimilarityOps.withPolySignatureHof(spark, df, col("text"))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == Set(1L, 2L, 3L), s"docs dropped: ${native.keySet}")
    assert(native == hof)
    // simhash: the all-empty doc hashes every word to 0 → simhash 0
    val sim = df.select(col("doc_id"),
        call_function("graft_polysimhash", col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(2L) == 0L)
    assert(sim(1L) != 0L)
  }

  test("native graft_polysimhash ≡ the nested-aggregate HOF pipeline, bit for bit") {
    import org.apache.spark.sql.functions.{call_function, col}
    graft.GraftExtensions.register(spark)
    val native = sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        call_function("graft_polysimhash", col("text")).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = SimilarityOps.simhashPolyHof(spark, sf)
      .select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.keySet == hof.keySet)
    assert(native.nonEmpty)
    native.foreach { case (id, s) =>
      assert(s == hof(id), s"simhash mismatch for doc $id: $s vs ${hof(id)}")
    }
  }

  test("native graft_polyminhash ≡ the composed-HOF signature pipeline, bit for bit") {
    import org.apache.spark.sql.functions.col
    val base = sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val native = SimilarityOps.withPolySignature(spark, base, col("text"))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val hof = SimilarityOps.withPolySignatureHof(spark, base, col("text"))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(native.keySet == hof.keySet, "forms disagree on which docs have sigs")
    assert(native.nonEmpty)
    native.foreach { case (id, s) =>
      assert(s == hof(id), s"sig mismatch for doc $id: $s vs ${hof(id)}")
    }
  }

  private def polyHash(w: String): Long = {
    var h = 0L
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  // (doc_id, source, word hashes) for every fixture doc
  private lazy val docs: Seq[(Long, String, Array[Long])] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ", -1).map(polyHash)))

  test("minhash_dedup_poly equals a plain-Scala reference at sf0.001") {
    val sigs = docs.collect { case (id, _, wh) if wh.length >= 3 =>
      val sh = (0 to wh.length - 3).map(i =>
        ((wh(i) * 31 + wh(i + 1)) % P * 31 + wh(i + 2)) % P)
      val sig = (0 until 16).map(i =>
        sh.map(h => (h * ((2 * i + 1) * 2654435761L % P) + 7919L * i) % P)
          .min).toVector
      id -> sig
    }
    val expected = (for {
      (aId, sa) <- sigs; (bId, sb) <- sigs
      if aId < bId
      if (0 until 4).exists(b => sa.slice(b * 4, b * 4 + 4) == sb.slice(b * 4, b * 4 + 4))
    } yield {
      val matches = (0 until 16).count(i => sa(i) == sb(i))
      (aId, bId, math.round(1000.0 * matches / 16))
    }).toSet
    val got = SimilarityOps.minhashDedupPoly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("simhash_dedup_poly equals a plain-Scala reference at sf0.001") {
    val hashes = docs.collect { case (id, src, wh) if wh.nonEmpty =>
      val simhash = (0 until 30).map { b =>
        if (2 * wh.count(h => ((h >> b) & 1L) == 1L) > wh.length) 1L << b else 0L
      }.sum
      (id, src, simhash)
    }
    val expected = (for {
      (aId, aSrc, ha) <- hashes; (bId, bSrc, hb) <- hashes
      if aId < bId && aSrc == bSrc
      if (0 until 3).exists(i => ((ha >> (i * 10)) & 1023L) == ((hb >> (i * 10)) & 1023L))
      if java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (aId, bId, java.lang.Long.bitCount(ha ^ hb))).toSet
    val got = SimilarityOps.simhashDedupPoly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("dedup_incremental: all three verdict paths on an engineered corpus") {
    val s = spark
    import s.implicits._
    // ids ≡ 0 (mod 5) are the new batch. 10 dups existing 3; 15 and 20
    // are mutual dups → 15 survives (first-wins by arrival order) and
    // 20 is dup_new; 25 is unique; 30 is too short to sign (< 3 words)
    // → unique by fall-through.
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      3L  -> base,
      4L  -> "completely different existing text with many original words here",
      10L -> base,
      15L -> (base + " extra"),
      20L -> (base + " extra"),
      25L -> "an entirely unrelated new document about something else altogether",
      30L -> "too short"
    ).toDF("doc_id", "text")
    val got = SimilarityOps.dedupIncrementalOf(spark, df).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (10L, "dup_existing", Some(3L), false),
      (15L, "dup_existing", Some(3L), false),
      (20L, "dup_existing", Some(3L), false),
      (25L, "unique", None, true),
      (30L, "unique", None, true)))
    // drop the existing near-dup so the new×new path decides 15 vs 20
    val noBase = df.filter($"doc_id" =!= 3L)
    val got2 = SimilarityOps.dedupIncrementalOf(spark, noBase).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    assert(got2.toSeq == Seq(
      (10L, "unique", None, true),
      (15L, "dup_new", Some(10L), false),
      (20L, "dup_new", Some(10L), false),
      (25L, "unique", None, true),
      (30L, "unique", None, true)))
  }

  test("dedup_incremental equals a re-derivation from the full pair frame at sf0.001") {
    // Independent semantics check: a new doc's verdict must follow
    // from minhashDedupPoly's est≥0.5 pair frame — dup_existing if any
    // partner is existing, else dup_new if any NEW partner arrived
    // earlier, else unique. Candidate generation (bucket collision) is
    // identical in both, so this pins the verdict logic, the min-
    // partner choice, and the batch split.
    val pairs = SimilarityOps.minhashDedupPoly(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 >= 500)
    val partners = pairs.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val allIds = sources.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expected = allIds.filter(_ % 5 == 0).map { n =>
      val ps = partners.getOrElse(n, Set.empty)
      val exist = ps.filter(_ % 5 != 0)
      val earlier = ps.filter(p => p % 5 == 0 && p < n)
      if (exist.nonEmpty) (n, "dup_existing", Some(exist.min), false)
      else if (earlier.nonEmpty) (n, "dup_new", Some(earlier.min), false)
      else (n, "unique", None, true)
    }.toSeq
    val got = SimilarityOps.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3))).toSeq
    assert(got == expected)
  }

  test("fuzzy role probes: sharded equals unsharded, batch and cross") {
    // round-15: the (band, bucket, shard) re-key that spreads a hot
    // band bucket's candidate block across RoleShards tasks — the one
    // pair family that lacked it (the real corpus's license-mirror
    // cluster serialized fuzzy_clusters_incremental on one task) —
    // must not change the edge set: every pair meets in the partner's
    // one shard.
    val batch = SimilarityOps.batchBanded(spark, sf)
    val exist = SimilarityOps.existBanded(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val poly = SimilarityOps.PolyBuckets
    def role(partner: org.apache.spark.sql.DataFrame, within: Boolean,
        shards: Int) =
      poly.roleEdges(batch, partner, within, shards, poly.tau).distinct()
    assert(
      key(role(exist, within = false, SimilarityOps.RoleShards)) ==
      key(SimilarityOps.minhashPolyPairsRoleUnsharded(batch, exist,
        within = false)), "cross edges differ")
    val within = key(role(batch, within = true, SimilarityOps.RoleShards))
    assert(within ==
      key(SimilarityOps.minhashPolyPairsRoleUnsharded(batch, batch,
        within = true)), "within edges differ")
    assert(within.forall { case (s, d) => s < d })
    // shards = 1 takes the un-replicated plain-key path (the adaptive
    // fanout's verdict on flat histograms) — same edge set again
    assert(within == key(role(batch, within = true, shards = 1)),
      "shards=1 edges differ")
    assert(
      key(role(exist, within = false, shards = 1)) ==
      key(SimilarityOps.minhashPolyPairsRoleUnsharded(batch, exist,
        within = false)), "shards=1 cross edges differ")
  }

  test("fuzzy pair self-join is tile-invariant (forced tiles 4 vs 1 vs adaptive)") {
    // every pair meets in exactly one (band, bucket, ti, tj) tile per
    // colliding band, so the emitted (a_id, b_id, est) set is
    // identical for any fanout — and tiles = 1 is the pre-round-15
    // untiled plan, so this also pins no-regression of the pair set.
    import org.apache.spark.sql.functions.col
    val banded = SimilarityOps.polyBandedBuckets(spark, sf)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    val poly = SimilarityOps.PolyBuckets
    val untiled = key(poly.selfPairs(banded, 1, None))
    val tiled = key(poly.selfPairs(banded, 4, None))
    assert(untiled.nonEmpty)
    assert(tiled == untiled)
    val adaptive = key(SimilarityOps.minhashPolyPairs(spark, sf))
    assert(adaptive == untiled)
    // ordering contract downstream consumers rely on
    assert(untiled.forall { case (a, b, _) => a < b })
    // the adaptive fanout is sane on the healthy fixture
    val t = poly.tiles(spark, sf)
    assert(t >= 1 && t <= 16, s"fanout out of range: $t")
  }
}
