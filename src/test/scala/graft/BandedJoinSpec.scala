package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** The pair-join routing every dedup family shares
  * ([[SimilarityOps.tiledSelfJoin]], [[SimilarityOps.shardedRoleJoin]])
  * and the pure fanout rules sized from [[SimilarityOps.bucketMoments]],
  * pinned on small in-memory frames: one hot key among cold ones, so
  * every tile and shard of the hot key is populated. */
class BandedJoinSpec extends SparkSuite {

  /** (id, k): 60 ids on hot key 0, then 1–4 ids on each cold key. */
  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    val hot = (0L until 60L).map(i => (i, 0))
    val cold = (1 to 6).flatMap(k => (0 until (k % 4 + 1)).map(j => (1000L + 10 * k + j, k)))
    (hot ++ cold).toDF("id", "k")
  }

  /** Multiset of (lo, hi) id pairs, sorted. */
  private def pairs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
    df.select(least(col(s"$a.id"), col(s"$b.id")), greatest(col(s"$a.id"), col(s"$b.id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("tiledSelfJoin emits every same-key pair exactly once at any tile count") {
    val f = frame
    val naive = pairs(f.alias("a").join(f.alias("b"),
      col("a.k") === col("b.k") && col("a.id") < col("b.id")), "a", "b")
    assert(naive.size == 60 * 59 / 2 + Seq(2, 3, 4, 1, 2, 3).map(c => c * (c - 1) / 2).sum)
    for (tiles <- Seq(1, 2, 3, 7))
      assert(pairs(SimilarityOps.tiledSelfJoin(f, "id", Seq("k"), tiles), "a", "b") == naive,
        s"tiles = $tiles")
  }

  test("tiledSelfJoin appends its condition to the join") {
    val f = frame
    val cond = (col("a.id") + col("b.id")) % 3 === 0
    val naive = pairs(f.alias("a").join(f.alias("b"),
      col("a.k") === col("b.k") && col("a.id") < col("b.id") && cond), "a", "b")
    assert(naive.nonEmpty)
    assert(pairs(SimilarityOps.tiledSelfJoin(f, "id", Seq("k"), 3, cond), "a", "b") == naive)
  }

  test("shardedRoleJoin equals the plain join, within-batch and cross") {
    val f = frame
    val batch = f.filter(col("id") % 3 === 0)
    val store = f.filter(col("id") % 3 =!= 0)
    def plain(partner: DataFrame, cond: Column): Seq[(Long, Long)] =
      pairs(batch.alias("n").join(partner.alias("p"), col("n.k") === col("p.k") && cond),
        "n", "p")
    val within = col("p.id") < col("n.id")
    val cross = plain(store, lit(true))
    val inner = plain(batch, within)
    assert(cross.nonEmpty && inner.nonEmpty)
    for (shards <- Seq(1, 4, 32)) {
      assert(pairs(SimilarityOps.shardedRoleJoin(batch, store, "id", Seq("k"), shards,
        lit(true)), "n", "p") == cross, s"cross, shards = $shards")
      assert(pairs(SimilarityOps.shardedRoleJoin(batch, batch, "id", Seq("k"), shards,
        within), "n", "p") == inner, s"within, shards = $shards")
    }
    // shards ≤ 1 is the plain join: no shard column, no replication
    assert(!SimilarityOps.shardedRoleJoin(batch, store, "id", Seq("k"), 1, lit(true))
      .queryExecution.analyzed.output.exists(_.name == "shard"))
  }

  test("every banded family: self pairs tile-invariant, role edges equal the unsharded join") {
    // Table-driven over SimilarityOps.pairFamilies, so a family added
    // there is covered here by construction. Role mode probes a batch
    // (id % 5 = 0) against the whole store, which also holds the batch:
    // a row meets itself unless the family's cross guard forbids it.
    val sf = "/root/testdata/sf0.01"
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    // Each family's production verify as documented, read off its
    // evidence columns alone: the role reference below reuses f.verify,
    // so only this catches a changed threshold or comparison.
    def n(r: Row, c: String): Long = r.getAs[Number](c).longValue
    val hamming8: Row => Boolean = r => n(r, "hamming") <= 8
    val cos95: Row => Boolean = r => n(r, "dot") > 0 && n(r, "cos2_e6") >= 95L * 95L * 100L
    val documented = Map[String, Row => Boolean]("simhash" -> hamming8,
      "simhash_wide" -> hamming8, "semantic" -> cos95, "semantic_wide" -> cos95,
      "minhash_poly" -> (r => n(r, "est_jaccard_milli") >= 500L))
    for (f <- SimilarityOps.pairFamilies) {
      val banded = f.frame(spark, sf).localCheckpoint()
      for (tau <- Seq(None, Some(f.tau))) {
        val untiled = rows(f.selfPairs(banded, 1, tau))
        assert(untiled.nonEmpty || tau.nonEmpty, s"${f.name}: no candidates")
        assert(rows(f.selfPairs(banded, 4, tau)) == untiled, s"${f.name} self, tau = $tau")
      }
      // self candidates are the plain id-ordered self-join's, and the
      // verify keeps exactly the documented ones
      val plain = banded.alias("a").join(banded.alias("b"),
        f.keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.${f.id}") < col(s"b.${f.id}"))
      val plainPairs = plain.select(col("*") +: f.kernel("a", "b"): _*)
        .select(col(s"a.${f.id}") +: col(s"b.${f.id}") +: f.evidence("a", "b"): _*)
      val candidates = f.selfPairs(banded, 1, None)
      assert(rows(candidates) == rows(plainPairs.distinct()), s"${f.name} self candidates")
      assert(rows(f.selfPairs(banded, 1, Some(f.tau))) ==
        candidates.collect().filter(documented(f.name)).map(_.toString).toSeq.sorted,
        s"${f.name} verify")
      val batch = banded.filter(col(f.id) % 5 === 0)
      for ((partner, within) <- Seq((banded, false), (batch, true))) {
        val guard =
          if (within) col(s"p.${f.id}") < col(s"n.${f.id}") else f.crossGuard
        val joined = batch.alias("n").join(partner.alias("p"),
          f.keys.map(k => col(s"n.$k") === col(s"p.$k")).reduce(_ && _) && guard)
        val reference = rows(joined.select(col("*") +: f.kernel("n", "p"): _*)
          .filter(f.verify("n", "p", f.tau))
          .select(least(col(s"n.${f.id}"), col(s"p.${f.id}")),
            greatest(col(s"n.${f.id}"), col(s"p.${f.id}"))))
        assert(reference.nonEmpty || within, s"${f.name}: no cross edges")
        for (shards <- Seq(1, SimilarityOps.RoleShards))
          assert(rows(f.roleEdges(batch, partner, within, shards, f.tau)) == reference,
            s"${f.name} role, within = $within, shards = $shards")
      }
    }
  }

  test("bucketMoments is (max c, Σc²) of the key histogram") {
    val (maxC, sumSq) = SimilarityOps.bucketMoments(spark,
      s"bandedJoinSpec:${java.util.UUID.randomUUID()}", frame, "k")
    assert(maxC == 60.0)
    assert(sumSq == 3600.0 + Seq(2, 3, 4, 1, 2, 3).map(c => c * c).sum)
  }

  test("fanout rules: flat → 1, hot clamps, Σc² = 0 → 1, embedding within [8, 64]") {
    import SimilarityOps.{embeddingTiles, roleShardCount, stragglerTiles, RoleShards}
    val flat = (10.0, 100 * 10.0 * 10.0) // 100 buckets of 10
    val hot = (1000.0, 1000.0 * 1000.0 + 100 * 100.0)
    val rows = Seq(
      // (cores, moments, tiles, shards)
      (4.0, flat, 1, 1),
      (32.0, flat, 1, 1),
      (4.0, hot, 2, 4),
      (32.0, hot, 6, 32),
      (1000.0, hot, 16, RoleShards),
      (4.0, (0.0, 1.0), 1, 1), // Σc² = 0, as bucketMoments reports it
      (4.0, (0.0, 0.0), 1, 1))
    for ((cores, m, tiles, shards) <- rows) {
      assert(stragglerTiles(cores, m) == tiles, s"tiles at $cores, $m")
      assert(roleShardCount(cores, m) == shards, s"shards at $cores, $m")
    }
    assert(embeddingTiles(0) == 8)
    assert(embeddingTiles(20000) == 10) // ⌈20000 / √4M⌉
    assert(embeddingTiles(1e9) == 64)
    assert((0 to 200000 by 997).map(n => embeddingTiles(n.toDouble)).forall(b => b >= 8 && b <= 64))
  }
}
