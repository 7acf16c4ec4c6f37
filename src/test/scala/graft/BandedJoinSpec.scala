package graft

import org.apache.spark.sql.{Column, DataFrame}
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
