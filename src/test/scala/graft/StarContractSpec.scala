package graft

import org.apache.spark.sql.DataFrame

/** Both paths of the components engine — the size-gated driver
  * union-find behind `components` and the distributed star-contraction
  * loop — must produce exactly the (doc, comp) mapping of a plain
  * union-find reference, on engineered topologies and on the real
  * fixture pair graphs. Also pins the O(log²) round behavior: the
  * 200-node path converges within the loop's 25-round cap.
  */
class StarContractSpec extends SparkSuite {
  import spark.implicits._

  private def edgesDf(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.toDF("src", "dst")

  /** Driver union-find reference: component = min id. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def collectMap(comps: DataFrame): Map[Long, Long] =
    comps.collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp")).toMap

  /** The distributed loop, called directly: every engineered graph
    * here is far below the driver union-find gate of `components`. */
  private def loop(edges: DataFrame): Map[Long, Long] = {
    val forest = operators.GraphOps.forestEdges(edges)
    collectMap(operators.GraphOps.starContractLoop(forest, forest.count()))
  }

  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    loop(edgesDf(pairs))

  test("small-graph fast path equals the distributed fixpoint on every family") {
    // the driver union-find (edge count <= SmallGraphEdges) must be
    // bit-identical to the fixpoint: same node set, same comp =
    // component-min labels
    val path = (1L until 60L).map(i => (i, i + 1))
    val cycle = (1L until 40L).map(i => (i, i + 1)) :+ (1L, 40L)
    val clique = for { a <- 100L to 110L; b <- (a + 1) to 110L } yield (a, b)
    val rng = new scala.util.Random(13)
    val random = Seq.fill(300)((rng.nextInt(150).toLong + 1,
      rng.nextInt(150).toLong + 1)).filter { case (a, b) => a != b }
    val messy = Seq((5L, 2L), (2L, 5L), (3L, 3L), (7L, 9L))
    for (g <- Seq(path, cycle, clique, random, messy)) {
      val fast = collectMap(operators.GraphOps.components(edgesDf(g)))
      assert(fast == run(g), s"fast path diverged on ${g.take(3)}...")
    }
  }

  test("star contraction equals union-find on engineered topologies") {
    val path = (1L until 60L).map(i => (i, i + 1)) // diameter 59
    val cycle = (1L until 40L).map(i => (i, i + 1)) :+ (1L, 40L)
    val clique = for {
      a <- 100L to 110L; b <- (a + 1) to 110L
    } yield (a, b)
    val stars = (1L to 5L).flatMap(r =>
      (1L to 6L).map(m => (r * 1000, r * 1000 + m)))
    val rng = new scala.util.Random(7)
    val random = Seq.fill(300)((rng.nextInt(150).toLong + 1,
      rng.nextInt(150).toLong + 1)).filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    for (g <- Seq(path, cycle, clique, stars, random)) {
      assert(run(g) == unionFind(g))
    }
  }

  test("200-node path converges under the 25-round cap (log², not diameter)") {
    val longPath = (1L until 200L).map(i => (i, i + 1))
    val got = run(longPath)
    assert(got == (1L to 200L).map(_ -> 1L).toMap)
  }

  test("unnormalized input (reversed edges, duplicates, self-loops) is handled") {
    val messy = Seq((5L, 2L), (2L, 5L), (5L, 2L), (3L, 3L), (7L, 9L))
    assert(run(messy) == Map(2L -> 2L, 5L -> 2L, 7L -> 7L, 9L -> 7L))
  }

  test("empty edge list yields empty components") {
    assert(run(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("engines agree on the real fixture pair graphs") {
    val semantic = operators.SimilarityOps
      .semanticPairs(spark, sf, operators.SimilarityOps.SemTauE2)
      .select($"a_id".as("src"), $"b_id".as("dst"))
    val fuzzy = operators.SimilarityOps.minhashPolyPairs(spark, sf)
      .filter($"est_jaccard_milli" >= 500)
      .select($"a_id".as("src"), $"b_id".as("dst"))
    val chunks = operators.GraphOps.chunkStarEdges(spark, sf)
    for (edges <- Seq(semantic, fuzzy, chunks)) {
      val expected = unionFind(edges.collect()
        .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSeq)
      assert(expected.nonEmpty, "fixture pair graph is empty")
      assert(collectMap(operators.GraphOps.components(edges)) == expected)
      assert(loop(edges) == expected)
    }
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) yields the same answer") {
    val dir = tempDir("star-ckpt")
    val g = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val plain = run(g)
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      val reliable = run(g)
      assert(reliable == plain)
      // the loop's checkpoints land under THIS spec's directory, even
      // when an earlier caller pointed the JVM-wide context elsewhere
      assert(regularFiles(dir) > 0,
        s"reliable mode left no checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }
}
