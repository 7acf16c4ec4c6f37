package graft

import org.apache.spark.sql.DataFrame

/** The alternating star-contraction components engine must produce
  * exactly the same (doc, comp) mapping as min-label propagation and
  * as a driver-side union-find — on engineered topologies and on the
  * real fixture pair graphs. Also pins the O(log²) round behavior: the
  * 200-node path converges within the 25-round cap — topology-blind
  * by construction (min-label also passes a pure path, but only
  * because pointer jumping telescopes label chains ALIGNED with the
  * graph; CcProbe records the measured trade per topology, and the
  * dense detector graphs are where this engine wins 4×).
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

  /** Run `body` with the small-graph fast path DISABLED, so these
    * tests keep exercising the distributed fixpoint (every engineered
    * graph here is far below the production threshold). */
  private def distributed[T](body: => T): T = {
    spark.conf.set("spark.graft.smallGraphEdges", "0")
    try body finally spark.conf.unset("spark.graft.smallGraphEdges")
  }

  private def run(pairs: Seq[(Long, Long)]): Map[Long, Long] = distributed {
    operators.GraphOps.starContractComponents(edgesDf(pairs)).collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp")).toMap
  }

  test("small-graph fast path equals the distributed fixpoint on every family") {
    // the driver union-find (edgeCount <= spark.graft.smallGraphEdges,
    // default on) must be bit-identical to the fixpoint: same node
    // set, same comp = component-min labels
    val path = (1L until 60L).map(i => (i, i + 1))
    val cycle = (1L until 40L).map(i => (i, i + 1)) :+ (1L, 40L)
    val clique = for { a <- 100L to 110L; b <- (a + 1) to 110L } yield (a, b)
    val rng = new scala.util.Random(13)
    val random = Seq.fill(300)((rng.nextInt(150).toLong + 1,
      rng.nextInt(150).toLong + 1)).filter { case (a, b) => a != b }
    val messy = Seq((5L, 2L), (2L, 5L), (3L, 3L), (7L, 9L))
    for (g <- Seq(path, cycle, clique, random, messy)) {
      val fast = operators.GraphOps.starContractComponents(edgesDf(g))
        .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp")).toMap
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
      val byStar = operators.GraphOps.starContractComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val byMinLabel = operators.GraphOps.minLabelComponents(edges)
        .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp"))
        .toMap
      assert(byStar.nonEmpty && byStar == byMinLabel)
    }
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) yields the same answer") {
    val dir = tempDir("star-ckpt").toString
    val g = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))
    val plain = run(g)
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      // the context checkpoint dir is set once per JVM (an earlier
      // reliable-mode test may own it) — count the DELTA of files in
      // whichever dir actually serves the engine's df.checkpoint()
      def fileCount(d: String): Long =
        java.nio.file.Files.walk(
            java.nio.file.Paths.get(d.stripPrefix("file:")))
          .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      val reliable = run(g)
      val actualDir = spark.sparkContext.getCheckpointDir.get
      assert(reliable == plain)
      assert(fileCount(actualDir) > 0,
        "reliable mode left no checkpoint files on disk")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("ccEngine conf forces the engine on star-shaped dispatch") {
    // dedupClusters dispatches starShaped=true → minlabel under auto;
    // forcing `star` must not change the answer.
    val auto = operators.GraphOps.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("spark.graft.ccEngine", "star")
    try {
      val forced = operators.GraphOps.dedupClusters(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(forced == auto)
    } finally spark.conf.unset("spark.graft.ccEngine")
  }
}
