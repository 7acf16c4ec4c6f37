package graft

/** dedup_clusters must equal a driver-side union-find over the same
  * star edges — labels included, since the components engine's
  * canonical component id IS the min doc_id of the component, which
  * union-find reproduces exactly. */
class GraphOpsSpec extends SparkSuite {

  test("dedup_clusters equals union-find over the chunk-share edges") {
    val edges = operators.GraphOps.chunkStarEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    assert(edges.nonEmpty, "fixture produced no duplicated chunks")

    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(v => v -> find(v)).toMap

    val got = operators.GraphOps.dedupClusters(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    assert(got == expected, s"components differ: ${got.size} vs ${expected.size}")

    // cluster sizes are consistent with the mapping
    val sizeByComp = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    operators.GraphOps.dedupClusters(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("cluster_size") ==
        sizeByComp(r.getAs[Long]("component")))
    }
  }

  test("fuzzy_dedup_canonical equals union-find over the poly-MinHash pairs") {
    // Edge source: the already-spec-pinned poly pair stream (PolyDedupSpec
    // proves it equals a plain-Scala MinHash reference), thresholded the
    // same way the operator thresholds.
    val edges = operators.SimilarityOps.minhashDedupPoly(spark, sf).collect()
      .filter(_.getAs[Long]("est_jaccard_milli") >= 500)
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    assert(edges.nonEmpty, "fixture produced no near-dup pairs")

    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.map(v => v -> find(v)).toMap
    val nChars = sources.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val survivors = comp.groupBy(_._2).map { case (c, members) =>
      c -> members.keys.maxBy(id => (nChars(id), -id))
    }

    val rows = operators.GraphOps.fuzzyDedupCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2)))
    assert(rows.length == nChars.size, "every document gets a verdict")
    rows.foreach { case (id, c, kept) =>
      assert(c == comp.get(id), s"doc $id component: got $c, want ${comp.get(id)}")
      val wantKept = c.forall(survivors(_) == id)
      assert(kept == wantKept, s"doc $id kept: got $kept, want $wantKept")
    }
  }

  test("dedup_canonical keeps exactly the longest member per cluster") {
    val nChars = sources.Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = operators.GraphOps.dedupCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getBoolean(2)))
    assert(rows.length == nChars.size, "every document gets a verdict")
    // unclustered docs are always kept
    assert(rows.filter(_._2.isEmpty).forall(_._3))
    // exactly one survivor per component, and it is the argmax
    rows.filter(_._2.isDefined).groupBy(_._2.get).foreach {
      case (comp, members) =>
        val kept = members.filter(_._3)
        assert(kept.length == 1, s"component $comp kept ${kept.length}")
        val best = members.map(_._1)
          .maxBy(id => (nChars(id), -id))
        assert(kept.head._1 == best,
          s"component $comp kept ${kept.head._1}, expected $best")
    }
  }

  test("componentsIncremental merges clusters and assigns new nodes") {
    import spark.implicits._
    // two stored clusters {1,2} and {10,11}; the batch bridges them
    // (2-10) and brings a fresh pair (20,21)
    val stored = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc", "comp")
    val newEdges = Seq((2L, 10L), (20L, 21L)).toDF("src", "dst")
    val got = operators.GraphOps.componentsIncremental(stored, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("the driver union-find answer is one partition") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val comp = operators.GraphOps.components(edges)
    assert(comp.rdd.getNumPartitions == 1)
    assert(comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedup_clusters_incremental equals the full recompute on the fixture") {
    val full = operators.GraphOps.dedupClusters(spark, sf).collect()
      .map(_.toSeq).toSet
    val inc = operators.GraphOps.dedupClustersIncremental(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(inc.nonEmpty && inc == full)
  }

  test("componentsIncremental: randomized merge ≡ union-find over stored ∪ new") {
    import spark.implicits._
    // the engine's own contract: its output equals the components of
    // (stored assignment viewed as comp→doc star edges) ∪ newEdges —
    // randomized over seeds, with new edges touching stored clusters,
    // bridging them, and introducing unseen nodes
    for (seed <- Seq(1, 7, 42, 99, 123)) {
      val rng = new scala.util.Random(seed)
      val baseEdges = Seq.fill(30)(
        (rng.nextInt(40).toLong + 1, rng.nextInt(40).toLong + 1))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val baseComp = unionFindOf(baseEdges)
      val stored = baseComp.toSeq.toDF("doc", "comp")
      val newEdges = Seq.fill(25)(
        (rng.nextInt(60).toLong + 1, rng.nextInt(60).toLong + 1))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      val storedStars = baseComp.toSeq
        .filter { case (d, c) => d != c }.map { case (d, c) => (c, d) }
      val expected = {
        val all = unionFindOf(storedStars ++ newEdges)
        // universe: every stored doc + every new-edge endpoint
        (baseComp.keySet ++ newEdges.flatMap(e => Seq(e._1, e._2)))
          .map(v => v -> all.getOrElse(v, v)).toMap
      }
      val got = operators.GraphOps.componentsIncremental(
          stored, newEdges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  private def unionFindOf(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("fuzzy_clusters_incremental equals the full fuzzy recompute") {
    val full = operators.GraphOps.fuzzyDedupCanonical(spark, sf).collect()
      .map(_.toSeq).toSet
    val inc = operators.GraphOps.fuzzyClustersIncremental(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(inc.nonEmpty && inc == full)
  }

  test("semantic_clusters_incremental equals the full semantic recompute") {
    val full = operators.GraphOps.semanticDedupT95(spark, sf).collect()
      .map(_.toSeq).toSet
    val inc = operators.GraphOps.semanticClustersIncremental(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(inc.nonEmpty && inc == full)
  }

  test("reliable-checkpoint mode is bit-identical to localCheckpoint mode") {
    // cluster form: spark.graft.checkpointDir routes the fixpoint's
    // inter-round truncation through reliable df.checkpoint() files so an
    // executor loss recomputes instead of failing. Same labels either way.
    val local = operators.GraphOps.dedupClusters(spark, sf).collect()
      .map(_.toSeq).toSeq
    val dir = tempDir("graft-ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    // the memoized cluster artifact captured localCheckpoint mode —
    // drop it so the reliable path actually re-runs the fixpoint
    // (the documented Memo contract for mid-session config/data swaps)
    operators.Memo.invalidate(spark)
    try {
      val reliable = operators.GraphOps.dedupClusters(spark, sf).collect()
        .map(_.toSeq).toSeq
      assert(reliable == local)
      // the reliable path wrote its checkpoint files under THIS
      // spec's directory, whoever set the JVM-wide context dir before
      assert(regularFiles(dir) > 0,
        s"reliable mode produced no checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      // don't leave reliable-mode artifacts memoized for later suites
      operators.Memo.invalidate(spark)
    }
  }

  test("sparsifyForest preserves components on cliques, paths, dups, random") {
    import spark.implicits._
    // round-15: the spanning-forest contraction in front of the
    // fixpoint engines must be components-INVARIANT for any
    // partitioning — forced to 8 partitions so cross-partition merges
    // are exercised; duplicate/multi-band edges must collapse.
    val clique = for (a <- 1L to 60L; b <- (a + 1) to 60L) yield (a, b)
    val path = (1L until 50L).map(i => (i, i + 1))
    val dups = Seq.fill(500)((1L, 2L)) ++ Seq.fill(500)((2L, 3L))
    val rng = new scala.util.Random(7)
    val random = Seq.fill(400)(
      (rng.nextInt(100).toLong + 1, rng.nextInt(100).toLong + 1))
      .filter { case (a, b) => a != b }
    for (g <- Seq(clique, path, dups, random)) {
      val edges = g.toDF("src", "dst").repartition(8)
      val forest = operators.GraphOps.sparsifyForest(edges)
      // the forest is a sub-multigraph with the same endpoints
      val nodes = g.flatMap { case (a, b) => Seq(a, b) }.toSet
      val fRows = forest.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(fRows.flatMap { case (a, b) => Seq(a, b) }.toSet == nodes)
      assert(fRows.length < math.max(2, g.length) || g.length <= nodes.size)
      // and components are identical to the unsparsified graph's
      def comps(df: org.apache.spark.sql.DataFrame) =
        operators.GraphOps.components(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps(forest.toDF("src", "dst")) == comps(g.toDF("src", "dst")))
    }
    // a clique's forest collapses to node-count scale even split 8 ways
    val cliqueForest = operators.GraphOps
      .sparsifyForest(clique.toDF("src", "dst").repartition(8)).count()
    assert(cliqueForest <= 8 * 60,
      s"clique forest should be ~partitions*nodes, got $cliqueForest " +
        s"of ${clique.length} edges")
  }

  test("small-graph collect path evaluates the upstream edge build once") {
    // round-16 verdict item 8: the measured-count gate runs count()
    // and then (under the gate) collect() on the same edge frame — if
    // the checkpoint inside forestEdges ever stopped materializing,
    // the upstream pair join would silently execute twice. Count
    // actual upstream evaluations with an accumulator threaded through
    // the edge build, through `components` (collect path) and through
    // the distributed loop called directly.
    import spark.implicits._
    val raw = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L), (5L, 4L))
    def run(engine: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): (Map[Long, Long], Long) = {
      val acc = spark.sparkContext.longAccumulator("edgeBuildRows")
      val counted = raw.toDS()
        .map { p => acc.add(1); p }
        .toDF("src", "dst")
      val comps = engine(counted)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (comps, acc.value)
    }
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 4L -> 4L, 5L -> 4L)
    val (small, nSmall) = run(operators.GraphOps.components)
    assert(small == expected, s"collect-path components wrong: $small")
    assert(nSmall == raw.length,
      s"collect path evaluated the upstream $nSmall times (want ${raw.length})")
    val (fix, nFix) = run { df =>
      val forest = operators.GraphOps.forestEdges(df)
      operators.GraphOps.starContractLoop(forest, forest.count())
    }
    assert(fix == expected, s"fixpoint components wrong: $fix")
    assert(nFix == raw.length,
      s"fixpoint path evaluated the upstream $nFix times (want ${raw.length})")
  }

  test("componentsIncremental checkpoints under spark.graft.checkpointDir") {
    // the batch edge set's checkpoint follows the reliable mode like
    // every other fixpoint checkpoint: under the key, no executor-local
    // block may remain in the merged answer's lineage
    import spark.implicits._
    val stored = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc", "comp")
    val fresh = Seq((3L, 10L), (31L, 30L), (21L, 40L), (40L, 41L))
      .toDF("src", "dst")
    def answer(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = answer(operators.GraphOps.componentsIncremental(stored, fresh))
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      20L -> 20L, 21L -> 20L, 40L -> 20L, 41L -> 20L, 30L -> 30L, 31L -> 30L))
    val dir = tempDir("graft-inc-ckpt")
    spark.conf.set("spark.graft.checkpointDir", dir.toString)
    try {
      val merged = operators.GraphOps.componentsIncremental(stored, fresh)
      val rdds = merged.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      assert(rdds.nonEmpty, "merged answer reads no checkpointed frame")
      assert(rdds.forall(_.getCheckpointFile.exists(_.contains(dir.toString))),
        s"executor-local checkpoint under reliable mode: " +
          rdds.map(_.getCheckpointFile))
      assert(regularFiles(dir) > 0,
        s"reliable mode produced no checkpoint files under $dir")
      assert(answer(merged) == local)
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("a cold dedup_clusters build starts at most 13 jobs") {
    // the chunk star graph is far below the driver union-find gate, so
    // a cold build (edge build, forest checkpoint, count, collect, memo
    // checkpoint) plus the action is a fixed set of jobs: 13 at sf0.001.
    // A per-round distributed fixpoint on this graph started 26.
    operators.Memo.invalidate(spark)
    val jobs = jobsStartedBy(operators.GraphOps.dedupClusters(spark, sf).collect())
    assert(jobs <= 13, s"cold dedup_clusters started $jobs jobs")
  }
}
