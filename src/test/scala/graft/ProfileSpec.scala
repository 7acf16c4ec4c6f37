package graft

import graft.obs.Ledger
import graft.operators.{Memo, SimilarityOps}

/** The work ledger behind `graft.Profile`: its job counts agree with
  * the independent tag-keyed counter of [[SparkSuite.jobsStartedBy]],
  * its deterministic counters repeat, eager construction jobs land in
  * the build half, and `--skew` reports the statistic the fanout rules
  * are sized from. */
class ProfileSpec extends SparkSuite {
  private def query(q: String) = SparkEntry.queries(q)(spark, sf)

  test("the action ledger counts the jobs jobsStartedBy counts") {
    for (q <- Seq("task_stats", "ngram_jaccard")) {
      query(q).count() // warm
      val measured = query(q)
      val (_, action) = Ledger.measure(spark.sparkContext)(measured.count())
      val counted = query(q)
      assert(action.jobs == jobsStartedBy(counted.count()), q)
      assert(action.jobs > 0 && action.stages > 0 && action.tasks > 0, q)
    }
  }

  test("two ledgered runs of a warm query do the same work") {
    query("ngram_jaccard").count() // warm
    val Seq(a, b) = Seq.fill(2)(Profile.profile(spark, sf, "ngram_jaccard").get)
    assert(a.rows == b.rows)
    for ((x, y) <- Seq(a.build -> b.build, a.action -> b.action)) {
      assert((x.jobs, x.stages, x.tasks) == (y.jobs, y.stages, y.tasks))
      assert((x.shuffleReadBytes, x.shuffleWriteBytes) ==
        (y.shuffleReadBytes, y.shuffleWriteBytes))
    }
    assert(a.action.shuffleWriteBytes > 0, "ngram_jaccard shuffles")
    assert(a.nodes.nonEmpty && a.nodes.exists(_.contains("\"rows\":")))
  }

  test("a cold memoized build shows its eager jobs under build, not action") {
    Memo.invalidate(spark)
    val cold = Profile.profile(spark, sf, "dedup_clusters").get
    val warm = Profile.profile(spark, sf, "dedup_clusters").get
    assert(cold.build.jobs > 0, "the component fixpoint runs at construction")
    assert(warm.build.jobs == 0)
    assert(cold.action.jobs == warm.action.jobs)
    assert(cold.rows == warm.rows)
  }

  test("--skew reports the statistic the fanout rules read") {
    val rows = Profile.skew(spark, sf)
    assert(rows.map(_._1) == Seq("simhash", "simhash_wide", "semantic_wide",
      "minhash_poly", "embedding_label"))
    val (_, buckets, maxC, sumSq) = rows.head
    val moments = SimilarityOps.bucketMoments(spark,
      s"profileSpec:${java.util.UUID.randomUUID()}",
      SimilarityOps.simhashBandedFrame(spark, sf), "source", "band", "chunk")
    assert(buckets > 0)
    assert((maxC.toDouble, sumSq.toDouble) == moments)
  }
}
