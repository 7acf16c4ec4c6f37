package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.{Failure, Try}

import graft.operators.Memo

/** The session-scoped artifact memo's concurrency contract: exactly-
  * once builds under contention, acyclic nesting across threads, and
  * the round-9 advice item — a CYCLIC nesting must fail fast with a
  * named error instead of deadlocking two threads forever (the old
  * lazy-val monitors could not be interrupted or detected). */
class MemoSpec extends SparkSuite {

  test("cached builds exactly once per (session, key) under contention") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val fs = (1 to 16).map(_ => Future {
      start.await()
      Memo.cached(spark, "memospec:once") { builds.incrementAndGet(); 42 }
    })
    start.countDown()
    val vs = Await.result(Future.sequence(fs), 60.seconds)
    assert(vs.forall(_ == 42))
    assert(builds.get() == 1, s"expected exactly one build, got ${builds.get()}")
  }

  test("acyclic cross-thread nesting shares the nested cell (diamond)") {
    // two threads build different parents that both nest the same
    // child — the hierarchical shape the engine's artifacts use
    // (pair frame ← cluster assignment ← index dir); the child builds
    // once and neither parent blocks the other
    val childBuilds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    def child(): Int =
      Memo.cached(spark, "memospec:child") { childBuilds.incrementAndGet(); 7 }
    val fa = Future { start.await(); Memo.cached(spark, "memospec:parentA")(child() + 1) }
    val fb = Future { start.await(); Memo.cached(spark, "memospec:parentB")(child() + 2) }
    start.countDown()
    assert(Await.result(fa, 60.seconds) == 8)
    assert(Await.result(fb, 60.seconds) == 9)
    assert(childBuilds.get() == 1)
  }

  test("cyclic nested builds fail fast with IllegalStateException, not a deadlock") {
    // thread 1 builds A and then requires B; thread 2 builds B and
    // then requires A — the latch guarantees both builds have claimed
    // their cells before either cross-request, so under the old
    // lazy-val scheme this test would HANG. The wait-graph must
    // reject the cycle on both arms instead.
    val bothStarted = new CountDownLatch(2)
    def sync(): Unit = {
      bothStarted.countDown()
      assert(bothStarted.await(30, TimeUnit.SECONDS), "peer build never started")
    }
    val fa = Future {
      Memo.cached(spark, "memospec:cycA") {
        sync(); Memo.cached(spark, "memospec:cycB")(-1) + 1
      }
    }
    val fb = Future {
      Memo.cached(spark, "memospec:cycB") {
        sync(); Memo.cached(spark, "memospec:cycA")(-1) + 2
      }
    }
    val ra = Try(Await.result(fa, 60.seconds))
    val rb = Try(Await.result(fb, 60.seconds))
    Seq("A" -> ra, "B" -> rb).foreach { case (tag, r) =>
      r match {
        case Failure(e: IllegalStateException) =>
          assert(e.getMessage.contains("cyclic") || e.getMessage.contains("re-entrant"),
            s"arm $tag: unexpected message ${e.getMessage}")
        case other => fail(s"arm $tag must fail fast on the cycle, got $other")
      }
    }
  }

  test("a failed build releases the cell so a later caller can rebuild") {
    val attempts = new AtomicInteger(0)
    def build(): Int = Memo.cached(spark, "memospec:retry") {
      if (attempts.incrementAndGet() == 1) sys.error("transient build failure")
      99
    }
    assert(Try(build()).isFailure)
    assert(build() == 99, "second attempt must win the released cell")
    assert(attempts.get() == 2)
  }

  test("batchPersist: re-persisting a plan twin must not evict the shared cache") {
    // round-12 regression: CacheManager dedupes persist() by plan, so
    // two ring entries for the SAME plan alias one cache entry — an
    // object-keyed ring evicted the older twin and silently dropped
    // the newer caller's cache mid-query (the incremental verdict
    // paths re-inlined to 5 corpus scans). The ring is keyed by
    // canonicalized plan: N re-persists of one plan occupy ONE slot.
    val s = spark
    import s.implicits._
    def frame(k: Int) = (1 to 10).map(i => (i.toLong, k)).toDF("id", "k")
    // fill the ring beyond its cap with twins of the SAME plan — the
    // last twin's cache must survive
    val twins = (1 to 6).map(_ => Memo.batchPersist(spark, frame(0)))
    assert(twins.last.count() == 10)
    assert(twins.last.queryExecution.executedPlan.toString
        .contains("InMemory"),
      "plan-twin re-persist evicted its own shared cache entry")
    // DISTINCT plans do rotate out: cap + 2 distinct frames later, the
    // oldest distinct plan is unpersisted (its storage level resets)
    val old = Memo.batchPersist(spark, frame(100))
    old.count()
    (101 to 106).foreach(k => Memo.batchPersist(spark, frame(k)).count())
    assert(old.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "ring must unpersist evicted distinct plans (bounded lifecycle)")
  }

  test("every store-mutating commit point re-arms that store's ANALYZE stats") {
    // round-16 (verdict item 8 + advice): seed the full family of
    // store-derived statistic memos for a store key, run each mutator,
    // assert the stats died.
    import graft.operators.SimilarityOps
    val statKeys = Seq("semanticWorkPerVec", "simhashWorkPerDoc",
      "polyBucketMoments", "simhashTileFanout", "simhashWideTileFanout",
      "semWideTileFanout", "embTileFanout", "vocabApprox",
      "bigramVocabApprox", "sumDfSq")
    def seed(store: String): Unit = statKeys.foreach(k =>
      Memo.cached(spark, s"$k:$store") { 42L })
    def alive(store: String): Seq[String] = statKeys.filter { k =>
      var built = false
      Memo.cached[Any](spark, s"$k:$store") { built = true; 0L }
      Memo.invalidateKey(spark, s"$k:$store") // leave clean either way
      !built
    }

    // 1. the PQ lifecycle: a rebuild at the same path
    val dir = tempDir("graft-memo-rearm").toString
    SimilarityOps.buildIvfPqIndex(spark, sf, dir)
    seed(dir)
    Memo.cached[Any](spark, s"pqCodebookAt:$dir") { 0L }
    SimilarityOps.buildIvfPqIndex(spark, sf, dir)
    assert(alive(dir).isEmpty,
      s"buildIvfPqIndex left stats alive: ${alive(dir)}")
    var cbRebuilt = false
    Memo.cached[Any](spark, s"pqCodebookAt:$dir") { cbRebuilt = true; 0L }
    assert(cbRebuilt, "REBUILD at the same path must re-arm the codebook memo")

    // 2. the cluster-index build path (the round-15 hook, now broader)
    seed(sf + "-rearm-probe")
    SimilarityOps.invalidateSaturationStats(spark, sf + "-rearm-probe")
    assert(alive(sf + "-rearm-probe").isEmpty,
      "invalidateSaturationStats must cover the full stat family")
  }

  test("batch ring re-arms at re-invocation: pass 2 recomputes (round-18)") {
    import org.apache.spark.sql.functions._
    // a computation whose evaluations are COUNTABLE: an accumulator
    // survives the task-closure serialization a plain counter does not
    val hits = spark.sparkContext.longAccumulator("memoSpecHits")
    val f = udf((s: String) => { hits.add(1); s.length })
    def frame() = sources.Tables.documents(spark, sf)
      .select(f(col("text")).as("n")).groupBy("n").count()
    // invocation 1: ringed, consumed
    val df1 = Memo.batchPersist(spark, frame())
    df1.count()
    val h1 = hits.value.longValue
    assert(h1 > 0, "invocation 1 should have computed the frame")
    // invocation 2 of the SAME plan: batchPersist must drop the prior
    // entry before persisting (verdict item 5 — otherwise CacheManager
    // aliases the new persist to pass 1's warm blocks and the bench's
    // min-of-passes measures a cache read, not the batch derivation)
    val df2 = Memo.batchPersist(spark, frame())
    df2.count()
    assert(hits.value.longValue > h1,
      "re-invocation must recompute the batch frame, not read pass 1's cache")
    Memo.invalidate(spark) // leave the session clean for other suites
  }

  test("Memo.invalidate re-arms Tables.cachedCount after an in-place rewrite") {
    // the per-session caches beside Memo (row counts, eval-set hashes,
    // IVF index dirs, trained BPE merges) are Memo entries, so the
    // documented staleness hook reaches them: ngramJaccard picks its
    // regime from this count
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-memo-count").toString
    val path = s"$dir/documents.parquet"
    val docs = sources.Tables.table(spark, sf, "documents")
    docs.write.parquet(path)
    val n0 = sources.Tables.cachedCount(spark, dir, "documents")
    assert(n0 == docs.count())
    val fewer = docs.filter(col("doc_id") % 2 === 0)
    fewer.write.mode("overwrite").parquet(path)
    Memo.invalidate(spark)
    val n1 = sources.Tables.cachedCount(spark, dir, "documents")
    assert(n1 == fewer.count() && n1 < n0,
      s"stale count after invalidate: $n1 (was $n0)")
  }
}
