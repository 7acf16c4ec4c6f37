package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scale-shape evidence: the production-table layout (status
  * partitioning → partition pruning), skew-safe aggregation
  * equivalence, and sketch-vs-exact error bounds. */
class ScaleShapeSpec extends SparkSuite {

  test("status-partitioned table prunes partitions on status filters") {
    val dir = tempDir("graft_parts").toString
    Tables.tasks(spark, sf)
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pending = spark.read.parquet(dir).filter(col("status") === 0)
    val plan = pending.queryExecution.executedPlan.toString
    // partition pruning, not a data filter: status must appear in
    // PartitionFilters and the count must match the derived table
    assert(plan.contains("PartitionFilters"), plan)
    val expected = Tables.tasks(spark, sf).filter(col("status") === 0).count()
    assert(pending.count() == expected)
    // only the status=0 directory is listed
    assert(new java.io.File(dir).listFiles().map(_.getName).count(_.startsWith("status=")) == 5)
  }

  test("salted worker load equals the direct aggregation") {
    val direct = graft.operators.WorkerOps.workerLoad(spark, sf).collect().toSeq
    val salted = graft.operators.WorkerOps.workerLoadSalted(spark, sf).collect().toSeq
    assert(direct.map(r => (r.getString(0), r.getLong(1))) ==
      salted.map(r => (r.getString(0), r.getLong(1))))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // the 100 TB shuffle-join reducer: when a dim side carries a
    // selective predicate, Catalyst's InjectRuntimeFilter builds a
    // bloom over the dim's join keys (a scalar subquery aggregate) and
    // pushes might_contain(key) into the FACT side's scan — rows that
    // cannot join are dropped before the shuffle, so the exchanged
    // volume scales with the dim's selectivity, not the fact's size.
    // The fixture is far below the production thresholds, so the
    // thresholds are lowered to force the same plan shape here.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, sf)
        .filter(col("o_totalprice") > lit(500000.0)) // selective dim slice
        .select(col("o_orderkey"), col("o_totalprice"))
      val l = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"expected a runtime bloom filter on the probe scan:\n$plan")
      // and the filtered plan computes the same answer
      val expected = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_totalprice") > lit(500000.0)),
          col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")), count(lit(1))).head()
      assert(j.head() == expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val exact = graft.operators.EventOps.eventUserStats(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.operators.EventOps.eventUserStatsApprox(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: exact=$ex approx=$ap")
    }
  }
}
