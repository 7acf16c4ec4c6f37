package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.Exprs
import graft.sources.Tables

/** Typed-Aggregator UDAF surface, cube grouping, the spark.sql SQL
  * surface, the dispatcher's load-balancing strategies as batch
  * queries, and the native-Expression cosine variant.
  */
object AggOps {

  case class DocTok(source: String, n_tokens: Int)
  case class TokBuf(var n: Long, var tokens: Long)

  /** Typed UDAF (Aggregator[IN,BUF,OUT]): per-group doc count + token
    * sum in one pass — the engine-grade replacement for the reference's
    * CAS counter accumulation (SURVEY.md §2.10). */
  object TokenStatsAgg extends Aggregator[DocTok, TokBuf, (Long, Long)] {
    import org.apache.spark.sql.{Encoder, Encoders}
    override def zero: TokBuf = TokBuf(0L, 0L)
    override def reduce(b: TokBuf, d: DocTok): TokBuf = { b.n += 1; b.tokens += d.n_tokens; b }
    override def merge(x: TokBuf, y: TokBuf): TokBuf = { x.n += y.n; x.tokens += y.tokens; x }
    override def finish(b: TokBuf): (Long, Long) = (b.n, b.tokens)
    override def bufferEncoder: Encoder[TokBuf] = Encoders.product[TokBuf]
    override def outputEncoder: Encoder[(Long, Long)] = Encoders.product[(Long, Long)]
  }

  /** Per-source token stats via the typed Aggregator (oracle: plain
    * SUM/COUNT — the Aggregator must agree with SQL semantics). */
  def sourceTokenStats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("source"), Exprs.tokenCount(col("text")).as("n_tokens"))
      .as[DocTok]
      .groupByKey(_.source)
      .agg(TokenStatsAgg.toColumn.name("stats"))
      .select(col("key").as("source"),
        col("stats._1").as("n_docs"),
        col("stats._2").as("sum_tokens"))
      .withColumn("avg_tokens_milli",
        round(lit(1000.0) * col("sum_tokens") / col("n_docs")).cast("long"))
      .orderBy("source")
  }

  /** CUBE over (status, task_type) — full grouping-set surface
    * (SURVEY.md §2.4: absent from the reference, declared here). */
  def statsCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.tasks(spark, sfDir)
      .cube("status", "task_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(asc_nulls_first("status"), asc_nulls_first("task_type"))

  /** The SQL surface (E3 generalized): register derived views, run
    * spark.sql — same text shape as the DuckDB oracle. */
  def sqlTaskStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.tasks(spark, sfDir).createOrReplaceTempView("graft_tasks")
    spark.sql(
      """SELECT status, COUNT(*) AS cnt, MIN(priority) AS min_prio,
        |       MAX(priority) AS max_prio
        |FROM graft_tasks GROUP BY status ORDER BY status""".stripMargin)
  }

  /** Explicit GROUPING SETS surface (beyond rollup/cube): per-status,
    * per-type, and grand-total tallies in ONE pass, with grouping()
    * flags disambiguating the null dimension values. Spark expands
    * grouping sets into a single Expand + hash aggregation — one scan,
    * one shuffle, regardless of how many sets are listed. */
  def statsGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.tasks(spark, sfDir).createOrReplaceTempView("graft_tasks")
    spark.sql(
      """SELECT status, task_type,
        |       CAST(grouping(status) AS INT) AS g_status,
        |       CAST(grouping(task_type) AS INT) AS g_type,
        |       COUNT(*) AS cnt, CAST(SUM(priority) AS BIGINT) AS sum_prio
        |FROM graft_tasks
        |GROUP BY GROUPING SETS ((status), (task_type), ())
        |ORDER BY g_status, g_type, status ASC NULLS FIRST,
        |         task_type ASC NULLS FIRST""".stripMargin)
  }

  /** Dense 1-based index + total count over the bounded workers dim,
    * computed with a tiny self-join aggregation instead of an
    * unpartitioned window — the bench log must stay free of
    * "No Partition Defined for Window" WindowExec warnings. |workers|²
    * rows (dim × dim) is trivially small at any SF. */
  private def workerIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val wb = Tables.workers(spark, sfDir).select("worker_id")
    // ONE dim×dim join + ONE aggregate produce both the dense rank
    // (conditional count) and the total (plain count) — no second
    // scan/agg/crossJoin for `nw`, two fewer jobs per assignment query
    wb.alias("x").join(broadcast(wb.alias("y")))
      .groupBy(col("x.worker_id").as("worker_id"))
      .agg(
        count(when(col("y.worker_id") <= col("x.worker_id"), 1))
          .cast("int").as("wrn"),
        count(lit(1)).cast("int").as("nw"))
  }

  /** Attach each row's worker by modular target rank with ONE broadcast
    * hash join (round-17, guide §3.1 — pick the join strategy
    * deliberately): the former single join's condition
    * `pmod(expr, nw) + 1 = wrn` referenced BOTH sides (`nw` lives on
    * the worker row), so Catalyst could not extract an equi-key and
    * planned a NESTED LOOP that evaluated the predicate
    * |rows| × |workers| times — W× work amplification that grows with
    * the worker fleet (plan evidence: plans/r17/round_robin_assign
    * _before.txt node (14) vs _after.txt). Round-18: the worker COUNT
    * is a memoized driver-side dim count ([[Tables.cachedCount]] — the
    * `assignedTasks` modulo convention, |workers| = |supplier| row for
    * row), baked in as a LITERAL: the former per-invocation 1-row
    * count-attach subtree (dim×dim BNLJ + two aggregations + two
    * exchanges + broadcast) disappears from every assignment plan.
    * Same rows out: `wrn` is the dense 1-based rank, so exactly one
    * worker matches each target value. */
  private def joinWorkerByRank(spark: SparkSession, sfDir: String,
      rows: DataFrame)(target: Column => Column): DataFrame = {
    val w = workerIndex(spark, sfDir)
    val nw = Tables.cachedCount(spark, sfDir, "supplier")
    rows
      .withColumn("wrn_t", target(lit(nw)))
      .join(broadcast(w.select("worker_id", "wrn")),
        col("wrn_t") === col("wrn"))
  }

  /** Round-robin dispatch strategy as a batch query
    * (tasks/dispatcher.go:636-644): pending task i → worker (i-1) mod n.
    * The reference's cursor skips index 0 on first call — a bug we do
    * not replicate (SURVEY.md §7.5).
    *
    * The global arrival rank is computed WITHOUT an unpartitioned
    * window (which funnels every pending task through one reducer):
    * range-repartition + in-partition sort put the rows in global
    * (create_time, id) order across partitions, so a partition-major
    * index IS the global rank. Round-18 (guide §2.2, verdict item 7):
    * the rank comes from the [[priorityBalancedAssign]] partition-
    * offset idiom instead of `rdd.zipWithIndex` — the zipWithIndex
    * count job re-ran the whole scan+sort per invocation (its parent
    * RDD is uncached) and the rdd round-trip boxed every row twice.
    * Here `monotonically_increasing_id` over the CHECKPOINTED sorted
    * frame supplies (partition, in-partition index) columnar-ly
    * (mid = p·2³³ + k by its contract; partitions stay far below 2³³
    * rows — explicitParts sizes them), the per-partition subtotal
    * frame (≤ parts rows) cumsums into offsets, and rank = base + k +
    * 1. The localCheckpoint pins ONE sampled range partitioning for
    * the two consumers (rows + subtotals), docPack's reasoning. */
  def roundRobinAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val pend = Tables.tasks(spark, sfDir)
      .filter(col("status") === Tables.Pending)
      .select(col("id"), col("priority"), col("create_time"))
      // deterministic: (create_time, id) keys are unique and range
      // partitioning is order-preserving (partition p's keys strictly
      // before p+1's), so the global order — and hence the rank — is
      // the same whatever bounds the RangePartitioner happens to sample
      .repartitionByRange(Tables.explicitParts(spark), asc("create_time"), asc("id"))
      .sortWithinPartitions(asc("create_time"), asc("id"))
      .localCheckpoint()
    val local = pend
      .select(col("id"), col("priority"),
        monotonically_increasing_id().as("mid"))
      .withColumn("p", shiftright(col("mid"), 33))
      .withColumn("local_rn", col("mid").bitwiseAND(lit((1L << 33) - 1)))
    val subs = local.groupBy("p").agg(count(lit(1)).as("sub"))
    // exclusive cumsum over ≤ explicitParts subtotal rows via the
    // [[workerIndex]] dim×dim idiom — parts² rows, no unpartitioned
    // window (a constant partitionBy key gets folded away and the
    // WindowExec warning returns)
    val offsets = subs.alias("x")
      .join(broadcast(subs.alias("y")), col("y.p") < col("x.p"), "left")
      .groupBy(col("x.p").as("p"))
      .agg(coalesce(sum(col("y.sub")), lit(0L)).as("base"))
    val ranked = local.join(broadcast(offsets), Seq("p"))
      .withColumn("rn", col("base") + col("local_rn") + 1)
    joinWorkerByRank(spark, sfDir, ranked)(nw => pmod(col("rn") - 1, nw) + 1)
      .select("id", "priority", "worker_id")
      .orderBy("id")
  }

  /** The reference's TODO #3 (`readme.txt:20`, 按照优先级均等分配任务 —
    * "distribute tasks equally by priority") given a literal analog,
    * like [[randomAssign]] closed the dispatcher's random strategy:
    * round-robin WITHIN each priority class, so every worker receives
    * an equal share (±1) of EVERY class — plain global round-robin
    * balances totals but can hand one worker all the urgent work.
    *
    * Scale: the per-class rank is NOT a `Window.partitionBy(priority)`
    * — 10 classes would mean 10 single-reducer sorts of corpus/10 rows
    * each. It reuses [[graft.operators.TextOps.docPack]]'s distributed
    * prefix machinery verbatim with priority in place of source:
    * range-repartition by (priority, key) → partition-local per-class
    * counters (one sequential scan) → exclusive cumsum over the
    * (partition, priority) SUBTOTAL frame (32×10 rows, trivially
    * windowed) → local rank + base. localCheckpoint pins ONE sampled
    * range partitioning for the two consumers of the local frame, same
    * reasoning as docPack's note. */
  def priorityBalancedAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val pend = Tables.tasks(spark, sfDir)
      .filter(col("status") === Tables.Pending)
      .select(col("id"), col("priority"), col("o_orderkey"))
      .repartitionByRange(Tables.explicitParts(spark), asc("priority"), asc("o_orderkey"))
      .sortWithinPartitions(asc("priority"), asc("o_orderkey"))
      .localCheckpoint()
      .as[(String, Int, Long)]
    val local = pend.rdd.mapPartitionsWithIndex { (p, it) =>
      val pos = scala.collection.mutable.Map[Int, Long]()
      it.map { case (id, pr, _) =>
        val k = pos.getOrElse(pr, 0L)
        pos(pr) = k + 1
        (p, id, pr, k)
      }
    }.toDF("p", "id", "priority", "local_rn")
    val subs = local.groupBy("p", "priority").agg(count(lit(1)).as("sub"))
    val offsets = subs
      .withColumn("base", sum("sub").over(
        Window.partitionBy("priority").orderBy("p")) - col("sub"))
      .select("p", "priority", "base")
    val ranked = local.join(offsets, Seq("p", "priority"))
      .withColumn("rn", col("local_rn") + col("base") + 1)
    joinWorkerByRank(spark, sfDir, ranked)(nw => pmod(col("rn") - 1, nw) + 1)
      .select("id", "priority", "worker_id")
      .orderBy("id")
  }

  /** "Random" dispatch strategy (tasks/dispatcher.go:646-655) made
    * deterministic for the oracle: Knuth multiplicative hash of the
    * order key picks the worker. Embarrassingly parallel — no window,
    * no global rank needed. */
  def hashAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.tasks(spark, sfDir)
      .filter(col("status") === Tables.Pending)
      .select(col("id"), col("o_orderkey"))
    joinWorkerByRank(spark, sfDir, t)(nw =>
        pmod(col("o_orderkey") * 2654435761L, nw) + 1)
      .select("id", "worker_id")
      .orderBy("id")
  }

  /** The reference's true RANDOM dispatch strategy
    * (tasks/dispatcher.go:646-655 picks a worker via the global `rand`)
    * with a SEEDED integer PRNG in place of Go's non-reproducible
    * source: two mixing rounds — a Knuth multiplicative congruential
    * step mod 2³² folding in the seed, then a Lehmer (MINSTD, 48271
    * mod 2³¹−1) step — of the order key. Changing the seed literal
    * reshuffles the whole assignment (the "random" contract); fixing
    * it makes the draw replayable, which is what a production dispatch
    * audit needs anyway and what lets DuckDB recompute it exactly
    * (every operand stays ≤ 2.1e14, inside exact int64; nonnegative
    * operands make Spark's pmod and DuckDB's % agree). Exact-int64
    * bound: the first product needs o_orderkey < 2⁶³/2654435761 ≈
    * 3.4e9 — beyond TPC-H sf~500, pre-fold the key (pmod 2³²) before
    * the multiply; same chain, one extra pmod. Embarrassingly
    * parallel: no window, no global rank — same shape as
    * [[hashAssign]], different (seeded) mixing.
    *
    * Modulus caveat (measured, see [[LayoutOps.shardPlan]]): this
    * 2-round multiplicative chain has a LOW-BIT lattice — over
    * sequential keys, `% 32` left every residue ≡ 0 (mod 4) empty.
    * It is safe here because worker counts are not powers of two and
    * o_orderkey is sparse (fixture check: all 100 workers hit, spread
    * within ±2σ of binomial), but any power-of-two modulus use must
    * take shardPlan's xor-shift-folded chain instead. */
  def randomAssign(spark: SparkSession, sfDir: String): DataFrame = {
    val seed = 20260813L
    val t = Tables.tasks(spark, sfDir)
      .filter(col("status") === Tables.Pending)
      .select(col("id"), col("o_orderkey"))
    val h1 = pmod(col("o_orderkey") * lit(2654435761L) + lit(seed),
      lit(4294967296L))
    val h2 = pmod(h1 * lit(48271L), lit(2147483647L))
    joinWorkerByRank(spark, sfDir, t)(nw => pmod(h2, nw) + 1)
      .select("id", "worker_id")
      .orderBy("id")
  }

  /** cosineTopk re-expressed on the native fused-loop Expression
    * (graft.functions.CosineSimilarity) — identical results (same fold
    * order), one array traversal instead of three, whole-stage codegen.
    * Shares cosine_topk's oracle. */
  def cosineTopkNative(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftExtensions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = e.filter(SimilarityOps.annQueryPred(spark, sfDir))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cos"), asc("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", call_function("cosine_sim", col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"), col("rank").cast("int").as("rank"),
        round(col("cos") * 10000).cast("long").as("cos_e4"))
      .orderBy("query_id", "rank")
  }

  /** Data profiling — the schema-health pass every ingest pipeline
    * runs first: per-column row/null/distinct counts and value ranges
    * (exact integer cents / epoch days for cross-engine compare), in
    * long form. ONE scan: all per-column aggregates are columns of a
    * single hash aggregation, unpivoted with a 4-element explode —
    * never one scan per column. At 100 TB the exact distincts swap
    * for approx_count_distinct — [[profileOrdersApprox]] IS that form. */
  def profileOrders(spark: SparkSession, sfDir: String): DataFrame =
    profileOrdersBy(spark, sfDir, c => count_distinct(c))

  /** The 100 TB profiling form promised by [[profileOrders]]'s design
    * note (SURVEY §8 ledger): identical single-scan shape with every
    * exact distinct swapped for approx_count_distinct — HyperLogLog++
    * sketches are one-pass, fixed-size (~ KBs per column at any
    * cardinality) and MERGEABLE across partitions, so the profiling
    * aggregation's shuffle payload stays constant where exact
    * count_distinct's per-group expand grows with the distinct count.
    * Rows-only by design (HLL++'s estimate has no DuckDB equivalent);
    * TwinAgreementSpec bounds every estimate within the published
    * relative-error envelope of the hash-checked exact twin — the
    * events_value_pct_approx precedent. */
  def profileOrdersApprox(spark: SparkSession, sfDir: String): DataFrame =
    profileOrdersBy(spark, sfDir, c => approx_count_distinct(c))

  private def profileOrdersBy(spark: SparkSession, sfDir: String,
      dist: Column => Column): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val eday = datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
    def stat(stage: Int, name: String, nulls: Column, dist: Column,
        mn: Column, mx: Column) =
      struct(lit(stage).as("ord"), lit(name).as("col_name"),
        col("n_rows").as("n_rows"), nulls.as("n_nulls"),
        dist.as("n_distinct"), mn.as("min_v"), mx.as("max_v"))
    Tables.orders(spark, sfDir)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("nul_ok"),
        dist(col("o_orderkey")).as("dis_ok"),
        min("o_orderkey").as("min_ok"), max("o_orderkey").as("max_ok"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("nul_ck"),
        dist(col("o_custkey")).as("dis_ck"),
        min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
        sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("nul_tp"),
        dist(cents).as("dis_tp"),
        min(cents).as("min_tp"), max(cents).as("max_tp"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("nul_od"),
        dist(eday).as("dis_od"),
        min(eday).as("min_od"), max(eday).as("max_od"))
      .select(explode(array(
        stat(0, "o_orderkey", col("nul_ok"), col("dis_ok"), col("min_ok"), col("max_ok")),
        stat(1, "o_custkey", col("nul_ck"), col("dis_ck"), col("min_ck"), col("max_ck")),
        stat(2, "o_totalprice_cents", col("nul_tp"), col("dis_tp"), col("min_tp"), col("max_tp")),
        stat(3, "o_orderdate_eday", col("nul_od"), col("dis_od"), col("min_od"), col("max_od"))))
        .as("s"))
      .select(col("s.ord"), col("s.col_name"), col("s.n_rows"),
        col("s.n_nulls"), col("s.n_distinct"), col("s.min_v"), col("s.max_v"))
      .orderBy("ord")
  }
}
