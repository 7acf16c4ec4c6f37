package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Memo

/** `curation_batch`: a fixed nightly curation pipeline over a generated
  * corpus, every step a `SparkEntry.queries` entry. Each timed pass
  * starts `Memo`-cold, as a nightly job on new data does; one untimed
  * warm-up pass on a differently-seeded corpus runs first.
  *
  * A step's action computes its row count and an order-independent hash
  * of all its rows, which forces every output column; the hash must be
  * identical on every pass. `dedup_exact` must find every exact
  * duplicate group in the generated corpus. */
object Curation {
  /** The pipeline: exact dedup (TextOps), the four banded or tiled pair
    * joins (SimilarityOps, TextOps), fuzzy-dedup components (GraphOps)
    * and BM25 retrieval (RetrievalOps). The 14-step pipeline this
    * benchmark was first specified with (adding gopher_quality,
    * bigram_surprisal, semantic_dedup_canonical, dedup_all_verdict,
    * doc_pack_bpe, ann_ivf_q8_topk and pipeline_curate) takes 15-17 s a
    * pass on 4 cores: too long to repeat in every one of the runs a
    * benchmark round makes. */
  val Steps: Seq[String] = Seq(
    "dedup_exact", "minhash_dedup", "simhash_dedup", "ngram_jaccard",
    "fuzzy_dedup_canonical", "embedding_dedup", "bm25_search")
  /** Steps whose pair joins are read for the candidate-waste ratio. */
  val PairSteps: Set[String] = Set("minhash_dedup", "simhash_dedup",
    "ngram_jaccard", "embedding_dedup")

  val Docs = 8000
  val Vecs = 3000
  val WarmupDocs = 2000
  val WarmupVecs = 800

  /** One step of one pass. */
  final case class StepRun(step: String, pass: Int, constructS: Double, planS: Double,
      execS: Double, rows: Long, hash: String, joinRows: Long, storageMb: Double) {
    def totalS: Double = constructS + planS + execS
  }

  /** One timed pass: whether it was traced, its wall time, its steps. */
  final case class Pass(traced: Boolean, seconds: Double, steps: Seq[StepRun])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tally = new Tally
    val corpus = new Inputs.Corpus(Docs, Vecs, ctx.seed)
    val setupS = (1 to ctx.setupReps).map { r =>
      val t0 = System.nanoTime()
      corpus.write(spark, ctx.sub(s"corpus-$r"))
      (System.nanoTime() - t0) / 1e9
    }
    val dir = ctx.sub(s"corpus-${ctx.setupReps}")

    val w0 = System.nanoTime()
    val warmDir = ctx.sub("corpus-warmup")
    new Inputs.Corpus(WarmupDocs, WarmupVecs, ctx.seed + 7919).write(spark, warmDir)
    pass(ctx, warmDir, 0, None, new Tally)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // Passes until the window is spent, at least two. A traced run
    // orders untraced (U) and traced (T) passes U T T U, so JIT warming
    // over the run does not read as tracing overhead.
    val ledger = new Ledger
    val spans = new Spans(ctx.trace)
    val minPasses = if (ctx.trace) 4 else 2
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses || elapsed + passes.map(_.seconds).min <= ctx.seconds) {
      val traced = ctx.trace && Set(1, 2)(passes.size % 4)
      if (traced) sc.addSparkListener(ledger)
      val p0 = System.nanoTime()
      val steps = try pass(ctx, dir, passes.size + 1, if (traced) Some(spans) else None, tally)
        finally if (traced) { Ledger.drain(sc); sc.removeSparkListener(ledger) }
      passes += Pass(traced, (System.nanoTime() - p0) / 1e9, steps)
    }
    val (tracedPasses, plain) = passes.toSeq.partition(_.traced)

    // every pass must give each step the hash of the first pass
    val all = passes.toSeq.flatMap(_.steps)
    val firstHash = all.groupBy(_.step).map { case (s, rs) => s -> rs.minBy(_.pass).hash }
    all.foreach(r => tally.check(r.hash == firstHash(r.step),
      s"${r.step} pass ${r.pass}: hash ${r.hash} != ${firstHash(r.step)}"))
    checkExactDuplicates(ctx, dir, corpus, tally)

    val passS = plain.map(_.seconds)
    val curationS = Stats.median(passS)
    val docsPerS = Docs / curationS
    val named = Seq(
      Metric("curation_s", curationS, "s"),
      Metric("curation_passes", passS.size, "count"),
      Metric("curation_first_pass_s", passes.head.seconds, "s"),
      Metric("curation_docs_per_s", docsPerS, "1/s"),
      Metric("warmup_s", warmupS, "s")) ++
      (if (ctx.trace) layers(ctx, tracedPasses, ledger, spans, curationS) else Nil)
    val (att, failed) = tally.counts
    Outcome(
      gated = Seq(
        Metric("setup_s", Stats.median(setupS) + warmupS, "s"),
        Metric("throughput_per_s", docsPerS, "1/s"),
        Metric("p50_ms", curationS * 1000, "ms")),
      named = named,
      inputs = corpus.facts ++ Seq("warmup_documents" -> WarmupDocs,
        "warmup_embeddings" -> WarmupVecs, "steps" -> Steps),
      attempted = att, failed = failed, errors = tally.reasons)
  }

  /** One Memo-cold pass over every step. */
  private def pass(ctx: Ctx, dir: String, n: Int, traced: Option[Spans],
      tally: Tally): Seq[StepRun] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    Memo.invalidate(spark)
    val spans = traced.getOrElse(new Spans(false))
    val op = spans.newOp()
    val (runs, _) = spans.span(s"curation.pass", op) { root =>
      Steps.flatMap { step =>
        val tag = s"cur/$n/$step"
        try {
          val (r, _) = spans.span(step, op, root) { parent =>
            val (df, c) = spans.span("construct", op, parent) { _ =>
              Ledger.tagged(sc, s"$tag/construct")(SparkEntry.queries(step)(spark, dir))
            }
            val h = digest(df)
            val (_, p) = spans.span("plan", op, parent) { _ =>
              Ledger.tagged(sc, s"$tag/plan")(h.queryExecution.executedPlan)
            }
            val (row, x) = spans.span("execute", op, parent) { _ =>
              Ledger.tagged(sc, s"$tag/execute")(h.collect().head)
            }
            val joinRows = if (PairSteps(step)) PlanMetrics.joinOutputRows(h) else 0L
            val storageMb = if (traced.isEmpty) 0.0
              else sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
            StepRun(step, n, c.ms / 1000, p.ms / 1000, x.ms / 1000, row.getLong(0),
              String.valueOf(row.get(1)), joinRows, storageMb)
          }
          Some(r)
        } catch {
          case e: Exception =>
            tally.fail(s"$step pass $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
        }
      }
    }
    runs
  }

  /** Row count and an order-independent hash over every column. */
  private def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("rows"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("decimal(38,0)")).as("h"))

  /** Every exact-duplicate group of the generated corpus is one
    * `dedup_exact` row with the group's smallest id and size, and no
    * other row counts copies. */
  private def checkExactDuplicates(ctx: Ctx, dir: String, corpus: Inputs.Corpus,
      tally: Tally): Unit = {
    val found = SparkEntry.queries("dedup_exact")(ctx.spark, dir)
      .filter(col("dup_count") > 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    corpus.exactGroups.foreach { case (id, n) =>
      tally.check(found.get(id).contains(n),
        s"dedup_exact: group $id of $n found as ${found.get(id)}")
    }
    tally.check(found.size == corpus.exactGroups.size,
      s"dedup_exact: ${found.size} duplicate groups, corpus has ${corpus.exactGroups.size}")
  }

  /** Per-layer metrics of the traced passes. */
  private def layers(ctx: Ctx, passes: Seq[Pass], ledger: Ledger, spans: Spans,
      untracedS: Double): Seq[Metric] = {
    val tags = ledger.tags
    val steps = passes.flatMap(_.steps)
    val nPass = passes.size.toDouble
    val secs = passes.map(_.seconds).sum
    def workOf(step: Option[String], phase: Option[String]): Work =
      Work.sum(tags.collect {
        case (t, w) if t.startsWith("cur/") &&
          step.forall(s => t.split('/')(2) == s) &&
          phase.forall(p => t.endsWith("/" + p)) => w
      })
    val all = workOf(None, None)
    val construct = workOf(None, Some("construct"))
    val perPass = (f: StepRun => Double) => steps.map(f).sum / nPass
    val tracedS = Stats.median(passes.map(_.seconds))
    val coreUtil = all.runMs / 1000.0 / (secs * ctx.cores)
    val storage = steps.map(_.storageMb).maxOption.getOrElse(0.0)
    TaskApi.writeTrace(ctx, spans, ledger)
    val generic = Seq(
      Metric("construct_ms", perPass(_.constructS) * 1000, "ms"),
      Metric("construct_jobs", construct.jobs / nPass, "count"),
      Metric("plan_ms", perPass(_.planS) * 1000, "ms"),
      Metric("exec_ms", perPass(_.execS) * 1000, "ms"),
      Metric("jobs_per_op", all.jobs / nPass, "count"),
      Metric("stages_per_op", all.stages / nPass, "count"),
      Metric("tasks_per_op", all.tasks / nPass, "count"),
      Metric("task_run_ms_per_op", all.runMs / nPass, "ms"),
      Metric("task_cpu_ms_per_op", all.cpuNs / 1e6 / nPass, "ms"),
      Metric("gc_ms_per_op", all.gcMs / nPass, "ms"),
      Metric("input_mb_per_op", all.inputBytes / 1e6 / nPass, "MB"),
      Metric("shuffle_write_mb_per_op", all.shuffleWrite / 1e6 / nPass, "MB"),
      Metric("shuffle_read_mb_per_op", all.shuffleRead / 1e6 / nPass, "MB"),
      Metric("spill_mb_per_op", all.spillBytes / 1e6 / nPass, "MB"),
      Metric("sched_delay_p99_ms", Stats.pct(all.schedDelayMs.toSeq, 0.99), "ms"),
      Metric("core_util", coreUtil, "ratio"),
      Metric("trace_overhead_pct", 100 * (tracedS - untracedS) / untracedS, "%"))
    val detailed = Seq(
      Metric("curation.construct_s", perPass(_.constructS), "s"),
      Metric("curation.construct_jobs", construct.jobs / nPass, "count"),
      Metric("curation.plan_s", perPass(_.planS), "s"),
      Metric("curation.exec_s", perPass(_.execS), "s"),
      Metric("curation.jobs", all.jobs / nPass, "count"),
      Metric("curation.stages", all.stages / nPass, "count"),
      Metric("curation.tasks", all.tasks / nPass, "count"),
      Metric("curation.task_run_s", all.runMs / 1000.0 / nPass, "s"),
      Metric("curation.task_cpu_s", all.cpuNs / 1e9 / nPass, "s"),
      Metric("curation.gc_s", all.gcMs / 1000.0 / nPass, "s"),
      Metric("curation.core_util", coreUtil, "ratio"),
      Metric("curation.input_mb", all.inputBytes / 1e6 / nPass, "MB"),
      Metric("curation.shuffle_write_mb", all.shuffleWrite / 1e6 / nPass, "MB"),
      Metric("curation.shuffle_read_mb", all.shuffleRead / 1e6 / nPass, "MB"),
      Metric("curation.spill_mb", all.spillBytes / 1e6 / nPass, "MB"),
      Metric("curation.memo_cached_mb", storage, "MB"),
      Metric("curation.traced_s", tracedS, "s")) ++
      Steps.flatMap { s =>
        val rs = steps.filter(_.step == s)
        val w = workOf(Some(s), None)
        Seq(Metric(s"curation.$s.s", Stats.median(rs.map(_.totalS)), "s"),
          Metric(s"curation.$s.jobs", w.jobs / nPass, "count"),
          Metric(s"curation.$s.shuffle_write_mb", w.shuffleWrite / 1e6 / nPass, "MB"),
          Metric(s"curation.$s.rows", rs.head.rows.toDouble, "count")) ++
          (if (PairSteps(s)) Seq(Metric(s"curation.$s.join_rows_per_result",
            rs.head.joinRows.toDouble / math.max(rs.head.rows, 1L), "ratio"))
          else Nil)
      }
    generic ++ detailed
  }
}
