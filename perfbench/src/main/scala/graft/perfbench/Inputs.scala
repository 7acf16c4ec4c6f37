package graft.perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input the program sees is made here,
  * in the fixture schema (FIXTURES.md §B), from the run's seed; the same
  * seed gives the same inputs. Each generator also keeps the facts the
  * output checks need, derived from the generated rows alone. */
object Inputs {

  // ---------------------------------------------------------------- task_api

  /** The `orders` / `supplier` fixture pair behind `TaskHive`, plus the
    * reference-entity view of each row (FIXTURES.md §C) for the checks.
    *
    * Shaped after the sf0.1 fixture, as measured there: 150 000 orders
    * with dense keys 0..149 999 in key order in one row group;
    * `o_orderstatus` about uniform over O / P / F (33.4 / 33.5 / 33.1 %),
    * each row drawn independently; `o_custkey` in 0..14 999;
    * `o_totalprice` uniform in 1 001.91..499 993.18; `o_orderdate`
    * whole days 1995-01-01..2001-08-01; `o_orderpriority` uniform over
    * its 5 values. 1 000 suppliers, keys 0..999, `Supplier#%09d` names,
    * nation 0..24, balance -976.02..9 988.03. With a task's worker being
    * supplier `key % 1000`, a worker holds 35 / 50 / 67 processing tasks
    * (min / median / max). [[facts]] records the same figures for the
    * generated rows. */
  final class TaskTables(val nOrders: Int, val nSup: Int, seed: Long) {
    private val rnd = new Random(seed)
    private val statuses = Array("O", "P", "F")
    private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")
    private val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    private val days = java.time.LocalDate.of(2001, 8, 1).toEpochDay - day0 + 1
    val orderStatus: Array[String] = Array.fill(nOrders)(statuses(rnd.nextInt(3)))
    val orderDay: Array[Long] = Array.fill(nOrders)(day0 + rnd.nextInt(days.toInt))
    private val custkey = Array.fill(nOrders)(rnd.nextInt(15000).toLong)
    private val price = Array.fill(nOrders)((100191 + rnd.nextInt(49899128)) / 100.0)
    private val prio = Array.fill(nOrders)(priorities(rnd.nextInt(5)))
    private val nation = Array.fill(nSup)(rnd.nextInt(25))
    private val acct = Array.fill(nSup)((rnd.nextInt(1086406) - 97602) / 100.0)

    def taskStatus(k: Int): Int = orderStatus(k) match {
      case "P" => 1
      case "O" => 0
      case _ => 2 + k % 3
    }
    def priority(k: Int): Int = 1 + k % 10
    def workerName(s: Int): String = f"Supplier#$s%09d"
    def workerOf(k: Int): Option[String] =
      if (taskStatus(k) == 1) Some(workerName(k % nSup)) else None
    def createTime(k: Int): String =
      java.time.LocalDate.ofEpochDay(orderDay(k)).toString + "T00:00:00.000Z"

    def write(spark: SparkSession, dir: String): Unit = {
      val orders = (0 until nOrders).map { k =>
        Row(k.toLong, custkey(k), orderStatus(k), price(k),
          new Timestamp(orderDay(k) * 86400000L), prio(k))
      }
      val oSchema = StructType(Seq(
        StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
      spark.createDataFrame(spark.sparkContext.parallelize(orders, 4), oSchema)
        .coalesce(1).write.parquet(s"$dir/orders.parquet")
      val sup = (0 until nSup).map { s =>
        Row(s.toLong, workerName(s), nation(s), acct(s))
      }
      val sSchema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType)))
      spark.createDataFrame(spark.sparkContext.parallelize(sup, 1), sSchema)
        .write.parquet(s"$dir/supplier.parquet")
    }

    /** Sizes and shares of the generated rows, next to the run's metrics. */
    def facts: Seq[(String, Any)] = {
      val perWorker = (0 until nOrders).filter(taskStatus(_) == 1)
        .groupBy(k => k % nSup).values.map(_.size.toDouble).toSeq
      Seq("tasks" -> nOrders, "workers" -> nSup, "task_keys" -> s"0..${nOrders - 1}") ++
        statuses.map(st => s"orderstatus_share.$st" ->
          orderStatus.count(_ == st).toDouble / nOrders) ++
        Seq("processing_tasks_per_worker.min" -> perWorker.min,
          "processing_tasks_per_worker.median" -> Stats.median(perWorker),
          "processing_tasks_per_worker.max" -> perWorker.max)
    }
  }

  /** One HTTP request of the `task_api` mix. `absent` marks the planted
    * 404s. */
  final case class Request(route: String, path: String, absent: Boolean)

  /** The route mix in one block of the stream: 60 % task by id, 15 %
    * task list by status, 10 % one worker's tasks, 10 % stats, 5 %
    * worker list. */
  private val MixBlock: Seq[String] = Seq.fill(12)("get_task") ++
    Seq.fill(3)("list_tasks") ++ Seq.fill(2)("worker_tasks") ++
    Seq.fill(2)("stats") :+ "list_workers"

  /** The seeded request stream: blocks of [[MixBlock]], each in a seeded
    * order, so that the ~50 requests a 10 s run makes carry the mix
    * whatever the seed (drawn per request, a route's share of 50
    * requests strays by several points: 4 % stats in place of 10 %).
    * Task ids are Zipf-skewed over a seeded permutation of the ids, ~5 %
    * of them absent. */
  def requests(t: TaskTables, n: Int, seed: Long): IndexedSeq[Request] = {
    val rnd = new Random(seed ^ 0x5eed)
    val perm = new Random(seed).shuffle(
      (0 until t.nOrders).toIndexedSeq)
    // Zipf(s = 1) over ranks 1..nOrders by inverse CDF
    val cdf = {
      val w = Array.tabulate(t.nOrders)(r => 1.0 / (r + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def zipfRank(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, t.nOrders - 1)
    }
    val statuses = Seq("", "pending", "processing", "completed", "failed", "delayed")
    IndexedSeq.fill(n / MixBlock.size)(rnd.shuffle(MixBlock)).flatten.map {
      case "get_task" =>
        if (rnd.nextDouble() < 0.05)
          Request("get_task", s"/api/tasks/${t.nOrders + rnd.nextInt(t.nOrders)}", absent = true)
        else Request("get_task", s"/api/tasks/${perm(zipfRank())}", absent = false)
      case "list_tasks" =>
        Request("list_tasks", s"/api/tasks?status=${statuses(rnd.nextInt(statuses.size))}&limit=100",
          absent = false)
      case "worker_tasks" =>
        Request("worker_tasks", s"/api/workers/${t.workerName(rnd.nextInt(t.nSup))}", absent = false)
      case "stats" => Request("stats", "/api/stats", absent = false)
      case _ => Request("list_workers", "/api/workers", absent = false)
    }
  }

  // ----------------------------------------------------------- curation_batch

  private val Vocab = Array("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
    "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "vector", "customer", "join", "the", "task",
    "worker", "queue", "lease", "shard", "index", "token", "model", "score",
    "page", "text", "corpus")
  private val Langs = Array("en", "en", "en", "en", "es", "zh", "de", "fr")

  /** Planted share of exact and of near duplicates, of documents and of
    * embeddings alike. */
  val ExactShare = 0.05
  val NearShare = 0.05

  /** A curation corpus in the fixture schema: `documents` with a planted
    * exact-duplicate share (verbatim copies of an earlier document) and
    * near-duplicate share (copies with ~4 % of words replaced), and
    * `embeddings` (64-dim unit vectors in 10 labels) with the same two
    * shares planted as identical and slightly perturbed copies. */
  final class Corpus(val nDocs: Int, val nVecs: Int, seed: Long) {
    private val rnd = new Random(seed)
    val texts = new Array[String](nDocs)
    private val nearIds = mutable.ArrayBuffer.empty[Int]
    (0 until nDocs).foreach { i =>
      val u = rnd.nextDouble()
      if (i > 10 && u < ExactShare) {
        texts(i) = texts(rnd.nextInt(i))
      } else if (i > 10 && u < ExactShare + NearShare) {
        val words = texts(rnd.nextInt(i)).split(' ')
        val edited = words.map(w => if (rnd.nextDouble() < 0.04) Vocab(rnd.nextInt(Vocab.length)) else w)
        texts(i) = (edited :+ Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
        nearIds += i
      } else {
        val n = 10 + rnd.nextInt(80)
        texts(i) = Array.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      }
    }
    /** Smallest doc id → size, for every text held by more than one
      * document: the planted copies, and any near copy whose edits came
      * out identical to another document (two unedited copies of one
      * source with the same appended word do). */
    val exactGroups: Map[Long, Int] = texts.indices.groupBy(texts(_)).values
      .collect { case ids if ids.size > 1 => ids.min.toLong -> ids.size }.toMap
    private val nearDocs = {
      val copied = exactGroups.keySet.map(id => texts(id.toInt))
      nearIds.count(i => !copied(texts(i)))
    }
    private val lang = Array.fill(nDocs)(Langs(rnd.nextInt(Langs.length)))
    private val source = Array.tabulate(nDocs)(i => s"src${i % 20}")

    val labels = new Array[Int](nVecs)
    val vecs = new Array[Array[Float]](nVecs)
    var exactVecs = 0
    var nearVecs = 0
    (0 until nVecs).foreach { i =>
      val u = rnd.nextDouble()
      if (i > 10 && u < ExactShare) {
        val src = rnd.nextInt(i)
        vecs(i) = vecs(src); labels(i) = labels(src); exactVecs += 1
      } else if (i > 10 && u < ExactShare + NearShare) {
        val src = rnd.nextInt(i)
        vecs(i) = unit(vecs(src).map(x => x + (rnd.nextGaussian() * 0.02).toFloat))
        labels(i) = labels(src); nearVecs += 1
      } else {
        vecs(i) = unit(Array.fill(64)(rnd.nextGaussian().toFloat))
        labels(i) = rnd.nextInt(10)
      }
    }

    private def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }

    def write(spark: SparkSession, dir: String): Unit = {
      val docs = (0 until nDocs).map { i =>
        Row(i.toLong, texts(i), lang(i), source(i), texts(i).length.toLong)
      }
      val dSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), dSchema)
        .coalesce(1).write.parquet(s"$dir/documents.parquet")
      val emb = (0 until nVecs).map(i => Row(i.toLong, vecs(i).toSeq, labels(i)))
      val eSchema = StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType)))
      spark.createDataFrame(spark.sparkContext.parallelize(emb, 4), eSchema)
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    }

    def facts: Seq[(String, Any)] = Seq(
      "documents" -> nDocs, "embeddings" -> nVecs,
      "doc_exact_dup_share" -> (exactGroups.values.map(_ - 1).sum.toDouble / nDocs),
      "doc_exact_groups" -> exactGroups.size,
      "doc_near_dup_share" -> (nearDocs.toDouble / nDocs),
      "vec_exact_dup_share" -> (exactVecs.toDouble / nVecs),
      "vec_near_dup_share" -> (nearVecs.toDouble / nVecs))
  }

  // ----------------------------------------------------------- task_lifecycle

  /** One lifecycle event with the transition the engine must emit for it
    * (`from` → `to` at `retryCount`), derived from the script alone. */
  final case class Ev(taskId: String, kind: String, workerId: String, seq: Long,
      from: Int, to: Int, retryCount: Int)

  /** Lifecycle scripts: every task is submitted and assigned; ~75 %
    * complete, ~20 % fail once and complete after `retry_fire`, ~5 % fail
    * until their retries (3) run out and end failed. Events are laid out
    * in ticks: each tick starts `perTick` new tasks and moves every task
    * already started one event forward, so a task's events span
    * consecutive ticks (and micro-batches). */
  final class Scripts(seed: Long, prefix: String) {
    private val rnd = new Random(seed)
    private var nextTask = 0
    private var nextSeq = 0L
    private val active = mutable.ArrayBuffer.empty[Iterator[Ev]]
    val finalStatus = mutable.HashMap.empty[String, Int]
    var tasks = 0; var retried = 0; var exhausted = 0

    private def script(): Iterator[Ev] = {
      val id = s"$prefix${nextTask}"; nextTask += 1; tasks += 1
      val w = s"w${rnd.nextInt(64)}"
      val u = rnd.nextDouble()
      val fails = if (u < 0.05) 4 else if (u < 0.25) 1 else 0
      if (fails == 4) exhausted += 1 else if (fails == 1) retried += 1
      val b = mutable.ArrayBuffer.empty[(String, String, Int, Int, Int)]
      b += (("submit", null, -1, 0, 0))
      var rc = 0
      var done = false
      while (!done) {
        b += (("assign", w, 0, 1, rc))
        if (rc < fails) {
          if (rc < 3) {
            rc += 1
            b += (("fail", null, 1, 4, rc))
            b += (("retry_fire", null, 4, 0, rc))
          } else { b += (("fail", null, 1, 3, rc)); done = true }
        } else { b += (("complete", null, 1, 2, rc)); done = true }
      }
      finalStatus(id) = b.last._4
      // `seq` is stamped as events are taken, so it follows emission order
      b.iterator.map { case (k, wk, f, t, r) =>
        nextSeq += 1
        Ev(id, k, wk, nextSeq, f, t, r)
      }
    }

    /** The next tick's events. */
    def tick(perTick: Int): Seq[Ev] = {
      (0 until perTick).foreach(_ => active += script())
      val out = active.flatMap(it => if (it.hasNext) Some(it.next()) else None).toSeq
      active.filterInPlace(_.hasNext)
      out
    }

    /** Ticks until every started task has finished, starting no more. */
    def drainTicks(): Iterator[Seq[Ev]] =
      Iterator.continually(tick(0)).takeWhile(_.nonEmpty)

    def facts: Seq[(String, Any)] = Seq(
      "tasks" -> tasks,
      "retried_once_share" -> retried.toDouble / math.max(tasks, 1),
      "retries_exhausted_share" -> exhausted.toDouble / math.max(tasks, 1))
  }

  def eventJson(e: Ev): String = {
    val w = if (e.workerId == null) "null" else "\"" + e.workerId + "\""
    s"""{"taskId":"${e.taskId}","kind":"${e.kind}","workerId":$w,"seq":${e.seq}}"""
  }
}
