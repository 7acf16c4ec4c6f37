package graft

import org.apache.spark.sql.functions._

import graft.operators.LayoutOps

/** EXECUTED layout rewrites: the Z-order and compaction plans actually
  * land on disk, and the payoff is measured from the written files —
  * file-level skipping on Z-predicate scans, one ≥target-size file per
  * compaction bin. */
class LayoutOpsSpec extends SparkSuite {

  private def tmp(tag: String): String =
    tempDir(s"graft-$tag").toString

  private def dataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet"))

  /** Per-file (minXb, maxXb, minDd, maxDd) envelope — identical to the
    * min/max the parquet footer stats hold for those columns, so
    * "skippable" below is exactly the file-level pruning a stats-aware
    * scan performs. */
  private def envelopes(dir: String): Seq[(Int, Int, Int, Int)] =
    dataFiles(dir).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("xb"), max("xb"), min("dd"), max("dd")).head()
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
    }

  test("zorder write: Z-predicate scans skip most files, linear layout skips none") {
    val zdir = tmp("zorder")
    val ldir = tmp("linear")
    LayoutOps.writeZOrdered(spark, sf, zdir)
    LayoutOps.writeLinear(spark, sf, ldir)

    // the rewrite loses nothing
    val n = graft.sources.Tables.orders(spark, sf).count()
    assert(spark.read.parquet(zdir).count() == n)
    assert(spark.read.parquet(ldir).count() == n)

    val zf = envelopes(zdir)
    val lf = envelopes(ldir)
    assert(zf.size >= 8, s"expected ~16 z files, got ${zf.size}")

    // date-window predicate dd ∈ [2000, 2100]: a file skips iff its
    // day envelope misses the window entirely
    def skipDate(e: (Int, Int, Int, Int)) = e._4 < 2000 || e._3 > 2100
    // customer-bucket predicate xb = 7
    def skipX(e: (Int, Int, Int, Int)) = e._2 < 7 || e._1 > 7

    val zDate = zf.count(skipDate)
    val lDate = lf.count(skipDate)
    val zBoth = zf.count(e => skipDate(e) || skipX(e))
    info(s"date-window skip: z=$zDate/${zf.size}, linear=$lDate/${lf.size}; " +
      s"z both-dims skip: $zBoth/${zf.size}")

    // Z clustering bounds BOTH dimensions per file: a date window
    // skips over half the files, and adding the bucket predicate
    // skips more still. The custkey-sorted layout scatters both z
    // dimensions across every file — nothing skips.
    assert(zDate > zf.size / 2, s"z layout skipped only $zDate/${zf.size} on the date window")
    assert(zBoth > zDate, s"xb predicate added no skipping ($zBoth vs $zDate)")
    assert(lDate == 0, s"linear layout unexpectedly skipped $lDate files on dd")
  }

  test("compaction write: one data file per bin, every non-final bin ≥ target") {
    val dir = tmp("compact")
    LayoutOps.writeCompacted(spark, sf, dir)

    val docs = graft.sources.Tables.documents(spark, sf)
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count(), "compaction lost rows")

    // exactly ONE data file per (source, bin) directory
    val binDirs = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("source=")).flatMap(_.listFiles().toSeq)
      .filter(_.getName.startsWith("bin="))
    assert(binDirs.nonEmpty)
    binDirs.foreach { b =>
      val files = b.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      assert(files.size == 1, s"${b.getPath} has ${files.size} data files")
    }

    // bin contents match the PLAN: same (source, bin, n_docs, chars)
    val gotBins = back.groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("bin_chars"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val planned = LayoutOps.compactionPlan(spark, sf)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(gotBins == planned, "written bins diverge from the compaction plan")

    // every bin but a source's last holds ≥ target chars (greedy binning)
    val lastBin = planned.keys.groupBy(_._1).map { case (s, ks) => s -> ks.map(_._2).max }
    planned.foreach { case ((s, b), (_, chars)) =>
      if (b != lastBin(s))
        assert(chars >= 16384L, s"bin ($s,$b) under target: $chars chars")
    }
  }

  test("shard plan: deterministic, uniform-ish, dense per-shard positions") {
    val a = LayoutOps.shardPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val b = LayoutOps.shardPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(a.sameElements(b), "shard plan is not reproducible run-to-run")

    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(a.length == n, "shard plan dropped or duplicated docs")
    assert(a.forall { case (_, s, _, _) => s >= 0 && s < 32 })

    // positions are exactly 0..count-1 within every shard (a writer can
    // stream them as file offsets with no gaps)
    a.groupBy(_._2).foreach { case (s, rows) =>
      val pos = rows.map(_._3).sorted
      assert(pos.sameElements(0L until rows.length.toLong),
        s"shard $s positions not dense: ${pos.take(5).mkString(",")}..")
    }

    // seeded-hash uniformity: ALL 32 shards populated (the plain
    // multiplicative chain failed exactly this — its low-bit lattice
    // left every shard ≡ 0 mod 4 empty) and none over 3x fair share
    val byShard = a.groupBy(_._2)
    assert(byShard.size == 32,
      s"only ${byShard.size}/32 shards populated — hash low-bit bias")
    val fair = n.toDouble / 32
    val max = byShard.values.map(_.length).max
    assert(max <= 3 * fair, s"shard skew: max $max vs fair $fair")
  }

  test("shard write: one file per shard, file row order == plan position order") {
    val dir = tmp("shards")
    LayoutOps.writeSharded(spark, sf, dir)

    val shardDirs = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.size == 32, s"expected 32 shard dirs, got ${shardDirs.size}")
    shardDirs.foreach { d =>
      val files = d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      assert(files.size == 1, s"${d.getPath} has ${files.size} data files")
    }

    // within each shard file, physical row order IS the plan's pos order
    val plan = LayoutOps.shardPlan(spark, sf).collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(0)).toMap
    shardDirs.foreach { d =>
      val s = d.getName.stripPrefix("shard=").toInt
      val ids = spark.read.parquet(d.getAbsolutePath)
        .select("doc_id").collect().map(_.getLong(0))
      ids.zipWithIndex.foreach { case (id, i) =>
        assert(plan((s, i.toLong)) == id,
          s"shard $s row $i: file has doc $id, plan says ${plan((s, i.toLong))}")
      }
    }
  }
}
