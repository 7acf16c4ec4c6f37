package graft

import java.io.{ByteArrayInputStream, StringWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic (not part of the driver contract): the round-13 verdict's
  * stretch item 7 — run the dedup/ANN headline set over a REAL text
  * corpus nobody designed for this engine, so the regime dispatchers'
  * measured thresholds (ngram Σdf²/doc 500k cut + 20k-doc crossover,
  * simhash Σc²/doc 200 cut) meet data with none of the fixtures'
  * synthetic structure.
  *
  * The corpus is the host's own public documentation tree
  * (`/usr/share/doc` — Debian package changelogs, copyright files,
  * READMEs — plus `/usr/share/common-licenses`): genuinely
  * human-written English prose and legal boilerplate, heavy-tailed doc
  * lengths, REAL near-duplicate structure (license texts repeated
  * across hundreds of packages with small edits; changelog entries
  * sharing per-package templates) — the head-heavy shape 100 TB web
  * corpora have and the ScaleProbe replicas only model.
  *
  * Pipeline (all through the engine's own public surfaces):
  *  1. file walk → one JSON object per line, Jackson-escaped, written
  *     as sharded JSONL — then read back through
  *     [[graft.sources.JsonlCorpus]] (the strict parse + quarantine
  *     path gets exercised on producer output it didn't write);
  *  2. Debian changelogs split into per-entry documents (the entry
  *     header is a stable public format), everything else one doc per
  *     file; binary/mis-encoded files rejected by a replacement-char
  *     ratio gate, not extension guessing;
  *  3. `documents.parquet` in the fixture schema (lang from the same
  *     stopword heuristic [[graft.operators.TextOps.langId]] scores,
  *     so downstream lang gates see real routing values);
  *  4. `embeddings.parquet` DERIVED from the real text: 64-dim signed
  *     random projection of hashed token counts (v_d = Σ_t cnt(t) ·
  *     (2·bit_d(xxhash64(t)) − 1), L2-normalized) — deterministic,
  *     fully distributed (two key-local shuffles), and faithful in the
  *     one property the semantic family measures: near-duplicate TEXTS
  *     get near-parallel vectors. Labels = hash(package) mod 50, the
  *     domain-partition shape the hard fixture models.
  *  5. the [[Bench100x.top]] probe set + dispatcher decisions +
  *     `graft.Profile --skew` bucket histograms over the result.
  *
  * Usage: runMain graft.RealCorpus [outDir] [mode]
  * (default outDir /tmp/realcorpus, mode `all`; mode `build` stops
  * after the corpus write so the timed `report` half can run alone on
  * an otherwise-idle host; rebuilds only if the corpus is absent).
  */
object RealCorpus {

  private val DefaultRoots =
    Seq("/usr/share/doc", "/usr/share/common-licenses")

  /** Max decompressed chars per document — changelog entries and
    * copyright files sit far below this; the cap bounds the odd
    * embedded data blob without hiding real long-doc behavior. */
  private val MaxDocChars = 100000

  /** Debian changelog entry header: `pkg (version) dist; urgency=…` —
    * the documented first-line format (deb-changelog(5), a public
    * standard) every `changelog.Debian*` file follows. */
  private val EntryHeader = "^\\S+ \\(.*\\).*urgency=".r

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/realcorpus")
    val mode = if (args.length > 1) args(1) else "all"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    if (mode != "report" &&
        !Files.exists(Paths.get(s"$outDir/documents.parquet")))
      build(spark, DefaultRoots, outDir)
    if (mode != "build") report(spark, outDir)
    spark.stop()
  }

  // ---------------------------------------------------------------- build

  private[graft] def build(spark: SparkSession, roots: Seq[String],
      outDir: String): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(outDir))

    // Driver-side walk of a bounded local tree (the file LIST is small;
    // the bytes are read distributed below).
    val paths: Seq[String] = roots.flatMap { r =>
      val root = Paths.get(r)
      if (!Files.exists(root)) Seq.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.toString).toVector
        finally s.close()
      }
    }
    println(s"REALCORPUS walk: ${paths.size} files under ${roots.mkString(", ")}")

    // Distributed read + decode + split + JSON-encode. One JSON object
    // per line (Jackson escapes the newlines real prose carries).
    val jsonl = spark.createDataset(paths).repartition(64)
      .mapPartitions { it =>
        val factory = new JsonFactory()
        it.flatMap { p =>
          readText(Paths.get(p)).toSeq.flatMap { text =>
            val source = packageOf(p)
            val name = Paths.get(p).getFileName.toString
            val entries =
              if (name.startsWith("changelog.Debian")) splitChangelog(text)
              else Seq(text)
            entries.iterator.zipWithIndex.collect {
              case (t, i) if t.trim.nonEmpty =>
                val docId = fnv64(s"$p#$i") & Long.MaxValue // doc_id ≥ 0
                val w = new StringWriter()
                val g = factory.createGenerator(w)
                g.writeStartObject()
                g.writeNumberField("doc_id", docId)
                g.writeStringField("source", source)
                g.writeStringField("text", t.take(MaxDocChars))
                g.writeEndObject()
                g.close()
                w.toString
            }
          }
        }
      }
    jsonl.write.mode("overwrite").text(s"$outDir/jsonl")

    // Back in through the engine's own strict JSONL reader — the
    // quarantine count is part of the smoke (should be 0: we encoded
    // with a JSON writer, and one rejected line here would mean the
    // reader and a correct producer disagree).
    val docs = graft.sources.JsonlCorpus.docs(spark, s"$outDir/jsonl")
    val quarantined = graft.sources.JsonlCorpus
      .quarantine(spark, s"$outDir/jsonl").count()
    println(s"REALCORPUS jsonl quarantine: $quarantined lines")

    // Fixture documents schema; lang from the langId stopword scores so
    // the lang-gated curation ops see real routing values.
    val padded = concat(lit(" "),
      regexp_replace(lower(col("text")), "\\s+", " "), lit(" "))
    def occ(w: String) = graft.functions.Exprs.occurrences(padded, s" $w ")
    val en = occ("the"); val de = occ("der")
    val fr = occ("le"); val es = occ("el")
    val best = greatest(en, de, fr, es)
    val documents = docs.select(
      col("doc_id"),
      col("text"),
      when(best === 0, "unknown").when(en === best, "en")
        .when(de === best, "de").when(fr === best, "fr")
        .otherwise("es").as("lang"),
      col("source"),
      length(col("text")).cast("long").as("n_chars"))
    documents.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    val nIds = spark.read.parquet(s"$outDir/documents.parquet")
      .select("doc_id").distinct().count()
    require(nDocs == nIds, s"doc_id fingerprint collision: $nDocs docs, $nIds ids")

    // Embeddings derived from the text: signed random projection of
    // hashed token counts. Shuffles are (doc_id, token) count then
    // (doc_id, dim) sum then (doc_id) assemble — all key-local, no
    // corpus-wide state; the 64× dim fanout rides unique tokens only.
    val dim = 64
    val toks = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tokCnt = toks.groupBy("doc_id", "source", "tok")
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("source"), xxhash64(col("tok")).as("h"),
        col("cnt"))
    val contrib = tokCnt.select(col("doc_id"), col("source"),
      posexplode(transform(sequence(lit(0), lit(dim - 1)),
        d => (call_function("shiftright", col("h"), d)
          .bitwiseAND(lit(1L)) * 2 - 1) *
          col("cnt"))))
    val sums = contrib.groupBy("doc_id", "source", "pos")
      .agg(sum("col").as("v"))
    val vecs = sums.groupBy("doc_id", "source")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("doc_id"), col("source"),
        transform(col("pv"), s => s("v").cast("double")).as("raw"))
      .select(col("doc_id"), col("source"), col("raw"),
        sqrt(aggregate(col("raw"), lit(0.0d), (a, x) => a + x * x)).as("nrm"))
      .select(
        col("doc_id").as("vec_id"),
        transform(col("raw"), x =>
          when(col("nrm") > 0, x / col("nrm")).otherwise(lit(0.0d))
            .cast("float")).as("embedding"),
        pmod(xxhash64(col("source")), lit(50L)).cast("int").as("label"))
    vecs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    // Control tables so warm-up / mixed queries resolve (same idiom as
    // ScaleProbe — the task/event families are not under test here).
    val others = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events")
    others.foreach { t =>
      val link = Paths.get(s"$outDir/$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link,
          Paths.get(s"/root/testdata/sf0.1/$t.parquet"))
    }
    val nVecs = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"REALCORPUS wrote $outDir documents=$nDocs embeddings=$nVecs")
  }

  /** Read a file's text: gunzip by magic bytes (not extension), decode
    * UTF-8 with replacement, reject binary by replacement/control-char
    * ratio. Returns None for unreadable or non-text content. */
  private def readText(p: Path): Option[String] = {
    try {
      val bytes = Files.readAllBytes(p)
      if (bytes.length == 0) return None
      val content =
        if (bytes.length > 2 && (bytes(0) & 0xff) == 0x1f &&
            (bytes(1) & 0xff) == 0x8b) {
          val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
          try in.readAllBytes() finally in.close()
        } else bytes
      if (content.length > 4 * MaxDocChars) return None // data blob, not doc
      val s = new String(content, java.nio.charset.StandardCharsets.UTF_8)
      if (s.isEmpty) return None
      var bad = 0
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '�' || (c < ' ' && c != '\n' && c != '\t' && c != '\r'))
          bad += 1
        i += 1
      }
      if (bad * 200 > s.length) None else Some(s) // >0.5% junk = binary
    } catch { case _: Exception => None }
  }

  /** Package name = first path component under the doc root. */
  private def packageOf(p: String): String = {
    val docPrefix = "/usr/share/doc/"
    if (p.startsWith(docPrefix))
      p.stripPrefix(docPrefix).takeWhile(_ != '/')
    else "common-licenses"
  }

  /** Split a Debian changelog into per-entry documents. */
  private[graft] def splitChangelog(text: String): Seq[String] = {
    val lines = text.split("\n", -1)
    val starts = lines.indices.filter(i =>
      EntryHeader.findPrefixOf(lines(i)).isDefined)
    if (starts.isEmpty) Seq(text)
    else (starts :+ lines.length).sliding(2).map { w =>
      lines.slice(w(0), w(1)).mkString("\n")
    }.toSeq
  }

  /** FNV-1a 64 over UTF-8 bytes — a deterministic driver-side doc_id
    * fingerprint (collisions asserted absent after the write). */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xffL); h *= 0x100000001b3L
    }
    h
  }

  // --------------------------------------------------------------- report

  /** Dispatcher decisions + bucket profiles + the Bench100x probe set,
    * timed with the exact Bench loop. */
  private def report(spark: SparkSession, dir: String): Unit = {
    val docCount = graft.sources.Tables.documents(spark, dir).count()
    def statline(tag: String, r: org.apache.spark.sql.Row): Unit =
      println(s"REALCORPUS $tag: " + r.schema.fieldNames.zipWithIndex
        .map { case (f, i) => s"$f=${r.get(i)}" }.mkString(" "))
    println(s"REALCORPUS $dir docs=$docCount")
    statline("shingle-df", graft.operators.TextOps.shingleDfStats(spark, dir).head())
    statline("polysimhash", graft.operators.SimilarityOps.simhashBucketStats(spark, dir).head())
    statline("q8cells", graft.operators.SimilarityOps.q8CellStats(spark, dir).head())

    Bench.warmUp(spark, dir, "realcorpus")
    // distinct: simhash_dedup_auto joined Bench100x.top itself in
    // round 15 (verdict item 2) — the append would duplicate its key
    // in the emitted JSON map
    val selected = (Bench100x.top :+ "simhash_dedup_auto").distinct
      .map(n => n -> SparkEntry.queries(n))
    val line = Bench.benchJson(spark, dir, selected, nPasses = 3)
    Files.write(Paths.get("/root/repo/BENCH_realcorpus.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
  }
}

/** Diagnostic (not part of the driver contract): the 10× REAL corpus —
  * the round-15 verdict's item 3. Every prior scale point rode
  * synthetic ScaleProbe fixtures grown from the generated sf0.1
  * tables; this one grows the corpus that has caught a real bug per
  * exposure (the int64 Lehmer overflow, the wide-simhash regime at
  * only 24k docs). [[ScaleProbe.build]]'s HARD mode — the
  * order-preserving per-replica vocabulary bijection — applied to
  * REAL text models growth as new domains with domain-specific
  * vocabulary while preserving each replica's honest in-corpus
  * near-dup structure verbatim (the license/changelog mirror clusters
  * replicate per-replica, never across), and runs the FULL
  * [[Bench.headline]] — all 72 lines, not the 29-line Bench100x probe
  * set — so the task/event/TPC-H families also get a
  * nobody-designed-this data point.
  *
  * Two real-corpus-specific guards (fingerprint ids, not sequential):
  * ScaleProbe's build now requires max(doc_id) clear of the +r·stride
  * overflow, and this runner requires the reindexed ids stay globally
  * UNIQUE — on scattered 63-bit fingerprints the stride is a
  * probabilistic (~10⁻⁹), not structural, disjointness argument, and
  * a silent collision would fuse two documents' dedup identities.
  *
  * Usage: runMain graft.RealCorpus10x [srcDir] [outDir] [replicas]
  */
object RealCorpus10x {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/realcorpus")
    val outDir = if (args.length > 1) args(1) else "/tmp/realcorpus10x"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)

    if (!Files.exists(Paths.get(s"$srcDir/documents.parquet")))
      RealCorpus.build(spark, Seq("/usr/share/doc", "/usr/share/common-licenses"), srcDir)
    if (!Files.exists(Paths.get(s"$outDir/documents.parquet"))) {
      ScaleProbe.build(spark, srcDir, outDir, replicas, hard = true)
      val docs = spark.read.parquet(s"$outDir/documents.parquet")
      val (n, nIds) = (docs.count(),
        docs.select("doc_id").distinct().count())
      require(n == nIds,
        s"replica doc_id collision on fingerprint ids: $n docs, $nIds ids")
    }

    // corpus ANALYZE + dispatch verdicts at this scale (the regime
    // catches the verdict item asks to record)
    def statline(tag: String, r: org.apache.spark.sql.Row): Unit =
      println(s"REALCORPUS10X $tag: " + r.schema.fieldNames.zipWithIndex
        .map { case (f, i) => s"$f=${r.get(i)}" }.mkString(" "))
    statline("shingle-df", graft.operators.TextOps.shingleDfStats(spark, outDir).head())
    statline("polysimhash", graft.operators.SimilarityOps.simhashBucketStats(spark, outDir).head())
    statline("q8cells", graft.operators.SimilarityOps.q8CellStats(spark, outDir).head())
    println(s"REALCORPUS10X dispatch: " +
      s"simhash_wide=${graft.operators.SimilarityOps.simhashSaturated(spark, outDir)} " +
      s"semantic_wide=${graft.operators.SimilarityOps.semanticSaturated(spark, outDir)}")

    Bench.warmUp(spark, outDir, "realcorpus10x")
    val selected = Bench.headline.map(n => n -> SparkEntry.queries(n))
    val line = Bench.benchJson(spark, outDir, selected, nPasses = 3)
    Files.write(Paths.get("/root/repo/BENCH_realcorpus10x.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
