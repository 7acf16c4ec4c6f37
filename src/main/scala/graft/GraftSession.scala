package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for every entry point (Verify,
  * Bench, tests): one place for the engine-wide conf and the Hive
  * metastore wiring (BASELINE.json north star: "Spark SQL + Hive
  * metastore integration").
  *
  * The metastore is embedded Derby (offline-friendly), held in memory:
  * each JVM has its own, so concurrent JVMs — an sbt test fork next to
  * a driver Verify run — never contend on Derby's single-owner lock,
  * and nothing of it is left on disk. The warehouse directory is
  * per-JVM too (pid-keyed under /tmp) and is removed, with the Derby
  * log, Hive's session resources directory and every [[tempDir]],
  * when the JVM exits.
  * Catalog init is lazy: sessions that never touch the catalog pay
  * nothing.
  *
  * The `file:` scheme is bound to [[sources.LocalFiles]] for both
  * Hadoop APIs (`FileSystem` and `FileContext`): without native
  * `libhadoop`, Hadoop's own local file system forks a `chmod` or
  * `readlink` process for every checkpoint, state-store and sink file,
  * ~130 per streaming micro-batch. Caveat: Hadoop caches one
  * `FileSystem` per (scheme, authority, user) for the whole JVM and
  * ignores the conf of later lookups, so the `FileSystem` binding only
  * holds when a session built here creates the JVM's first `file:`
  * file system. `FileContext` is not cached and always follows the
  * conf.
  *
  * Spark's generated-class cache holds [[CodegenCacheEntries]] classes,
  * not Spark's default 100. Spark keeps each class it compiles with
  * Janino in one JVM-wide cache, keyed by the generated source; a class
  * evicted from it is compiled again on its next use, and the fresh
  * class runs interpreted until the JIT warms it up again. The engine's
  * working set is larger than 100 classes: one Memo-cold pass of the
  * seven-step curation pipeline generates ~160, and `Bench.warmUp` plus
  * one sf0.1 headline pass 1,078 (11.2 s of Janino time). At 100
  * entries each pass evicted every class before its next use and
  * compiled all of them again. The cache stays bounded: every distinct
  * integer literal or `limit(n)` adds 2 classes, so a long-lived
  * serving JVM would otherwise grow it without limit. Caveat: Spark
  * sizes the cache once per JVM, from the active session's conf when
  * the JVM generates its first class, so the bound holds only if a
  * session built here is active at that moment — the same kind of
  * JVM-wide limit as the `FileSystem` binding above.
  */
object GraftSession {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`): ~4x the 1,078 classes of a
    * warm-up plus headline pass, so the curation and headline working
    * sets stay compiled, yet bounded (see the object's doc). */
  val CodegenCacheEntries = 4096

  private lazy val pid = ProcessHandle.current().pid()
  private lazy val warehouse = s"/tmp/graft-warehouse-$pid"
  private lazy val derbyLog = s"/tmp/graft-derby-$pid.log"
  // Hive's per-session resources directory, else `/tmp/<uuid>_resources`
  private lazy val hiveResources = s"/tmp/graft-hive-resources-$pid"

  // Paths removed, with everything in them, when the JVM exits.
  private val exitPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // Runs after Spark's own shutdown hook (Hadoop priority 40), which
  // stops the context, and before Hadoop closes its file systems (10).
  private lazy val removeAtExit: Unit = {
    Seq(warehouse, derbyLog, hiveResources).foreach(exitPaths.add)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() =>
      exitPaths.forEach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))), 20)
  }

  /** A fresh directory under the JVM's temp dir that is removed, with
    * everything in it, when the JVM exits: the home of an artifact a
    * session builds once and then reads, such as a stored index. */
  private[graft] def tempDir(prefix: String): String = {
    removeAtExit
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    exitPaths.add(d)
    d
  }

  /** Builder with the engine conf applied; callers add master/app
    * specifics and `getOrCreate()`. */
  def builder(shufflePartitions: Int): SparkSession.Builder = {
    removeAtExit
    // keep derby.log out of the repo working dir
    System.setProperty("derby.stream.error.file", derbyLog)
    SparkSession.builder()
      .config(sources.LocalFiles.SparkConf)
      // every graft session carries the native-function surface from
      // birth (round-16); foreign sessions get it from the
      // Tables.table chokepoint (round-17: every fixture-reading
      // builder registers on first read, so shared column helpers
      // like Exprs.tokenCount resolve on ANY session)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:memory:graft-metastore;create=true")
      .config("spark.hadoop.hive.downloaded.resources.dir", hiveResources)
      .enableHiveSupport()
  }
}
