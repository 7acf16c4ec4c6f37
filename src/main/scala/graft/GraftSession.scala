package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for every entry point (Verify,
  * Bench, tests): one place for the engine-wide conf and the Hive
  * metastore wiring (BASELINE.json north star: "Spark SQL + Hive
  * metastore integration").
  *
  * The metastore is embedded Derby (offline-friendly); database and
  * warehouse paths are per-JVM (pid-keyed under /tmp) so concurrent
  * JVMs — an sbt test fork next to a driver Verify run — never contend
  * on Derby's single-owner lock. Catalog init is lazy: sessions that
  * never touch the catalog pay nothing.
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
  */
object GraftSession {

  private lazy val pid = ProcessHandle.current().pid()

  /** Builder with the engine conf applied; callers add master/app
    * specifics and `getOrCreate()`. */
  def builder(shufflePartitions: Int): SparkSession.Builder = {
    // keep derby.log out of the repo working dir
    System.setProperty("derby.stream.error.file", s"/tmp/graft-derby-$pid.log")
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
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-$pid")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=/tmp/graft-metastore-$pid;create=true")
      .enableHiveSupport()
  }
}
