package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Encoders

import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs}
import graft.streaming.TaskEngine.TaskEvent

/** The fork-free `file:` binding ([[sources.LocalFiles]]) writes what
  * Hadoop's stock `LocalFileSystem` / `LocalFs` write, and a
  * `TaskHive.start` stream in a [[GraftSession]] session forks no
  * `chmod` or `readlink` process. Stock instances are built here
  * explicitly, never taken from Hadoop's `FileSystem` cache. */
class LocalFilesSpec extends SparkSuite {

  private def stockFs: FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration()); fs
  }
  private def oursFs: FileSystem = {
    val fs = new ForkFreeLocalFileSystem(); fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration()); fs
  }
  private def fileContext(impl: Class[_]): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }
  private def stockFc = fileContext(classOf[org.apache.hadoop.fs.local.LocalFs])
  private def oursFc = fileContext(classOf[ForkFreeLocalFs])

  /** The command lines of the processes the JVM started while `body` ran. */
  private def forkedCommands(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(dump)
    } finally rec.close()
  }
  private def chmodOrReadlink(cmds: Seq[String]): Seq[String] = cmds.filter { c =>
    val prog = c.trim.split("\\s+").head.split('/').last
    prog == "chmod" || prog == "readlink"
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")
  private def oct(digits: String): Int = Integer.parseInt(digits, 8)
  private def perm(octal: Int) = new FsPermission(octal.toShort)
  private val data = Array.tabulate[Byte](3000)(i => ((i * 31) % 251).toByte)

  /** Writes a file, a renamed file and a directory with mode `octal`
    * through one API under `dir`. */
  private type Writer = (JPath, Int) => Unit
  private def viaFileSystem(fs: FileSystem): Writer = (dir, octal) => {
    val p = new Path(dir.resolve("part").toUri)
    val out = fs.create(p, perm(octal), true, 4096, 1.toShort, fs.getDefaultBlockSize(p), null)
    out.write(data); out.close()
    val tmp = new Path(dir.resolve("renamed.tmp").toUri)
    val out2 = fs.create(tmp, perm(octal), true, 4096, 1.toShort, fs.getDefaultBlockSize(tmp), null)
    out2.write(data); out2.close()
    assert(fs.rename(tmp, new Path(dir.resolve("renamed").toUri)))
    assert(fs.mkdirs(new Path(dir.resolve("sub").toUri), perm(octal)))
  }
  private def viaFileContext(fc: FileContext): Writer = (dir, octal) => {
    def create(name: String): Path = {
      val p = new Path(dir.resolve(name).toUri)
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.perms(perm(octal)))
      out.write(data); out.close(); p
    }
    create("part")
    // the checkpoint manager's write: a temp file renamed into place
    fc.rename(create("renamed.tmp"), new Path(dir.resolve("renamed").toUri),
      Options.Rename.OVERWRITE)
    fc.mkdir(new Path(dir.resolve("sub").toUri), perm(octal), true)
  }

  /** Every entry under `dir`: name, mode and, for files, the bytes. */
  private def snapshot(dir: JPath): Seq[(String, Int, Seq[Byte])] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString).map { p =>
      (p.getFileName.toString, mode(p),
        if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty)
    }

  test("files and directories get the stock modes, bytes and .crc sidecars through both APIs") {
    val root = Files.createTempDirectory("graft-localfiles")
    val apis: Seq[(String, Writer, Writer)] = Seq(
      ("FileSystem", viaFileSystem(stockFs), viaFileSystem(oursFs)),
      ("FileContext", viaFileContext(stockFc), viaFileContext(oursFc)))
    for ((api, stock, ours) <- apis; octal <- Seq("644", "640", "755").map(oct)) {
      val label = f"$api 0$octal%o"
      val (s, o) = (root.resolve(s"stock-$api-$octal"), root.resolve(s"ours-$api-$octal"))
      Files.createDirectories(s); Files.createDirectories(o)
      stock(s, octal)
      val forks = chmodOrReadlink(forkedCommands(ours(o, octal)))
      assert(forks.isEmpty, s"$label: the fork-free binding forked $forks")
      val (want, got) = (snapshot(s), snapshot(o))
      assert(got == want, s"$label differs from Hadoop's")
      assert(got.map(_._1) == Seq(".part.crc", ".renamed.crc", "part", "renamed", "sub"),
        s"$label: ${got.map(_._1)}")
      assert(got.filterNot(_._1.endsWith(".crc")).forall(_._2 == octal), s"$label modes")
    }
  }

  test("getFileLinkStatus agrees with Hadoop's for a file, a symlink, a dangling symlink and a missing path") {
    val root = Files.createTempDirectory("graft-links")
    val file = root.resolve("file")
    Files.write(file, data)
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val missing = root.resolve("missing")
    def describe(s: FileStatus) =
      (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup)
    val (sFs, oFs, sFc, oFc) = (stockFs, oursFs, stockFc, oursFc)
    val apis: Seq[(String, Path => FileStatus, Path => FileStatus)] = Seq(
      ("FileSystem", sFs.getFileLinkStatus, oFs.getFileLinkStatus),
      ("FileContext", sFc.getFileLinkStatus, oFc.getFileLinkStatus))
    // Hadoop's `readlink` gets the path's string form: a plain path
    // resolves the link, a `file:`-qualified one reads as no link
    def plain(p: JPath) = new Path(p.toString)
    def qualified(p: JPath) = new Path(p.toUri)
    for ((api, stock, ours) <- apis) {
      def outcome(get: Path => FileStatus, p: Path) =
        Try(describe(get(p))).toEither.left.map(_.getClass)
      for (p <- Seq(file, link, dangling, missing); form <- Seq(plain _, qualified _))
        assert(outcome(ours, form(p)) == outcome(stock, form(p)), s"$api ${form(p)}")
      assert(!ours(plain(file)).isSymlink)
      assert(ours(plain(link)).getSymlink.toUri.getPath == file.toString, api)
      assert(ours(plain(dangling)).getSymlink.toUri.getPath ==
        root.resolve("nowhere").toString, api)
      intercept[FileNotFoundException](ours(plain(missing)))
    }
    val missingPath = new Path(missing.toUri)
    intercept[FileNotFoundException](oFs.getFileStatus(missingPath))
    intercept[FileNotFoundException](oFc.getFileStatus(missingPath))
    // Hadoop's chmod fails with its exit code; NIO's miss is mapped
    intercept[IOException](sFs.setPermission(missingPath, perm(oct("644"))))
    intercept[FileNotFoundException](oFs.setPermission(missingPath, perm(oct("644"))))
  }

  test("a sticky-bit 01777 directory still gets its mode through Hadoop's chmod") {
    val root = Files.createTempDirectory("graft-sticky")
    val sticky = perm(oct("1777"))
    val (sFs, oFs) = (stockFs, oursFs)
    for ((name, fs) <- Seq("stock" -> sFs, "ours" -> oFs)) {
      val d = root.resolve(name)
      assert(fs.mkdirs(new Path(d.toUri), perm(oct("755"))))
      fs.setPermission(new Path(d.toUri), sticky)
      assert(mode(d) == oct("1777"), f"$name: 0${mode(d)}%o")
    }
    val viaFc = root.resolve("fc")
    oursFc.mkdir(new Path(viaFc.toUri), perm(oct("755")), true)
    oursFc.setPermission(new Path(viaFc.toUri), sticky)
    assert(mode(viaFc) == oct("1777"), f"FileContext: 0${mode(viaFc)}%o")
  }

  test("a TaskHive.start stream forks no chmod or readlink process; file: resolves to the fork-free classes") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-forks")
    val in = Files.createDirectories(root.resolve("in"))
    for (i <- 1 to 3) Files.write(in.resolve(s"events-$i.json"), Seq(
      s"""{"taskId":"t$i","kind":"submit","workerId":null,"seq":${3 * i}}""",
      s"""{"taskId":"t$i","kind":"assign","workerId":"w$i","seq":${3 * i + 1}}""",
      s"""{"taskId":"t$i","kind":"complete","workerId":null,"seq":${3 * i + 2}}""")
      .mkString("\n").getBytes)
    val events = spark.readStream.schema(Encoders.product[TaskEvent].schema)
      .option("maxFilesPerTrigger", "1").json(in.toString).as[TaskEvent]
    val out = root.resolve("out").toString
    var batches = 0
    val cmds = forkedCommands {
      val q = TaskHive(spark, sf).start(events, root.resolve("ckpt").toString, out)
      try { q.processAllAvailable(); batches = q.recentProgress.count(_.numInputRows > 0) }
      finally q.stop()
    }
    assert(batches == 3, s"expected one trigger per file, got $batches")
    assert(spark.read.parquet(out).count() == 9)
    // Spark's own `rm -rf` of temp dirs is not Hadoop's and is ignored
    val forks = chmodOrReadlink(cmds)
    assert(forks.isEmpty, s"${forks.size} chmod/readlink forks:\n${forks.take(10).mkString("\n")}")
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(FsConstants.LOCAL_FS_URI, conf).getClass == classOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
      .getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
  }
}
