package graft

import org.apache.spark.sql.functions._

/** S1/S2/S3: the custom xlsx DataSource V2 against the reference's own
  * input file (read-only fixture), and against small workbooks written
  * here with java.util.zip so the zip + StAX reader runs on any host. */
class ExcelSourceSpec extends SparkSuite {

  private val SpiderXlsx = "/root/reference/spider.xlsx"

  /** Minimal xlsx: only the entries the reader opens, plus any extra
    * sheets. `rows` are `<row>` bodies of sheet 1. */
  private def xlsx(shared: Seq[String], rows: Seq[String],
      extra: Map[String, String] = Map.empty): String = {
    val f = java.nio.file.Files.createTempFile("graft-excel", ".xlsx")
    f.toFile.deleteOnExit()
    val zip = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def put(name: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    def sheet(rs: Seq[String]): String =
      s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$ns"><sheetData>""" +
        rs.zipWithIndex.map { case (r, i) => s"""<row r="${i + 1}">$r</row>""" }.mkString +
        "</sheetData></worksheet>"
    try {
      put("xl/sharedStrings.xml",
        s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$ns" count="${shared.size}">""" +
          shared.map(t => s"<si><t>$t</t></si>").mkString + "</sst>")
      put("xl/worksheets/sheet1.xml", sheet(rows))
      extra.foreach { case (n, rs) => put(n, sheet(Seq(rs))) }
    } finally zip.close()
    f.toString
  }

  test("generated xlsx: shared and inline strings, empty cells, sheet 2 ignored") {
    val path = xlsx(
      shared = Seq("name", "kind", "alpha", "gamma"),
      rows = Seq(
        """<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>""" +
          """<c r="C1" t="inlineStr"><is><t>note</t></is></c>""",
        """<c r="A2" t="s"><v>2</v></c><c r="B2" t="inlineStr"><is><t>x</t></is></c>""" +
          """<c r="C2"><v>42</v></c>""",
        """<c r="A3" t="inlineStr"><is><r><t>be</t></r><r><t>ta</t></r></is></c>""" +
          """<c r="B3"/><c r="C3" t="s"><v>3</v></c>""",
        """<c r="A4" t="inlineStr"><is><t>delta</t></is></c>"""),
      extra = Map("xl/worksheets/sheet2.xml" ->
        """<c r="A1" t="inlineStr"><is><t>other</t></is></c>"""))
    assert(sources.ExcelDataSource.readRows(path) == Vector(
      Vector("name", "kind", "note"), Vector("alpha", "x", "42"),
      Vector("beta", "", "gamma"), Vector("delta")))
    val df = spark.read.format("graft-excel").load(path)
    assert(df.columns.toSeq == Seq("name", "kind", "note"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("alpha", "x", "42"), ("beta", "", "gamma"),
      ("delta", null, null)))
  }

  test("generated xlsx: a header-only sheet has the header's schema and no rows") {
    val path = xlsx(shared = Seq("a", "b"),
      rows = Seq("""<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>"""))
    val df = spark.read.format("graft-excel").load(path)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 0)
  }

  /** A generated workbook with header (id, name) and one data row per
    * `(id, name)`, as inline strings. */
  private def idNames(rows: (String, String)*): String = {
    def row(cells: (String, String)): String =
      s"""<c r="A1" t="inlineStr"><is><t>${cells._1}</t></is></c>""" +
        s"""<c r="B1" t="inlineStr"><is><t>${cells._2}</t></is></c>"""
    xlsx(shared = Seq.empty, rows = (("id", "name") +: rows).map(row))
  }

  private def copyTo(workbook: String, dir: java.io.File, name: String): Unit =
    java.nio.file.Files.copy(java.nio.file.Paths.get(workbook),
      java.nio.file.Paths.get(dir.getPath, name))

  test("generated xlsx ticker: AvailableNow drains the dir; a later run ingests only new files") {
    val dir = tempDir("graft-excel-gen-stream").toFile
    val in = new java.io.File(dir, "in")
    in.mkdirs()
    val out = s"${dir.getPath}/out"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-excel").load(in.getPath)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"${dir.getPath}/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }
    def ingested: Seq[(String, String)] = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name"))).toSeq.sorted
    copyTo(idNames("1" -> "a", "2" -> "b", "3" -> "c"), in, "a.xlsx")
    runOnce()
    assert(ingested == Seq("1" -> "a", "2" -> "b", "3" -> "c"))
    copyTo(idNames("4" -> "d", "5" -> "e"), in, "b.xlsx")
    runOnce()
    assert(ingested == Seq("1" -> "a", "2" -> "b", "3" -> "c", "4" -> "d", "5" -> "e"))
  }

  test("generated xlsx: batch read of a directory unions all files (one partition per file)") {
    val dir = tempDir("graft-excel-gen-batch").toFile
    copyTo(idNames("1" -> "a", "2" -> "b", "3" -> "c"), dir, "a.xlsx")
    copyTo(idNames("4" -> "d", "5" -> "e"), dir, "b.xlsx")
    val df = spark.read.format("graft-excel").load(dir.getPath)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted ==
      Seq("1" -> "a", "2" -> "b", "3" -> "c", "4" -> "d", "5" -> "e"))
    assert(df.rdd.getNumPartitions == 2)
  }

  test("reads spider.xlsx: 657 data rows x 9 string columns, header as names") {
    val df = spark.read.format("graft-excel").load(SpiderXlsx)
    assert(df.columns.toSeq == Seq("taskId", "taskName", "domain", "type",
      "domLimit", "drive", "rootNodes", "companyId", "root"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 657) // A1:I658 minus header (SURVEY.md §1.3)
  }

  test("excel scan composes with the task projection (S1 end-to-end)") {
    val df = spark.read.format("graft-excel").load(SpiderXlsx)
      .select(
        concat(lit("wechat-task-"), col("taskId")).as("id"),
        lit(5).as("priority"),
        col("type").as("task_type"),
        col("domain"))
      .filter(col("domain").isNotNull)
    assert(df.count() == 657)
    val first = df.orderBy("id").head()
    assert(first.getAs[String]("id").startsWith("wechat-task-"))
    assert(first.getAs[Int]("priority") == 5)
  }

  test("count-only scan (S3 smoke: excel_test.go semantics)") {
    assert(spark.read.format("graft-excel").load(SpiderXlsx).count() == 657)
  }

  test("X3 ticker: AvailableNow drains the dir; a later run ingests only new files") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempDir("graft-excel-stream").toFile
    val out = s"${dir.getPath}/out"
    val ckpt = s"${dir.getPath}/ckpt"
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-excel")
        .load(s"${dir.getPath}/in")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      assert(!q.isActive)
    }
    Files.createDirectories(Paths.get(s"${dir.getPath}/in"))
    Files.copy(Paths.get(SpiderXlsx), Paths.get(s"${dir.getPath}/in/a.xlsx"),
      StandardCopyOption.REPLACE_EXISTING)
    runOnce()
    assert(spark.read.parquet(out).count() == 657)
    // the "ticker" fires again after a new generator file lands: only
    // b.xlsx is ingested (a.xlsx is in the committed offset)
    Files.copy(Paths.get(SpiderXlsx), Paths.get(s"${dir.getPath}/in/b.xlsx"),
      StandardCopyOption.REPLACE_EXISTING)
    runOnce()
    assert(spark.read.parquet(out).count() == 657 * 2)
  }

  test("ExcelOffset JSON round-trips paths with quotes and backslashes") {
    import graft.sources.ExcelOffset
    val paths = Seq("/plain/a.xlsx", "/with\"quote.xlsx", "/with\\back\\slash.xlsx", "")
    val off = ExcelOffset(paths)
    assert(ExcelOffset.fromJson(off.json()).files == paths)
    assert(ExcelOffset.fromJson(ExcelOffset(Seq.empty).json()).files.isEmpty)
  }

  test("batch read of a directory unions all xlsx files (one partition per file)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempDir("graft-excel-batch").toFile
    Files.copy(Paths.get(SpiderXlsx), Paths.get(s"${dir.getPath}/a.xlsx"))
    Files.copy(Paths.get(SpiderXlsx), Paths.get(s"${dir.getPath}/b.xlsx"))
    val df = spark.read.format("graft-excel").load(dir.getPath)
    assert(df.count() == 657 * 2)
    assert(df.rdd.getNumPartitions == 2)
  }
}
