package graft.sources

import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal DataSource V2 for xlsx — the Spark-native form of the
  * reference's Excel scan (S1/S2/S3: /root/reference/tasks/spider.go:21-74,
  * /root/reference/test/excel_test.go:12-38): sheet 1, first row =
  * header, every cell a string (exactly the reference's reader
  * semantics, /root/reference/tasks/spider.go:46-50).
  *
  * Zero new dependencies: xlsx is a zip of XML — JDK ZipFile + StAX.
  * Usage: `spark.read.format("graft-excel").load(path)` (registered via
  * DataSourceRegister) or the FQCN.
  *
  * Scale notes: one InputPartition per file — an xlsx (deflate inside
  * zip) is not range-splittable, so parallelism comes from many files,
  * which is how a 100 TB Excel-fed ingest would arrive anyway. The
  * sheet parse is streaming (StAX pull): the PartitionReader draws rows
  * one at a time from [[ExcelDataSource.RowStream]] and never
  * materializes the sheet. Only the sharedStrings table (a by-index
  * lookup dictionary) is held in memory. DTDs and external entities
  * are disabled on every XML reader (XXE hardening — spreadsheets are
  * untrusted input).
  */
class ExcelDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-excel"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ExcelDataSource.inferSchema(ExcelDataSource.pathOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ExcelTable(schema, properties.get("path"))
}

object ExcelDataSource {
  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft-excel requires .load(path)")
    p
  }

  /** XXE-hardened StAX factory: untrusted spreadsheets must not resolve
    * DTDs or external entities (local-file read / SSRF vector). */
  private def secureXmlFactory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  /** xlsx files under `path`: the path itself if it's a file, else the
    * directory's *.xlsx entries, name-sorted (deterministic plan). */
  def discover(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      // listFiles returns null (not empty) for an unreadable/IO-failed dir.
      val entries = Option(f.listFiles((_, n) => n.endsWith(".xlsx"))).getOrElse(
        throw new IllegalArgumentException(s"cannot list directory $path"))
      entries.map(_.getPath).sorted.toSeq
    } else Seq(path)
  }

  /** Header row (row 1) of sheet 1 → all-string schema. For a
    * directory, the first file defines the schema (generator sheets
    * share a layout, tasks/spider.go:41-45). */
  def inferSchema(path: String): StructType = {
    val first = discover(path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no xlsx under $path"))
    val rows = readRows(first, limit = 1)
    val header = rows.headOption.getOrElse(
      throw new IllegalArgumentException(s"empty sheet in $first"))
    StructType(header.map(name => StructField(name, StringType, nullable = true)))
  }

  /** Incremental sheet-1 row iterator (shared strings resolved). Rows
    * are pulled one at a time from the StAX stream — the sheet is never
    * materialized; only the sharedStrings dictionary is held in memory.
    * The ZipFile stays open for the iterator's lifetime: close(). */
  final class RowStream(path: String) extends Iterator[Vector[String]] with AutoCloseable {
    private val zip = new ZipFile(path)
    // Any construction failure (malformed sharedStrings XML, missing sheet,
    // stream-open error) must close the zip here — the caller can only
    // close() a successfully constructed stream.
    private def closingOnFailure[A](body: => A): A =
      try body catch { case t: Throwable => zip.close(); throw t }
    private val shared: IndexedSeq[String] = closingOnFailure {
      Option(zip.getEntry("xl/sharedStrings.xml")) match {
        case None => IndexedSeq.empty
        case Some(e) =>
          val xml = secureXmlFactory.createXMLStreamReader(zip.getInputStream(e))
          try {
            val out = ArrayBuffer[String]()
            val cur = new StringBuilder
            var inSi = false
            while (xml.hasNext) {
              xml.next() match {
                case XMLStreamConstants.START_ELEMENT if xml.getLocalName == "si" =>
                  inSi = true; cur.clear()
                case XMLStreamConstants.CHARACTERS if inSi =>
                  cur.append(xml.getText)
                case XMLStreamConstants.END_ELEMENT if xml.getLocalName == "si" =>
                  inSi = false; out += cur.toString
                case _ =>
              }
            }
            out.toIndexedSeq
          } finally xml.close()
      }
    }
    private val sheet = closingOnFailure {
      Option(zip.getEntry("xl/worksheets/sheet1.xml"))
        .orElse(Option(zip.getEntry("xl/worksheets/sheet.xml")))
        .getOrElse(throw new IllegalArgumentException(s"no sheet1 in $path"))
    }
    private val xml = closingOnFailure(
      secureXmlFactory.createXMLStreamReader(zip.getInputStream(sheet)))
    private var row = ArrayBuffer[String]()
    private var cellType = ""
    private var cellRef = ""
    private var inV = false
    private var inIs = false
    private val v = new StringBuilder
    private var pending: Vector[String] = _

    private def colIndex(ref: String): Int = {
      var i = 0
      var idx = 0
      while (i < ref.length && ref.charAt(i).isLetter) {
        idx = idx * 26 + (ref.charAt(i) - 'A' + 1); i += 1
      }
      idx - 1
    }

    /** The current cell's value, placed at its declared column (gaps →
      * empty string). */
    private def place(raw: String): Unit = {
      val value = if (cellType == "s") shared(raw.toInt) else raw
      val at = if (cellRef.nonEmpty) colIndex(cellRef) else row.length
      while (row.length < at) row += ""
      row += value
    }

    /** Parse forward until one complete row is buffered (or EOF). A
      * value is a `<v>` (number, or shared-string index when t="s") or
      * an inline string's `<is>`, whose `<t>` runs concatenate. */
    private def advance(): Unit =
      while (pending == null && xml.hasNext) {
        xml.next() match {
          case XMLStreamConstants.START_ELEMENT => xml.getLocalName match {
            case "row" => row = ArrayBuffer[String]()
            case "c" =>
              cellType = Option(xml.getAttributeValue(null, "t")).getOrElse("")
              cellRef = Option(xml.getAttributeValue(null, "r")).getOrElse("")
            case "v" => inV = true; v.clear()
            case "is" => inIs = true; v.clear()
            case "t" if inIs => inV = true
            case _ =>
          }
          case XMLStreamConstants.CHARACTERS if inV => v.append(xml.getText)
          case XMLStreamConstants.END_ELEMENT => xml.getLocalName match {
            case "v" => inV = false; place(v.toString)
            case "t" if inIs => inV = false
            case "is" => inIs = false; place(v.toString)
            case "row" => pending = row.toVector
            case _ =>
          }
          case _ =>
        }
      }

    override def hasNext: Boolean = {
      if (pending == null) advance()
      pending != null
    }
    override def next(): Vector[String] = {
      if (!hasNext) throw new NoSuchElementException(path)
      val r = pending
      pending = null
      r
    }
    override def close(): Unit = {
      xml.close()
      zip.close()
    }
  }

  /** Materialized convenience wrapper over [[RowStream]] (schema
    * inference, tests). */
  def readRows(path: String, limit: Int = Int.MaxValue): Vector[Vector[String]] = {
    val rs = new RowStream(path)
    try rs.take(limit).toVector finally rs.close()
  }
}

class ExcelTable(schema: StructType, path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-excel:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ExcelScan(schema, path)
    }
}

class ExcelScan(schema: StructType, path: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ExcelDataSource.discover(path).map(ExcelPartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory(schema)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ExcelMicroBatchStream(schema, path)
}

/** Offset = the name-sorted set of files already ingested, carried in
  * the offset JSON itself so restart recovery needs no side state (the
  * checkpoint's offset log IS the source of truth). Fine for
  * generator-scale file counts; a 100 TB file feed graduates to a
  * compacted metadata log like Spark's FileStreamSource, which is an
  * implementation upgrade behind the same Offset contract. */
case class ExcelOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    files.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object ExcelOffset {
  def fromJson(json: String): ExcelOffset = {
    val items = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
      .toSeq
    ExcelOffset(items)
  }
}

/** X3 streaming form — the reference re-runs registered generators on a
  * ticker (/root/reference/taskhive/taskhive.go:115-147, 5-min default);
  * here each micro-batch ingests files that appeared since the last
  * offset. ProcessingTime(interval) IS the ticker; Trigger.AvailableNow
  * drains the current backlog and stops (startup drain, ST8). */
class ExcelMicroBatchStream(schema: StructType, path: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // AvailableNow: freeze the target at prepare time so the drain is a
  // fixed goal even while new files keep landing
  @volatile private var frozen: Option[ExcelOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozen = Some(ExcelOffset(ExcelDataSource.discover(path)))

  override def initialOffset(): Offset = ExcelOffset(Seq.empty)

  override def latestOffset(): Offset =
    frozen.getOrElse(ExcelOffset(ExcelDataSource.discover(path)))

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): whole
  // files are the admission unit — no finer read limit applies
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val done = start.asInstanceOf[ExcelOffset].files.toSet
    end.asInstanceOf[ExcelOffset].files.filterNot(done)
      .map(ExcelPartition.apply).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelReaderFactory(schema)

  override def deserializeOffset(json: String): Offset = ExcelOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class ExcelPartition(path: String) extends InputPartition

class ExcelReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[ExcelPartition].path
    new PartitionReader[InternalRow] {
      // incremental pull — constant memory regardless of sheet size
      private val stream = new ExcelDataSource.RowStream(path)
      // skip the header row, like the reference (tasks/spider.go:45)
      if (stream.hasNext) stream.next()
      private var current: Vector[String] = _
      override def next(): Boolean = {
        if (stream.hasNext) { current = stream.next(); true } else false
      }
      override def get(): InternalRow = {
        val vals = (0 until schema.length).map { i =>
          if (i < current.length) UTF8String.fromString(current(i)) else null
        }
        InternalRow.fromSeq(vals)
      }
      override def close(): Unit = stream.close()
    }
  }
}
