package graft.io

import java.io.{BufferedInputStream, InputStream}
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable.ArrayBuffer

/** Minimal XLSX (OOXML spreadsheet) reader — SURVEY.md §2.1 S3 / §7.2.
  *
  * The offline build has no spark-excel/POI, and the reference's only Excel
  * input is one small file read whole (`bronze_to_silver.py:52-55`), so a
  * JDK-only reader (ZipInputStream + StAX) is the right size: parses
  * `xl/sharedStrings.xml` and the first worksheet, returns rows of cell
  * strings (numbers as their raw text, shared strings resolved, inline
  * strings supported). Formula results come back as their cached value.
  * It reads the archive as one stream, in entry order, so the caller can
  * open it through any Hadoop `FileSystem` ([[Readers.xlsx]]).
  *
  * XXE hardened: DTDs and external entities disabled.
  */
object Xlsx {

  /** Zip-bomb guard: a crafted archive can declare a tiny compressed entry
    * that inflates without bound (the sizes the archive declares are
    * attacker-controlled and therefore NOT trusted) — so the DECOMPRESSED
    * stream itself is metered and the parse aborts past `cap` bytes
    * instead of exhausting driver memory. */
  private def bounded(in: java.io.InputStream, cap: Long, what: String): java.io.InputStream =
    new java.io.FilterInputStream(in) {
      private var n = 0L
      private def bump(k: Long): Unit = if (k > 0) {
        n += k
        if (n > cap) throw new IllegalArgumentException(
          s"$what inflates past $cap bytes — refusing to parse (zip-bomb guard)")
      }
      override def read(): Int = { val b = super.read(); if (b >= 0) bump(1); b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val k = super.read(b, off, len); bump(k.toLong); k
      }
      override def skip(k: Long): Long = { val s = super.skip(k); bump(s); s }
    }

  private def xml(in: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(in)
  }

  /** Column letter(s) of an A1-style cell ref → 0-based column index. */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def sharedStrings(r: XMLStreamReader): IndexedSeq[String] = {
    val out = ArrayBuffer.empty[String]
    var inSi = false
    val sb = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            case "t" if inSi => sb.append(r.getElementText)
            case _ =>
          }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "si" =>
          out += sb.result(); inSi = false
        case _ =>
      }
    }
    r.close()
    out.toIndexedSeq
  }

  /** A worksheet cell: its column and its text. A shared-string cell holds
    * its index into the shared-string table, which may come later in the
    * archive. */
  private final case class Cell(col: Int, text: String, shared: Boolean)

  /** The rows of a worksheet, in order. */
  private def sheetRows(r: XMLStreamReader): Seq[ArrayBuffer[Cell]] = {
    val rows = ArrayBuffer.empty[ArrayBuffer[Cell]]
    var row: ArrayBuffer[Cell] = null
    var cellType = ""
    var cellCol = 0
    var inV = false
    var inIs = false
    val v = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => row = ArrayBuffer.empty
            case "c" =>
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex)
                .getOrElse(if (row.isEmpty) 0 else row.last.col + 1)
            case "v" => inV = true; v.clear()
            case "is" => inIs = true; v.clear()
            case "t" if inIs => v.append(r.getElementText)
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inV =>
          v.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "row" => if (row != null) { rows += row; row = null }
            case "v" =>
              inV = false
              val raw = v.result()
              val cell = cellType match {
                case "s" => Cell(cellCol, raw, shared = true)
                case "b" => Cell(cellCol, if (raw.trim == "1") "true" else "false", shared = false)
                case _   => Cell(cellCol, raw, shared = false)
              }
              if (row != null) row += cell
            case "is" =>
              inIs = false
              if (row != null) row += Cell(cellCol, v.result(), shared = false)
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    rows.toSeq
  }

  /** Default cap on an entry's decompressed size: 64 MiB, far above any
    * legitimate single-sheet workbook this reader targets. */
  val MaxEntryBytes: Long = 1L << 26

  /** First worksheet (sheet1) of the workbook read from `in` (named `what`
    * in errors) as rows of nullable cell strings. `maxEntryBytes` caps the
    * DECOMPRESSED size of each entry parsed; a crafted archive that
    * inflates past it fails loudly instead of exhausting driver memory.
    * Reading stops once both entries are parsed; `in` is left open. */
  def readSheet(in: InputStream, what: String, maxEntryBytes: Long): Seq[Array[String]] = {
    val zip = new ZipInputStream(new BufferedInputStream(in, 1 << 16))
    var shared: Option[IndexedSeq[String]] = None
    var sheet: Option[Seq[ArrayBuffer[Cell]]] = None
    var entry = zip.getNextEntry
    while (entry != null && (shared.isEmpty || sheet.isEmpty)) {
      def parser = xml(bounded(zip, maxEntryBytes, entry.getName))
      entry.getName match {
        case "xl/sharedStrings.xml" => shared = Some(sharedStrings(parser))
        case "xl/worksheets/sheet1.xml" => sheet = Some(sheetRows(parser))
        case _ =>
      }
      entry = zip.getNextEntry
    }
    val rows = sheet.getOrElse(
      throw new IllegalArgumentException(s"$what: no xl/worksheets/sheet1.xml"))
    val strings = shared.getOrElse(IndexedSeq.empty)
    val width = if (rows.isEmpty) 0 else rows.iterator.map(rr => if (rr.isEmpty) 0 else rr.map(_.col).max + 1).max
    rows.map { rr =>
      val arr = new Array[String](width)
      rr.foreach { c =>
        if (c.col >= 0 && c.col < width)
          arr(c.col) = if (c.shared) strings.lift(c.text.trim.toInt).orNull else c.text
      }
      arr
    }
  }
}
