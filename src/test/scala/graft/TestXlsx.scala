package graft

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Hand-rolled minimal XLSX writer for test fixtures (independent of the
  * production [[graft.io.Xlsx]] reader: this writes raw OOXML strings).
  * Strings go through sharedStrings (t="s") to exercise that path; cells
  * starting with '#' are written as inline strings; numeric-looking cells
  * are plain number cells. */
object TestXlsx {

  def write(file: File, rows: Seq[Seq[Any]]): Unit = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(s: String): Int = shared.getOrElseUpdate(s, shared.size)

    def colName(i: Int): String = {
      var n = i + 1
      val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.result()
    }
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    val cellsXml = rows.zipWithIndex.map { case (r, ri) =>
      val cells = r.zipWithIndex.flatMap { case (v, ci) =>
        val ref = s"${colName(ci)}${ri + 1}"
        v match {
          case null => None
          case d: Double => Some(s"""<c r="$ref"><v>$d</v></c>""")
          case i: Int => Some(s"""<c r="$ref"><v>$i</v></c>""")
          case s: String if s.startsWith("#") =>
            Some(s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(s.drop(1))}</t></is></c>""")
          case s: String =>
            Some(s"""<c r="$ref" t="s"><v>${sharedIdx(s)}</v></c>""")
          case other => Some(s"""<c r="$ref" t="s"><v>${sharedIdx(other.toString)}</v></c>""")
        }
      }
      s"""<row r="${ri + 1}">${cells.mkString}</row>"""
    }.mkString

    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$cellsXml</sheetData></worksheet>""".stripMargin
    val sst = {
      val sis = shared.keys.map(s => s"""<si><t xml:space="preserve">${esc(s)}</t></si>""").mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">$sis</sst>""".stripMargin
    }
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin
    val wbRels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>""".stripMargin
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""".stripMargin

    file.getParentFile.mkdirs()
    val zos = new ZipOutputStream(new FileOutputStream(file))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    try {
      entry("[Content_Types].xml", contentTypes)
      entry("_rels/.rels", rels)
      entry("xl/workbook.xml", workbook)
      entry("xl/_rels/workbook.xml.rels", wbRels)
      entry("xl/sharedStrings.xml", sst)
      entry("xl/worksheets/sheet1.xml", sheet)
    } finally zos.close()
  }

  /** The school-performance fixture (FIXTURES.md A2): two schools in one LEA,
    * a duplicated schoolid, a whitespace-padded lea id, a null score, and a
    * district normalizing to NULL county. */
  def writeSchoolFixture(file: File): Unit = write(file, Seq(
    Seq("schoolid", "schoolname", "systemid", "systemname", "single_score_23", "unused"),
    Seq(1001, "School A", 601, "Fulton County", 85.5, "z"),
    Seq(1002, "School B", 601, "Fulton County", 78.5, "z"),
    Seq(1002, "School B Annex", 601, "Fulton County", null, "z"),
    Seq(2001, "School C", 602, "DeKalb County", 90.25, "z"),
    Seq(3001, "School D", "# 603 ", "#Cobb County, Georgia", 70.0, "z"),
    Seq(5001, "School F", 605, "DeKalb County", 80.0, "z"),
    Seq(4001, "School E", 604, "Zero District", 66.0, "z"),
    Seq(6001, "School G", 606, "#, Georgia", 50.0, "z")))

  /** The first worksheet of `file`, read through the production reader's
    * stream overload. */
  def read(file: File, maxEntryBytes: Long = graft.io.Xlsx.MaxEntryBytes): Seq[Array[String]] = {
    val in = new FileInputStream(file)
    try graft.io.Xlsx.readSheet(in, file.toString, maxEntryBytes) finally in.close()
  }
}
