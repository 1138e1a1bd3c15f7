package graft

import graft.io.{ConfigReader, Xlsx}

/** The original reference workbooks (dg_test_*_configuration.xlsx,
  * study_configuration.xlsx) must parse to EXACTLY the specs the
  * transcribed CSV fixtures produce — proving both that the xlsx
  * front-end is faithful and that the fixture transcription was.
  */
class XlsxSpec extends SparkSpec {

  private val refStudy = "/root/reference/study_configuration.xlsx"

  test("colIndex decodes column letters") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("B7") == 1)
    assert(Xlsx.colIndex("Z2") == 25)
    assert(Xlsx.colIndex("AA10") == 26)
    assert(Xlsx.colIndex("AB3") == 27)
  }

  test("workbook sheets read with shared strings and gaps as empty cells") {
    val sheets = Xlsx.sheets("/root/reference/dg_test_last_contact_configuration.xlsx")
    assert(sheets.keySet == Set("GET_DATA", "DF_OPERATIONS"))
    val gd = sheets("GET_DATA")
    assert(gd.head.take(2) == Seq("Object Name", "Data Source"))
    // row 2 of GET_DATA has no Filter cell — the grid pads it empty
    val maps = Xlsx.headerMaps(gd)
    assert(maps.nonEmpty && maps.forall(_.contains("Object Name")))
  }

  test("synthetic workbook: inline strings, numeric cells, gaps, no sharedStrings part") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft_xlsx", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    // row 2: gap at B (no cell), numeric at C; row 3: cell without r= (sequential)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c><c r="B1" t="inlineStr"><is><t>h2</t></is></c><c r="C1" t="inlineStr"><is><t>h3</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c><c r="C2"><v>42</v></c></row>
        |<row r="3"><c t="inlineStr"><is><t>seq</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val sheets = Xlsx.sheets(path.toString)
    assert(sheets.keySet == Set("S1"))
    val grid = sheets("S1")
    assert(grid(0) == Seq("h1", "h2", "h3"))
    assert(grid(1) == Seq("x", "", "42")) // B2 gap is empty, C2 numeric raw text
    assert(grid(2) == Seq("seq")) // r-less cell lands at the next index
    val maps = Xlsx.headerMaps(grid)
    assert(maps(0) == Map("h1" -> "x", "h3" -> "42")) // empty cells absent
    assert(maps(1) == Map("h1" -> "seq"))
  }

  test("shared-string phonetic runs (rPh furigana) are not cell text") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft_xlsx_rph", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>""".stripMargin)
    // si 0: rich run + phonetic run (Japanese Excel furigana); si 1: plain
    put("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><r><t>値</t></r><rPh sb="0" eb="1"><t>あたい</t></rPh><phoneticPr fontId="1"/></si>
        |<si><t>plain</t></si></sst>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>
        |<c r="C1" t="inlineStr"><is><r><t>in</t></r><rPh sb="0" eb="1"><t>イン</t></rPh></is></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val grid = Xlsx.sheets(path.toString)("S1")
    // openpyxl/pandas parity: furigana excluded from both shared and
    // inline strings; a descendant <t> walk would read "値あたい"
    assert(grid(0) == Seq("値", "plain", "in"))
  }

  test("readAnalyteXlsx skips a blank leftover sheet instead of dying on empty.head") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = java.nio.file.Files.createTempFile("graft_xlsx_blank", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="GET_DATA" sheetId="1" r:id="rId1"/>
        |<sheet name="DF_OPERATIONS" sheetId="2" r:id="rId2"/>
        |<sheet name="Sheet1" sheetId="3" r:id="rId3"/></sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |<Relationship Id="rId3" Type="t" Target="worksheets/sheet3.xml"/></Relationships>""".stripMargin)
    def headerOnly(cols: Seq[String]): String = {
      val cells = cols.zipWithIndex.map { case (h, i) =>
        s"""<c r="${('A' + i).toChar}1" t="inlineStr"><is><t>$h</t></is></c>"""
      }.mkString
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1">$cells</row></sheetData></worksheet>"""
    }
    put("xl/worksheets/sheet1.xml", headerOnly(Seq("Object Name", "Data Source", "View")))
    put("xl/worksheets/sheet2.xml", headerOnly(Seq("Object Name", "Operation", "Parameters")))
    // Excel's default leftover blank sheet: no rows at all
    put("xl/worksheets/sheet3.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData/></worksheet>""")
    zos.close()
    val spec = ConfigReader.readAnalyteXlsx("t", path.toString)
    assert(spec.decisionTables.isEmpty) // blank sheet skipped, not a crash
    assert(spec.getData.isEmpty && spec.operations.isEmpty)
  }

  test("original reference workbooks parse to the transcribed fixture specs") {
    val fromXlsx = ConfigReader.readStudyXlsx(refStudy)
    val fromCsv = ConfigReader.readStudy(spark, Fixtures.path("clinical_study"))
    assert(fromXlsx.studyCode == fromCsv.studyCode)
    assert(fromXlsx.stitchKey == fromCsv.stitchKey)
    assert(fromXlsx.analytes.map(_.name) == fromCsv.analytes.map(_.name))
    fromXlsx.analytes.zip(fromCsv.analytes).foreach { case (x, c) =>
      assert(x.getData == c.getData, s"analyte ${x.name}: GET_DATA differs")
      assert(x.operations == c.operations, s"analyte ${x.name}: DF_OPERATIONS differs")
      assert(x.decisionTables == c.decisionTables, s"analyte ${x.name}: decision tables differ")
    }
  }
}
