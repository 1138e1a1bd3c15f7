package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.io.{ConfigReader, Xlsx}
import graft.model._

/** Generative differential for the CONFIG PLANE's binary parser —
  * the one parser that, before this suite, only saw the 8 fixed
  * reference workbooks (XlsxSpec). Random study configurations are
  * rendered to REAL .xlsx bytes (zip + OOXML XML, written by the
  * test's own independent writer) with randomized ENCODING choices —
  * shared strings (plain / rich-run / rich-run + phonetic `rPh`
  * noise), inline strings (plain / rich), raw number cells, boolean
  * cells, formula-cached `t="str"` cells, explicit vs sequential cell
  * refs, omitted vs emitted empty cells, absolute vs relative
  * workbook-rel targets — and read back two independent ways:
  *
  *   1. grid level: `Xlsx.sheets` vs the generated grid (padded
  *      comparison — the writer may legally omit trailing empties);
  *   2. config level: `ConfigReader.readStudyXlsx` over the workbook
  *      files vs `ConfigReader.readStudy` over a CSV-sheet twin of
  *      the SAME model (two fully disjoint parse paths: this xlsx
  *      reader vs Spark's CSV reader) vs a direct in-memory
  *      reimplementation of the spec-mapping rules (so a bug shared
  *      by both readers' common tail still fails).
  *
  * Generation constraints keep parity honest, not easy: values
  * include XML-escapables (& < >), unicode, commas (quoted on the
  * CSV side), numeric-looking strings with leading zeros; values are
  * pre-trimmed because the CSV reader cannot represent a newline and
  * the spec builders trim anyway (documented CSV-pathway limits, not
  * parser bugs).
  */
class ConfigDifferentialSpec extends SparkSpec {

  // ===== model =====

  private case class MSheet(name: String, header: Vector[String], rows: Vector[Vector[String]]) {
    def rowMaps: Vector[Map[String, String]] = rows.map { r =>
      header.zipWithIndex.collect {
        case (h, i) if h.nonEmpty && i < r.length && r(i).nonEmpty => h -> r(i)
      }.toMap
    }
  }
  private case class MAnalyte(name: String, getData: MSheet, ops: MSheet,
      tables: Vector[MSheet], blankSheets: Vector[String])
  private case class MStudy(code: String, stitch: Option[String], analytes: Vector[MAnalyte])

  // ===== generators =====

  private val ident: Gen[String] = for {
    h <- Gen.alphaChar
    n <- Gen.choose(2, 7)
    t <- Gen.listOfN(n, Gen.alphaNumChar)
  } yield (h :: t).mkString

  private val weirdChars = " _-.:;()[]#@!?+*/=<>&éß漢"
  private val cellChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    3 -> Gen.oneOf(weirdChars.toSeq))
  private val freeText: Gen[String] = for {
    n <- Gen.choose(1, 14)
    cs <- Gen.listOfN(n, cellChar)
    s = cs.mkString.trim
    if s.nonEmpty
  } yield s
  private val numericText: Gen[String] = Gen.oneOf(
    Gen.choose(-9999, 9999).map(_.toString),
    Gen.choose(0, 999).flatMap(a => Gen.choose(0, 99).map(b => s"$a.$b")),
    Gen.choose(1, 99).map(n => "00" + n)) // leading zeros must survive as text
  private val cellValue: Gen[String] = Gen.frequency(
    5 -> freeText, 2 -> numericText, 1 -> Gen.const("0"), 1 -> Gen.const("1"),
    2 -> Gen.const(""))

  private def distinctIdents(n: Int, taboo: Set[String]): Gen[Vector[String]] =
    Gen.listOfN(n * 3, ident).map(_.distinct.filterNot(taboo).take(n).toVector)
      .suchThat(_.size == n)

  /** A sheet with the given required columns (shuffled), optional junk
    * columns, and per-row values from `rowGen(col)`.
    */
  private def sheetGen(name: String, required: Vector[String], nRows: Gen[Int],
      rowGen: String => Gen[String]): Gen[MSheet] = for {
    nJunk <- Gen.choose(0, 2)
    junk <- distinctIdents(nJunk, required.toSet)
    header <- shuffle(required ++ junk)
    n <- nRows
    rows <- Gen.listOfN(n, Gen.sequence[Vector[String], String](header.map(rowGen)))
  } yield MSheet(name, header, rows.toVector)

  private def shuffle[A](xs: Vector[A]): Gen[Vector[A]] =
    Gen.listOfN(xs.size, Gen.choose(0L, Long.MaxValue)).map(ks =>
      xs.zip(ks).sortBy(_._2).map(_._1))

  private val getDataGen: Gen[MSheet] = sheetGen(
    "GET_DATA",
    Vector("Object Name", "Data Source", "study_code", "View", "Column", "Filter", "Distinct"),
    Gen.choose(0, 5),
    {
      case "Object Name" => ident // required by the readers — always present
      case "Data Source" => Gen.frequency(
        2 -> Gen.const(""),
        2 -> Gen.oneOf("analyte", "Analyte", "ANALYTE"),
        2 -> Gen.oneOf("parquet", "Parquet"),
        2 -> Gen.oneOf("store", "s3", "dynamo"))
      case "Column" => Gen.frequency(
        2 -> Gen.const(""),
        3 -> Gen.choose(1, 3).flatMap(k =>
          Gen.listOfN(k, ident).map(_.mkString(", "))))
      case "Distinct" => Gen.oneOf("", "Y", "y", "N", "no", "yes")
      case "Filter" => Gen.frequency(2 -> Gen.const(""), 3 -> freeText)
      case _ => cellValue // study_code, View, junk
    })

  private val opsGen: Gen[MSheet] = sheetGen(
    "DF_OPERATIONS",
    Vector("Object Name", "Type", "Data Frames", "Condition"),
    Gen.choose(0, 4),
    {
      case "Type" => ident // keep rows visibly non-empty on both paths
      case "Data Frames" => Gen.frequency(
        2 -> Gen.const(""),
        3 -> Gen.choose(1, 3).flatMap(k =>
          Gen.listOfN(k, ident).map(_.mkString(","))))
      case _ => cellValue
    })

  private def tableGen(name: String): Gen[MSheet] = for {
    lookup <- ident.suchThat(_ != "output")
    outFirst <- Gen.oneOf(true, false)
    sheet <- sheetGen(name,
      if (outFirst) Vector("output", lookup) else Vector(lookup, "output"),
      Gen.choose(0, 4), _ => cellValue)
  } yield sheet

  private val analyteGen: Gen[(String, String) => MAnalyte] = for {
    gd <- getDataGen
    ops <- opsGen
    nTab <- Gen.choose(0, 2)
    tabNames <- distinctIdents(nTab + 1, Set("GET_DATA", "DF_OPERATIONS", "output"))
    tabs <- Gen.sequence[Vector[MSheet], MSheet](tabNames.take(nTab).map(tableGen))
    blank <- Gen.oneOf(true, false)
  } yield (name: String, _: String) =>
    MAnalyte(name, gd, ops, tabs,
      if (blank) Vector(tabNames.last) else Vector.empty)

  private val studyGen: Gen[MStudy] = for {
    code <- Gen.frequency(3 -> ident, 1 -> Gen.const(""))
    stitch <- Gen.option(ident)
    n <- Gen.choose(1, 3)
    names <- distinctIdents(n, Set.empty)
    mk <- Gen.sequence[Vector[(String, String) => MAnalyte], (String, String) => MAnalyte](
      Vector.fill(n)(analyteGen))
  } yield MStudy(code, stitch, names.zip(mk).map { case (nm, f) => f(nm, "") })

  // ===== the independent xlsx writer =====

  private def esc(s: String) =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  private def tEl(s: String) = s"""<t xml:space="preserve">${esc(s)}</t>"""

  private def colRef(i: Int): String = {
    var n = i + 1; val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** Writes a workbook whose sheets are `grids` (in order), choosing a
    * random legal OOXML encoding for every cell. Returns nothing the
    * parser could cheat from — only bytes on disk.
    */
  private def writeXlsx(path: Path, grids: Seq[(String, Vector[Vector[String]])],
      rnd: scala.util.Random): Unit = {
    val shared = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def sharedIdx(si: String): Int = shared.getOrElseUpdate(si, shared.size)

    def cellXml(refAttr: String, v: String): String = {
      if (v.isEmpty) return s"<c$refAttr/>"
      val numericOk = v.matches("-?\\d+(\\.\\d+)?")
      val boolOk = v == "0" || v == "1"
      val choice = rnd.nextInt(if (numericOk) 8 else if (boolOk) 7 else 6)
      choice match {
        case 0 => // shared, plain
          s"""<c$refAttr t="s"><v>${sharedIdx(s"<si>${tEl(v)}</si>")}</v></c>"""
        case 1 => // shared, rich runs
          val k = 1 + rnd.nextInt(v.length)
          val si = s"<si><r>${tEl(v.take(k))}</r><r>${tEl(v.drop(k))}</r></si>"
          s"""<c$refAttr t="s"><v>${sharedIdx(si)}</v></c>"""
        case 2 => // shared, rich run + phonetic noise the parser must drop
          val si = s"""<si><r>${tEl(v)}</r><rPh sb="0" eb="1">${tEl("フリガナ")}</rPh></si>"""
          s"""<c$refAttr t="s"><v>${sharedIdx(si)}</v></c>"""
        case 3 => // inline, plain
          s"""<c$refAttr t="inlineStr"><is>${tEl(v)}</is></c>"""
        case 4 => // inline, rich runs
          val k = 1 + rnd.nextInt(v.length)
          s"""<c$refAttr t="inlineStr"><is><r>${tEl(v.take(k))}</r><r>${tEl(v.drop(k))}</r></is></c>"""
        case 5 => // formula with cached string value — read by the cache
          s"""<c$refAttr t="str"><f>CONCATENATE(A1,"x")</f><v>${esc(v)}</v></c>"""
        case 6 if !numericOk => // boolean cell (v is "0"/"1")
          s"""<c$refAttr t="b"><v>$v</v></c>"""
        case _ => // raw number cell (leading zeros/decimals kept as text)
          s"<c$refAttr><v>${esc(v)}</v></c>"
      }
    }

    def rowXml(rowIdx: Int, cells: Vector[String]): String = {
      val rAttr = if (rnd.nextBoolean()) s""" r="${rowIdx + 1}"""" else ""
      val lastNonEmpty = cells.lastIndexWhere(_.nonEmpty)
      val body =
        if (rnd.nextBoolean()) {
          // explicit refs: empty cells usually omitted, sometimes kept
          cells.zipWithIndex.collect {
            case (v, i) if v.nonEmpty || rnd.nextInt(5) == 0 =>
              cellXml(s""" r="${colRef(i)}${rowIdx + 1}"""", v)
          }.mkString
        } else {
          // no refs: strictly sequential cells up to the last non-empty
          cells.take(lastNonEmpty + 1).map(cellXml("", _)).mkString
        }
      s"<row$rAttr>$body</row>"
    }

    val sheetXmls = grids.zipWithIndex.map { case ((_, grid), i) =>
      val rows = grid.zipWithIndex.map { case (r, ri) => rowXml(ri, r) }.mkString
      (s"xl/worksheets/sheet${i + 1}.xml",
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$rows</sheetData></worksheet>"""
          .stripMargin)
    }

    // rel ids deliberately NOT in sheet order; target form randomized
    val relIds = rnd.shuffle((1 to grids.size).toVector).map(n => s"rId$n")
    val rels = grids.indices.map { i =>
      val target =
        if (rnd.nextBoolean()) s"worksheets/sheet${i + 1}.xml"
        else s"/xl/worksheets/sheet${i + 1}.xml"
      s"""<Relationship Id="${relIds(i)}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="$target"/>"""
    }.mkString
    val sheetsXml = grids.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="${relIds(i)}"/>"""
    }.mkString

    val entries = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    entries += "[Content_Types].xml" ->
      (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""".stripMargin +
        grids.indices.map(i =>
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        (if (shared.nonEmpty) """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" else "") +
        "</Types>")
    entries += "_rels/.rels" ->
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""".stripMargin
    entries += "xl/workbook.xml" ->
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>$sheetsXml</sheets></workbook>""".stripMargin
    entries += "xl/_rels/workbook.xml.rels" ->
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rels</Relationships>""".stripMargin
    if (shared.nonEmpty) entries += "xl/sharedStrings.xml" ->
      (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${shared.size}" uniqueCount="${shared.size}">""".stripMargin +
        shared.keys.mkString + "</sst>")
    entries ++= sheetXmls

    val zos = new ZipOutputStream(Files.newOutputStream(path))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  // ===== the CSV twin writer =====

  private def csvField(s: String): String =
    if (s.contains(",")) "\"" + s + "\"" else s // alphabet excludes '"'

  private def writeCsv(path: Path, header: Vector[String], rows: Vector[Vector[String]]): Unit = {
    val lines = (header +: rows.map(r => r.padTo(header.size, "")))
      .map(_.map(csvField).mkString(","))
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  // ===== the in-memory spec model (independent reimplementation) =====

  private def mGetData(rows: Seq[Map[String, String]]): Seq[GetDataSpec] = rows.map { r =>
    def g(k: String) = r.get(k).map(_.trim).filter(_.nonEmpty)
    val obj = g("Object Name").get
    val view = g("View").getOrElse(obj)
    val source = g("Data Source").map(_.toLowerCase) match {
      case Some("analyte") => SourceKind.AnalyteRef
      case Some("parquet") => SourceKind.ParquetTable(view)
      case _ => SourceKind.StoreView(g("study_code").getOrElse(""), view)
    }
    GetDataSpec(
      objectName = if (source == SourceKind.AnalyteRef) obj else view,
      source = source,
      columns = g("Column").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      filter = g("Filter"),
      distinct = g("Distinct").exists(_.equalsIgnoreCase("Y")))
  }

  private def mOps(rows: Seq[Map[String, String]]): Seq[OperationSpec] = rows.map { r =>
    def g(k: String) = r.get(k).map(_.trim).filter(_.nonEmpty)
    OperationSpec(g("Object Name").getOrElse(""), g("Type").getOrElse(""),
      g("Data Frames").map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      g("Condition").getOrElse(""))
  }

  private def mTable(s: MSheet): DecisionTable = {
    val outIdx = s.header.indexOf("output")
    DecisionTable(s.name, s.rows.map(r =>
      (r.headOption.getOrElse(""), if (outIdx < r.length) r(outIdx) else "")))
  }

  private def mAnalyte(a: MAnalyte): AnalyteSpec =
    AnalyteSpec(a.name, mGetData(a.getData.rowMaps), mOps(a.ops.rowMaps),
      a.tables.map(t => t.name -> mTable(t)).toMap)

  private def mStudy(s: MStudy): StudySpec =
    StudySpec(s.code, s.analytes.map(mAnalyte), s.stitch.getOrElse("subject"))

  // ===== properties =====

  private val cases: Int =
    sys.env.getOrElse("GRAFT_CONFIG_DIFF_CASES", "60").toInt

  test("driver-side config CSV parse == Spark CSV reader, every fixture sheet") {
    // the r19 driver-side univocity parse against the Spark reader it
    // replaced, over EVERY fixture CSV in the repo — study sheets,
    // GET_DATA/DF_OPERATIONS, decision tables, curation recipes
    // (quoted cells with commas), SAS manifests: same header, same
    // row maps, same null/missing treatment
    val csvs = scala.util.Using.resource(
        Files.walk(java.nio.file.Paths.get("fixtures"))) { s =>
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".csv")).map(_.toString).toList
    }
    assert(csvs.size > 20, s"expected the fixture sheets, found ${csvs.size}")
    csvs.foreach { p =>
      val nat = ConfigReader.readSheet(spark, p)
      val ref = ParityRefs.readSheetSpark(spark, p)
      assert(nat == ref, s"$p: driver parse $nat != spark $ref")
    }
    // decision-table face on every sheet that has an 'output' column
    csvs.filter(_.contains("/tables/")).foreach { p =>
      val nat = ConfigReader.readDecisionTable(spark, p, "t")
      val ref = ParityRefs.readDecisionTableSpark(spark, p, "t")
      assert(nat == ref, s"$p: decision table ${nat.mapping} != ${ref.mapping}")
    }
    // recipe face: single-file driver-side parse == the Spark reader
    // path it bypasses, stage-for-stage (quoted params with commas)
    import graft.llm.CurationPipeline
    csvs.filter(_.contains("curation_demo")).foreach { p =>
      val nat = CurationPipeline.readRecipe(spark, p)
      val ref = ParityRefs.readRecipeSpark(spark, p)
      assert(nat == ref, s"$p: recipe $nat != $ref")
    }
  }

  test("xlsx grids round-trip: Xlsx.sheets == generated grid under every cell encoding") {
    val gridGen: Gen[(Vector[(String, Vector[Vector[String]])], Long)] = for {
      n <- Gen.choose(1, 3)
      names <- distinctIdents(n, Set.empty)
      grids <- Gen.sequence[Vector[Vector[Vector[String]]], Vector[Vector[String]]](
        Vector.fill(n)(for {
          // widths past 26 exercise multi-letter cell refs (AA1, AB1)
          w <- Gen.frequency(4 -> Gen.choose(1, 5), 1 -> Gen.choose(26, 30))
          h <- Gen.choose(0, 5)
          rows <- Gen.listOfN(h, Gen.listOfN(w, cellValue).map(_.toVector))
        } yield rows.toVector))
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (names.zip(grids), seed)

    val prop = Prop.forAll(gridGen) { case (grids, seed) =>
      val dir = Files.createTempDirectory("graft_xlsxdiff_")
      try {
        val wb = dir.resolve("t.xlsx")
        writeXlsx(wb, grids, new scala.util.Random(seed))
        val got = Xlsx.sheets(wb.toString).toVector
        def pad(rows: Seq[Seq[String]], w: Int, h: Int): Vector[Vector[String]] =
          rows.map(_.padTo(w, "").toVector).toVector.padTo(h, Vector.fill(w)(""))
        val ok = got.map(_._1) == grids.map(_._1) &&
          got.zip(grids).forall { case ((_, g), (_, e)) =>
            val w = (g.map(_.size) ++ e.map(_.size) :+ 0).max
            val h = math.max(g.size, e.size)
            pad(g, w, h) == pad(e, w, h)
          }
        if (!ok) println(s"seed=$seed\nexpected=$grids\ngot=$got")
        ok
      } finally deleteRec(dir)
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(r.passed, r.status.toString)
  }

  test("config plane differential: readStudyXlsx == readStudy(CSV twin) == in-memory model") {
    val gen = for { s <- studyGen; seed <- Gen.choose(Long.MinValue, Long.MaxValue) } yield (s, seed)
    val prop = Prop.forAll(gen) { case (study, seed) =>
      val rnd = new scala.util.Random(seed)
      val xDir = Files.createTempDirectory("graft_cfgx_")
      val cDir = Files.createTempDirectory("graft_cfgc_")
      try {
        // study sheet: same logical rows; Config differs by pathing
        // convention only (workbook file vs subdirectory)
        val stitchCol = study.stitch.map(_ => Vector("stitch_key")).getOrElse(Vector.empty)
        val header = Vector("study_code", "Analyte", "Config") ++ stitchCol
        def studyRows(cfg: Int => String) = study.analytes.zipWithIndex.map { case (a, i) =>
          Vector(study.code, a.name, cfg(i)) ++ study.stitch.map(Vector(_)).getOrElse(Vector.empty)
        }
        writeXlsx(xDir.resolve("study.xlsx"),
          Seq("General" -> (header +: studyRows(i => s"cfg$i.xlsx"))), rnd)
        writeCsv(cDir.resolve("study.csv"), header, studyRows(i => s"cfg$i"))

        study.analytes.zipWithIndex.foreach { case (a, i) =>
          val grids: Seq[(String, Vector[Vector[String]])] =
            rnd.shuffle(
              Seq(a.getData, a.ops).map(s => s.name -> (s.header +: s.rows)) ++
                a.tables.map(t => t.name -> (t.header +: t.rows)) ++
                a.blankSheets.map(_ -> Vector.empty[Vector[String]]))
          writeXlsx(xDir.resolve(s"cfg$i.xlsx"), grids, rnd)
          writeCsv(cDir.resolve(s"cfg$i/GET_DATA.csv"), a.getData.header, a.getData.rows)
          writeCsv(cDir.resolve(s"cfg$i/DF_OPERATIONS.csv"), a.ops.header, a.ops.rows)
          a.tables.foreach(t =>
            writeCsv(cDir.resolve(s"cfg$i/tables/${t.name}.csv"), t.header, t.rows))
        }

        val fromXlsx = ConfigReader.readStudyXlsx(xDir.resolve("study.xlsx").toString)
        val fromCsv = ConfigReader.readStudy(spark, cDir.toString)
        val model = mStudy(study)
        val ok = fromXlsx == model && fromCsv == model
        if (!ok) {
          println(s"seed=$seed\nmodel=$model\nxlsx =$fromXlsx\ncsv  =$fromCsv")
        }
        ok
      } finally { deleteRec(xDir); deleteRec(cDir) }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), prop)
    assert(r.passed, r.status.toString)
  }

  private def deleteRec(p: Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
}
