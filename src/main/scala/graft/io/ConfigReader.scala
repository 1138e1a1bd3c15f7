package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

import graft.model._
import graft.parse.KvList

/** S4 config reader: the pipeline-spec control plane
  * (read_config / read_study_config / read_config_sheet,
  * Configurable_ETL_Python.py:22-26, 606-612). The reference reads
  * Excel workbooks from S3; we read a directory of CSV "sheets" with
  * the SAME columns (SURVEY §7.1 sanctions the swap — the fields, not
  * the file format, are the contract):
  *
  * {{{
  * <studyDir>/study.csv                     — study_code,Analyte,Config
  * <studyDir>/<Config>/GET_DATA.csv         — Object Name,Data Source,study_code,View,Column,Filter,Distinct
  * <studyDir>/<Config>/DF_OPERATIONS.csv    — Object Name,Type,Data Frames,Condition
  * <studyDir>/<Config>/tables/<NAME>.csv    — decision tables (lookup col + 'output')
  * }}}
  *
  * The driver-side parse ([[parseCsvRows]]) handles the quoting
  * (cells legitimately contain commas — column lists, conditions);
  * specs are worksheet-sized, so parsing them on the driver IS the
  * config plane, not a data path. Every path goes through the path's
  * Hadoop `FileSystem`, so a local path, a `file:` URI and a remote
  * store read the same way.
  */
object ConfigReader {

  /** Parse one worksheet-sized config CSV ON THE DRIVER with the same
    * parser Spark's CSV source runs underneath (univocity, a spark-sql
    * dependency), configured to Spark's read defaults: ',' delimiter,
    * '"' quote, '\' escape, comments disabled, whitespace kept, empty
    * lines skipped, missing/empty fields null (Spark's string columns
    * cannot distinguish quoted-empty from null either — both read
    * null under the default nullValue). Every `spark.read.csv` of a
    * config sheet cost TWO Spark jobs (header pass + collect) — 12 of
    * engine_study's 19 jobs were these fixed-cost config reads. The
    * file opens through its Hadoop `FileSystem` (the one
    * [[Sas.readMeta]] uses). ConfigDifferentialSpec keeps the
    * Spark-reader forms as PARITY REFERENCES and pins this parse
    * row-for-row against them over every fixture CSV; the
    * study/engine consumers are oracle-gated.
    */
  private[graft] def parseCsvRows(
      spark: SparkSession, path: String): (Seq[String], Seq[Array[String]]) = {
    val settings = new com.univocity.parsers.csv.CsvParserSettings
    settings.getFormat.setDelimiter(',')
    settings.getFormat.setQuote('"')
    settings.getFormat.setQuoteEscape('\\')
    settings.getFormat.setComment('\u0000') // comments disabled, the Spark read default
    settings.setIgnoreLeadingWhitespaces(false)
    settings.setIgnoreTrailingWhitespaces(false)
    settings.setSkipEmptyLines(true)
    settings.setLineSeparatorDetectionEnabled(true)
    val parser = new com.univocity.parsers.csv.CsvParser(settings)
    val p = new Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val all = scala.util.Using.resource(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8)) { r =>
      parser.parseAll(r).asScala.toSeq
    }
    require(all.nonEmpty, s"empty csv config: $path")
    val header = all.head.toSeq.zipWithIndex.map {
      case (c, i) => Option(c).getOrElse(s"_c$i") // Spark's null-header fallback
    }
    (header, all.tail)
  }

  /** The files a config path names, sorted by path: the matches of a
    * glob, the visible files of a directory (not its subdirectories,
    * and not the names Spark's file listing skips — `_SUCCESS`,
    * `.crc` files, `._COPYING_`), or the file itself; empty when
    * nothing matches. One driver-side listing, zero Spark jobs. A path
    * without glob characters skips Hadoop's globber (Spark's
    * `isGlobPath` test), which costs about 0.7 ms per call on a local
    * disk against 0.03 ms for one status lookup.
    */
  private[graft] def listFiles(spark: SparkSession, path: String): Seq[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched =
      if (path.exists("{}[]*?\\".contains(_))) Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      else try Seq(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => Nil }
    matched.flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filter(c => c.isFile && !FooterSchema.hidden(c.getPath.getName))
      else Seq(st)
    }.map(_.getPath).sortBy(_.toString)
  }

  /** One config sheet: its header, and per row the non-null cells
    * keyed by column name.
    */
  private[graft] def readHeadedSheet(
      spark: SparkSession, path: String): (Seq[String], Seq[Map[String, String]]) = {
    val (cols, rows) = parseCsvRows(spark, path)
    (cols, rows.map { r =>
      cols.zipWithIndex.collect {
        case (c, i) if i < r.length && r(i) != null => c -> r(i)
      }.toMap
    })
  }

  private[graft] def readSheet(spark: SparkSession, path: String): Seq[Map[String, String]] =
    readHeadedSheet(spark, path)._2

  private def get(row: Map[String, String], key: String): Option[String] =
    row.get(key).map(_.trim).filter(_.nonEmpty)

  def readGetData(spark: SparkSession, path: String): Seq[GetDataSpec] =
    getDataFromRows(readSheet(spark, path))

  private def getDataFromRows(rows: Seq[Map[String, String]]): Seq[GetDataSpec] =
    rows.map { r =>
      val objName = get(r, "Object Name").getOrElse(
        throw new IllegalArgumentException(s"GET_DATA row without Object Name: $r"))
      val view = get(r, "View").getOrElse(objName)
      val source = get(r, "Data Source").map(_.toLowerCase) match {
        case Some("analyte") => SourceKind.AnalyteRef
        case Some("parquet") => SourceKind.ParquetTable(view)
        case _ => SourceKind.StoreView(get(r, "study_code").getOrElse(""), view)
      }
      // store rows bind by View, analyte refs by Object Name —
      // mirroring globals()[View] at :447 vs :442-444.
      val bindName = source match {
        case SourceKind.AnalyteRef => objName
        case _ => view
      }
      GetDataSpec(
        objectName = bindName,
        source = source,
        columns = get(r, "Column").map(KvList.csv).getOrElse(Nil),
        filter = get(r, "Filter"),
        distinct = get(r, "Distinct").exists(_.equalsIgnoreCase("Y")))
    }

  def readOperations(spark: SparkSession, path: String): Seq[OperationSpec] =
    operationsFromRows(readSheet(spark, path))

  private def operationsFromRows(rows: Seq[Map[String, String]]): Seq[OperationSpec] =
    rows.map { r =>
      OperationSpec(
        objectName = get(r, "Object Name").getOrElse(""),
        opType = get(r, "Type").getOrElse(""),
        frames = get(r, "Data Frames").map(KvList.csv).getOrElse(Nil),
        condition = get(r, "Condition").getOrElse(""))
    }

  def readDecisionTable(spark: SparkSession, path: String, name: String): DecisionTable = {
    val (cols, rows) = parseCsvRows(spark, path)
    val outIdx = cols.indexOf("output")
    require(outIdx >= 0, s"decision table $path has no 'output' column")
    val mapping = rows.map { r =>
      def at(i: Int) = if (i < r.length) Option(r(i)) else None
      (at(0).getOrElse(""), at(outIdx).getOrElse(""))
    }
    DecisionTable(name, mapping)
  }

  /** Read one analyte's config directory (the per-analyte workbook). */
  def readAnalyte(spark: SparkSession, name: String, configDir: String): AnalyteSpec = {
    val tables: Map[String, DecisionTable] =
      listFiles(spark, s"$configDir/tables").filter(_.getName.endsWith(".csv")).map { p =>
        val n = p.getName.stripSuffix(".csv")
        n -> readDecisionTable(spark, p.toString, n)
      }.toMap
    AnalyteSpec(
      name = name,
      getData = readGetData(spark, s"$configDir/GET_DATA.csv"),
      operations = readOperations(spark, s"$configDir/DF_OPERATIONS.csv"),
      decisionTables = tables)
  }

  // ===== original-workbook front-end (S4 in its native format) =====

  /** Read one analyte's ORIGINAL .xlsx workbook: GET_DATA +
    * DF_OPERATIONS sheets, every other sheet a decision table (first
    * column = lookup values, 'output' column = result) — the layout
    * of the reference's dg_test_*_configuration.xlsx workbooks.
    */
  def readAnalyteXlsx(name: String, workbookPath: String): AnalyteSpec = {
    val sheets = Xlsx.sheets(workbookPath)
    def sheet(n: String): Seq[Map[String, String]] =
      Xlsx.headerMaps(sheets.getOrElse(n,
        throw new IllegalArgumentException(s"$workbookPath: no sheet '$n'")))
    val tables = (sheets.keySet -- Set("GET_DATA", "DF_OPERATIONS")).flatMap { tn =>
      val grid = sheets(tn)
      // a leftover blank sheet (Excel's default empty 'Sheet1') is not
      // a decision table — skip it instead of dying on grid.head; a
      // NON-blank sheet without an 'output' column still fails loudly
      if (grid.isEmpty || grid.forall(_.forall(_.isEmpty))) None
      else {
        val header = grid.head
        val outIdx = header.indexOf("output")
        require(outIdx >= 0, s"$workbookPath: decision sheet '$tn' has no 'output' column")
        val mapping = grid.tail.map(row =>
          (row.headOption.getOrElse(""), if (outIdx < row.length) row(outIdx) else ""))
        Some(tn -> DecisionTable(tn, mapping))
      }
    }.toMap
    AnalyteSpec(
      name = name,
      getData = getDataFromRows(sheet("GET_DATA")),
      operations = operationsFromRows(sheet("DF_OPERATIONS")),
      decisionTables = tables)
  }

  /** Read a study from the ORIGINAL study_configuration.xlsx: rows of
    * (study_code, Analyte, Config), each Config naming an analyte
    * workbook next to the study workbook.
    */
  def readStudyXlsx(studyXlsxPath: String): StudySpec = {
    val dir = java.nio.file.Paths.get(studyXlsxPath).toAbsolutePath.getParent
    val rows = Xlsx.headerMaps(Xlsx.sheets(studyXlsxPath).values.headOption.getOrElse(
      throw new IllegalArgumentException(s"$studyXlsxPath: workbook has no sheets")))
    require(rows.nonEmpty, s"empty study sheet in $studyXlsxPath")
    val studyCode = rows.head.getOrElse("study_code", "")
    val stitchKey = rows.head.get("stitch_key").map(_.trim).filter(_.nonEmpty).getOrElse("subject")
    val analytes = rows.map { r =>
      val name = get(r, "Analyte").getOrElse(
        throw new IllegalArgumentException(s"study sheet row without Analyte: $r"))
      val wb = get(r, "Config").getOrElse(
        throw new IllegalArgumentException(s"study sheet row without Config: $r"))
      readAnalyteXlsx(name, dir.resolve(wb).toString)
    }
    StudySpec(studyCode, analytes, stitchKey)
  }

  /** Read the whole study: study.csv rows in order, each naming its
    * analyte config subdirectory (read_study_config + process_study's
    * per-row derive, :589-612).
    */
  def readStudy(spark: SparkSession, studyDir: String): StudySpec = {
    val rows = readSheet(spark, s"$studyDir/study.csv")
    require(rows.nonEmpty, s"empty study.csv in $studyDir")
    val studyCode = rows.head.getOrElse("study_code", "")
    // optional stitch_key column — the reference hard-codes 'subject'
    // (process_study join at :600); configs with other key names set it.
    val stitchKey = rows.head.get("stitch_key").map(_.trim).filter(_.nonEmpty).getOrElse("subject")
    val analytes = rows.map { r =>
      val name = get(r, "Analyte").getOrElse(
        throw new IllegalArgumentException(s"study.csv row without Analyte: $r"))
      val cfg = get(r, "Config").getOrElse(name)
      readAnalyte(spark, name, s"$studyDir/$cfg")
    }
    StudySpec(studyCode, analytes, stitchKey)
  }
}
