package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.{ParquetResolver, StudyRunner}

/** The clinical demo study: synthetic clinical-shaped source views +
  * the reference's seven real analyte configurations
  * (fixtures/clinical_study — translated verbatim from
  * study_configuration.xlsx and the dg_test_* workbooks). Used by the
  * golden test AND wired as a CORRECTNESS query: the pipeline output
  * is deterministic, so its oracle is a literal VALUES table.
  */
object ClinicalDemo {

  val studyCode = "DG001002003"

  /** (view, columns, rows) — the nested store contents. All strings,
    * like the reference's DynamoDB documents.
    */
  val views: Seq[(String, Seq[String], Seq[Seq[String]])] = Seq(
    ("ENROL", Seq("SiteGroup", "SiteNumber"), Seq(
      Seq("US", "101"), Seq("US", "102"), Seq("DE", "201"),
      Seq(null, "301"), Seq("FR", null))),
    ("IxRS", Seq("CentreNum", "ECode"), Seq(
      Seq("101", "S001"), Seq("101", "S002"), Seq("102", "S003"),
      Seq("201", "S004"), Seq("201", null))),
    ("DS", Seq("Subject", "DSSTDAT", "DSDECOD_STD"), Seq(
      Seq("S001", "10-03-2021 08:00", "C28554"),
      Seq("S003", "20-05-2021 10:00", "C28554"),
      Seq("S002", "15-04-2021 09:00", "C48227"))),
    ("DEATH", Seq("Subject", "DTH_DAT"), Seq(
      Seq("S003", "18-05-2021 12:00"))),
    ("SURVIVE", Seq("Subject", "SUR_DAT", "SURSTAT_STD"), Seq(
      Seq("S002", "20-04-2021 00:00", "2"),
      Seq("S004", "01-06-2021 00:00", "2"),
      Seq("S001", "01-01-2021 00:00", "1"))),
    ("HOSPAD", Seq("Subject", "HADMEDT", "HADMSDT"), Seq(
      Seq("S001", "05-03-2021 10:00", "01-03-2021 10:00"))),
    ("DOSEDISC", Seq("Subject", "IPDC_DAT", "IP_DISC_STD"), Seq(
      Seq("S002", "10-04-2021 00:00", "1"),
      Seq("S003", "01-05-2021 00:00", "2"))),
    ("CAPRXHC",
      Seq("Subject", "PageRepeatNumber", "CXSDAT", "CXEDAT", "TREATSTS", "CXAGNT", "CXCLASS", "CXCHERAD"),
      Seq(
        Seq("S001", "1", "2021-02-01", "2021-02-10", "setA", "agent1", "class1", "Yes"),
        Seq("S001", "2", "2021-02-20", "2021-02-25", "setA", "agent2", "class1", "No"),
        Seq("S002", "1", "2021-03-05", "2021-03-06", "setB", "agent1", "class2", "Yes"))),
    ("EX", Seq("Subject", "EXSTDAT", "EXTRT"), Seq(
      Seq("S001", "2021-02-05", "Carboplatin"),
      Seq("S002", "2021-03-01", "Paclitaxel"))),
    ("EX1", Seq("Subject", "EXSTDAT", "EXTRT"), Seq(
      Seq("S001", "2021-02-03", "Carboplatin"),
      Seq("S003", "2021-04-01", "Bevacizumab"))),
    ("DOSEDISC1", Seq("Subject", "IPDC_DAT", "SD"), Seq(
      Seq("S001", "2021-03-15", "Carboplatin"),
      Seq("S002", "2021-04-20", "Paclitaxel"))),
    ("DOSEDISC2", Seq("Subject", "IPDC_DAT", "SD"), Seq(
      Seq("S003", "2021-05-10", "Bevacizumab"))),
    ("PFU", Seq("Subject", "PFUTYP_STD", "PFUTYPSE"), Seq(
      Seq("S001", "1", "Yes"), Seq("S002", "4", "Yes"),
      Seq("S003", "2", "No"), Seq("S004", "7", "Yes"))))

  /** Build the partitioned nested store under `storeDir`. Idempotent:
    * this study's partitions are dropped first — a bare append on an
    * existing store would duplicate every view's documents on re-run.
    */
  def buildStore(spark: SparkSession, storeDir: String): Unit = {
    val studyRoot = new org.apache.hadoop.fs.Path(storeDir, s"study_code=$studyCode")
    val fs = studyRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(studyRoot)) fs.delete(studyRoot, true)
    views.foreach { case (view, cols, rows) =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 1),
        StructType(cols.map(StructField(_, StringType))))
        .withColumn("study_code", lit(studyCode)).withColumn("view", lit(view))
      NestedStore.nest(df, "study_code", "view")
        .write.mode("append").partitionBy("study_code", "view").parquet(storeDir)
    }
  }

  /** Build store + run the seven-analyte study, returning the final
    * stitched per-subject frame with its 12 contract columns.
    */
  def run(spark: SparkSession, storeDir: String,
      configDir: String = graft.Fixtures.path("clinical_study")): DataFrame =
    runStudy(spark, storeDir, ConfigReader.readStudy(spark, configDir))

  /** Same study driven by the ORIGINAL reference workbooks — no CSV
    * transcription in the path (ConfigReader.readStudyXlsx).
    */
  def runFromWorkbooks(spark: SparkSession, storeDir: String,
      studyXlsx: String = "/root/reference/study_configuration.xlsx"): DataFrame =
    runStudy(spark, storeDir, ConfigReader.readStudyXlsx(studyXlsx))

  private def runStudy(spark: SparkSession, storeDir: String,
      study: graft.model.StudySpec): DataFrame = {
    buildStore(spark, storeDir)
    StudyRunner.run(study, new ParquetResolver(spark, "/unused", Some(storeDir)))
      .select("country", "site", "subject", "subject_death", "ltfu_date",
        "last_contact_date", "last_contact_type", "subther_start_date",
        "concomitant", "all_ipdc_date", "pltfu_thresh", "pltfu_thresh_group")
  }
}
