package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner}
import graft.io.{ClinicalDemo, ConfigReader, NestedStore, Standardized}
import graft.model.SourceKind

/** The study refresh is pure plan construction plus one sink: building
  * the plan fires no Spark job, re-read analytes are served by exchange
  * reuse instead of a cache, so nothing outlives a refresh, and the
  * driver-side view and table schemas match Spark's own inference.
  */
class StudyRefreshSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val configDir = "fixtures/clinical_study"
  private val sf = "/root/testdata/sf0.001"

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def study(store: String): DataFrame =
    StudyRunner.run(ConfigReader.readStudy(spark, configDir),
      new ParquetResolver(spark, "/unused", Some(store)))

  /** One refresh as the event loop runs it: build, standardize, upsert. */
  private def refresh(store: String, out: String): Unit =
    NestedStore.upsert(
      Standardized.toStandardized(study(store), ClinicalDemo.studyCode)
        .withColumn("view", lit("standardized")), out)

  /** Jobs started while `body` runs, from any thread. Marker jobs in
    * their own job groups bracket it; listener events arrive in post
    * order, so once the closing marker is seen every job in between is.
    */
  private def jobsDuring(body: => Unit): Int = {
    val groups = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      }
    }
    def marker(g: String): Unit = {
      sc.setJobGroup(g, g)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("refresh-spec-open")
      body
      marker("refresh-spec-close")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groups.synchronized(!groups.contains("refresh-spec-close")) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      groups.synchronized {
        val open = groups.indexOf("refresh-spec-open")
        val close = groups.indexOf("refresh-spec-close")
        assert(open >= 0 && close > open, s"markers not seen in order: $groups")
        close - open - 1
      }
    } finally sc.removeSparkListener(listener)
  }

  test("leaked analyte cache: a refresh after a store upsert reads the new view") {
    val store = tmp("graft_refresh_store")
    val out = tmp("graft_refresh_out")
    // the session is shared across suites: judge only what this test adds
    spark.catalog.clearCache()
    val rddsBefore = sc.getPersistentRDDs.keySet
    ClinicalDemo.buildStore(spark, store)
    refresh(store, out)
    // a new DEATH document: S003's row kept, S004 now has a death date
    val death = Seq(("S003", "18-05-2021 12:00"), ("S004", "02-06-2021 00:00"))
      .toDF("Subject", "DTH_DAT")
      .withColumn("study_code", lit(ClinicalDemo.studyCode))
      .withColumn("view", lit("DEATH"))
    NestedStore.upsert(NestedStore.nest(death, "study_code", "view"), store)
    refresh(store, out)

    val s004 = study(store).where(col("subject") === "S004")
      .select("subject_death").distinct().collect().map(_.get(0))
    assert(s004.toSeq == Seq(Timestamp.valueOf("2021-06-02 00:00:00")))
    val rddsLeft = sc.getPersistentRDDs.keySet -- rddsBefore
    assert(rddsLeft.isEmpty, s"persisted RDDs left: $rddsLeft")
    assert(cacheEmpty, "CacheManager holds plans after the refresh")
  }

  test("building the clinical study plan fires no Spark job") {
    val store = tmp("graft_refresh_jobs")
    ClinicalDemo.buildStore(spark, store)
    // study_demo's GET_DATA rows all read `Parquet` tables
    val builds = Seq(
      "clinical_study" -> (() => study(store)),
      "study_demo" -> (() => StudyRunner.run(
        ConfigReader.readStudy(spark, "fixtures/study_demo"), new ParquetResolver(spark, sf))))
    for ((name, build) <- builds) {
      val jobs = jobsDuring(build())
      assert(jobs == 0, s"$name: readStudy + StudyRunner.run fired $jobs job(s)")
    }
  }

  test("the executed study plan scans each store read once and caches nothing") {
    val store = tmp("graft_refresh_plan")
    ClinicalDemo.buildStore(spark, store)
    val spec = ConfigReader.readStudy(spark, configDir)
    val df = StudyRunner.run(spec, new ParquetResolver(spark, "/unused", Some(store)))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // AdaptiveSparkPlanHelper walks into query stages but not behind a
    // ReusedExchange, so a scan served by reuse is not counted again.
    // Keyed by view: two GET_DATA rows may read one view under row
    // filters that apply after the `data` explode, so their scans carry
    // the same pushed filter yet feed different sub-plans.
    val scanned = collectWithSubqueries(plan) { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName).mkString(",")
    }.groupBy(identity).view.mapValues(_.size).toMap
    val storeReads = spec.analytes.flatMap(_.getData).map(_.source).collect {
      case SourceKind.StoreView(_, view) => s"view=$view"
    }.groupBy(identity).view.mapValues(_.size).toMap
    // the AnalyteRef re-reads copy whole sub-plans into the study plan;
    // exchange reuse must leave one scan per GET_DATA store row
    assert(scanned == storeReads)
    assert(collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.isEmpty)
    assert(collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.nonEmpty,
      "re-read analytes should be served by exchange reuse")
  }

  test("footer schemas equal Spark's inferred schema on every store view") {
    val store = tmp("graft_footer_views")
    ClinicalDemo.buildStore(spark, store)
    ClinicalDemo.views.foreach { case (view, _, _) =>
      val dir = s"$store/study_code=${ClinicalDemo.studyCode}/view=$view"
      assert(ParquetResolver.footerSchema(spark, dir) ==
        Some(spark.read.parquet(dir).schema), view)
    }
  }

  test("footer schemas: typed columns, side files and several data files") {
    val typed = tmp("graft_footer_typed") + "/v"
    Seq((1, "a"), (2, "b")).toDF("id", "s")
      .select(col("id"),
        to_timestamp(lit("2021-06-02 10:00:00")).as("ts"),
        lit(BigDecimal("12.345")).cast("decimal(12,3)").as("amount"),
        array(struct(col("s").as("name"), col("id").cast("long").as("n"))).as("items"))
      .coalesce(1).write.parquet(typed)
    val dir = new java.io.File(typed)
    assert(dir.listFiles().exists(_.getName == "_SUCCESS"))
    assert(dir.listFiles().exists(_.getName.endsWith(".crc")))

    // two data files of different shapes: inference reads the first by
    // path, or merges both under spark.sql.parquet.mergeSchema
    val two = tmp("graft_footer_two") + "/v"
    Seq((1, "a")).toDF("id", "s").coalesce(1).write.parquet(two)
    Seq((2, "b", 3.0)).toDF("id", "s", "x").coalesce(1).write.mode("append").parquet(two)
    assert(new java.io.File(two).listFiles().count(_.getName.endsWith(".parquet")) == 2)

    def parity(d: String): Unit =
      assert(ParquetResolver.footerSchema(spark, d) == Some(spark.read.parquet(d).schema), d)
    // single-file paths, as ParquetResolver.table reads them
    val tables = new java.io.File(sf).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(tables.length >= 10, tables.mkString(", "))
    (Seq(typed, two) ++ tables.sorted).foreach(parity)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(spark.read.parquet(two).schema.fieldNames.toSeq == Seq("id", "s", "x"))
      parity(two)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("footer schemas: a missing or empty view dir fails as Spark's own read does") {
    val store = tmp("graft_footer_missing")
    val views = java.nio.file.Paths.get(store, "study_code=X")
    Files.createDirectories(views.resolve("view=EMPTY"))
    Seq("ABSENT", "EMPTY").foreach { view =>
      val dir = s"$views/view=$view"
      assert(ParquetResolver.footerSchema(spark, dir).isEmpty, view)
      val viaSpark = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(dir))
      val viaResolver = intercept[org.apache.spark.sql.AnalysisException](
        new ParquetResolver(spark, "/unused", Some(store)).storeView("X", view))
      assert(viaResolver.getCondition == viaSpark.getCondition, view)
    }
  }
}
