package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner}
import graft.io.{ConfigReader, Export, Ingestion, NestedStore, Standardized}
import graft.llm.{CurationPipeline, Dedup}

/** The timed side of the benchmark. One JVM, one driver thread, one
  * client issuing the workload's operations in a closed loop:
  *
  * {{{
  * Harness <workload> <runDir> <trace 0|1> <launchEpochMs>
  * }}}
  *
  * `runDir` holds the generated inputs (`manifest.json`, `inputs/` and,
  * for `study_portfolio`, the nested store `store/`). The
  * harness writes `result.json` (per-operation timings and outcomes,
  * set-up times, block storage, and with tracing on the spans and
  * listener counters); output checks and metric arithmetic happen
  * outside the JVM.
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class OpOutcome(rows: Long, extra: Map[String, Any] = Map.empty)

  trait Workload {
    def ops: Seq[JsonNode]
    def warmup(spark: SparkSession): Unit
    def run(spark: SparkSession, op: JsonNode): OpOutcome
    /** Extra traced-run measurements, taken after the timed list. */
    def traceExtras(spark: SparkSession): Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(name, runDir, traceArg, launchMs) = args
    val traced = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val manifest = mapper.readTree(new File(runDir, "manifest.json"))
    val tracer = new Tracer
    val wl: Workload = name match {
      case "study_portfolio" => new StudyPortfolio(runDir, manifest, tracer)
      case "curation_corpus" => new CurationCorpus(runDir, manifest, tracer)
    }

    // set-up: from process launch until the session is ready and one
    // untimed warm-up operation is done
    val launchNs = System.nanoTime() - (System.currentTimeMillis() - launchMs.toLong) * 1000000L
    val spark = session(cores)
    tracer.spark = spark
    wl.warmup(spark)
    val setupS = (System.nanoTime() - launchNs) / 1e9
    println(f"[graftbench] setup $setupS%.3f s")
    // tracing and counters cover the timed list only
    val execL = new ExecListener(cores)
    val planL = new PlanListener
    if (traced) {
      spark.sparkContext.addSparkListener(execL)
      spark.listenerManager.register(planL)
      tracer.enabled = true
    }

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    heapPools.foreach(_.resetPeakUsage())
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var maxPersisted = 0
    var maxCachedBytes = 0L
    val wall0 = System.nanoTime()
    wl.ops.foreach { op =>
      val id = op.get("op").asInt
      tracer.op = id
      val t0 = System.nanoTime()
      val (ok, err, out) =
        try {
          val o = tracer.span("op")(wl.run(spark, op))
          (true, "", o)
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            (false, msg.linesIterator.take(1).mkString.take(300), OpOutcome(0))
        }
      val t1 = System.nanoTime()
      if (traced) {
        maxPersisted = math.max(maxPersisted, spark.sparkContext.getPersistentRDDs.size)
        maxCachedBytes = math.max(maxCachedBytes, storageBytes(spark))
      }
      println(f"[graftbench] op $id%d ${(t1 - t0) / 1e9}%.3f s ok=$ok $err")
      ops += Map("op" -> id, "start_s" -> (t0 - wall0) / 1e9, "latency_s" -> (t1 - t0) / 1e9,
        "ok" -> ok, "error" -> err, "rows" -> out.rows) ++ out.extra
    }
    val wallS = (System.nanoTime() - wall0) / 1e9
    tracer.op = -1
    val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setupS, "wall_s" -> wallS, "ops" -> ops.toSeq,
      "retained_bytes" -> storageBytes(spark),
      "persisted_rdds_end" -> spark.sparkContext.getPersistentRDDs.size)
    if (traced) {
      // counters stop at the end of the timed list; the extras come after
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(execL)
      spark.listenerManager.unregister(planL)
      result ++= Seq(
        "exec" -> execL.total.asMap,
        "exec_sched_wait_s" -> execL.schedWaitMs / 1e3,
        "exec_stage_skew" -> execL.stageSkew,
        "catalyst" -> planL.asMap,
        "spans" -> tracer.spans.toSeq.map(s => Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_s" -> (s.startNs - wall0) / 1e9, "end_s" -> (s.endNs - wall0) / 1e9,
          "exec" -> execL.bySpan.get(s.id).map(_.asMap).getOrElse(Map.empty))),
        "max_persisted_rdds" -> maxPersisted,
        "max_cached_bytes" -> maxCachedBytes,
        "peak_heap_bytes" -> peakHeap)
      result += "extras" -> wl.traceExtras(spark)
    }
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new File(runDir, if (traced) "result_trace.json" else "result.json"), result)
    spark.stop()
  }

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def listFiles(dir: String): Set[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString).toSet
  }

  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }
}

/** One operation per study: a new version of one view lands as a CSV file →
  * Ingestion.ingestFile → refresh the study → Export.exportFlatten +
  * writeParquetAppend of the touched view. Latency runs from the file
  * landing to the export being written.
  */
final class StudyPortfolio(runDir: String, m: JsonNode, tracer: Tracer) extends Harness.Workload {
  def ops: Seq[JsonNode] = m.get("ops").elements().asScala.toSeq
  def store = s"$runDir/store"
  def outStore = s"$runDir/out_store"
  def landing = s"$runDir/landing"
  def exportDir = s"$runDir/export"

  /** ConfigReader → StudyRunner → Standardized → NestedStore.upsert into
    * the output store.
    */
  private def refresh(spark: SparkSession, code: String): Map[String, Any] = {
    val study = tracer.span("config.read")(
      ConfigReader.readStudy(spark, s"$runDir/inputs/config/$code"))
    val configRows = study.analytes.map(a => a.getData.length + a.operations.length).sum
    val studyBytes = if (tracer.enabled) Harness.dirBytes(s"$store/study_code=$code") else 0L
    val before = if (tracer.enabled) Harness.listFiles(outStore) else Set.empty[String]
    val df = tracer.span("engine.build")(
      StudyRunner.run(study, new ParquetResolver(spark, runDir, Some(store))))
    val std = tracer.span("standardize")(Standardized.toStandardized(df, code))
    tracer.span("store.upsert")(
      NestedStore.upsert(std.withColumn("view", lit("standardized")), outStore))
    val written = if (tracer.enabled) (Harness.listFiles(outStore) -- before).size else 0
    Map("config_rows" -> configRows, "study_bytes" -> studyBytes, "out_files_written" -> written)
  }

  private def land(op: JsonNode): String = {
    val src = Paths.get(runDir, op.get("file").asText)
    val dst = Paths.get(landing, src.getFileName.toString)
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  private def cycle(spark: SparkSession, op: JsonNode): Map[String, Any] = {
    val code = op.get("study_code").asText
    val view = op.get("view").asText
    val storeBefore = if (tracer.enabled) Harness.listFiles(store) else Set.empty[String]
    val path = land(op)
    tracer.span("ingest.file")(Ingestion.ingestFile(spark, path, "study_code", "view", store))
    val storeWritten =
      if (tracer.enabled) (Harness.listFiles(store) -- storeBefore).toSeq else Seq.empty
    val info = refresh(spark, code)
    val target = s"$exportDir/$view"
    val before = Harness.listFiles(target)
    tracer.span("export")(Export.writeParquetAppend(
      Export.exportFlatten(spark.read.parquet(s"$store/study_code=$code/view=$view")
        .withColumn("study_code", lit(code)).withColumn("view", lit(view))), target))
    val fresh = (Harness.listFiles(target) -- before).toSeq.sorted
    info ++ Map(
      "export_files" -> fresh.map(f => s"export/$view/$f"),
      "export_bytes" -> fresh.map(f => Files.size(Paths.get(target, f))).sum,
      "store_bytes_written" -> storeWritten.map(f => Files.size(Paths.get(store, f))).sum,
      "store_files_written" -> storeWritten.size)
  }

  def warmup(spark: SparkSession): Unit = cycle(spark, m.get("warmup"))
  def run(spark: SparkSession, op: JsonNode): Harness.OpOutcome =
    Harness.OpOutcome(op.get("subjects").asLong, cycle(spark, op))
}

/** One recipe over one source shard, written as parquet. */
final class CurationCorpus(runDir: String, m: JsonNode, tracer: Tracer) extends Harness.Workload {
  def ops: Seq[JsonNode] = m.get("ops").elements().asScala.toSeq

  private def curate(spark: SparkSession, op: JsonNode, out: String): Unit = {
    val stages = tracer.span("curation.read_recipe")(
      CurationPipeline.readRecipe(spark, s"$runDir/${op.get("recipe").asText}"))
    val docs = spark.read.parquet(s"$runDir/${op.get("file").asText}")
    val bench = spark.read.parquet(s"$runDir/${m.get("bench").asText}")
    val df = tracer.span("curation.plan")(CurationPipeline.run(docs, stages, bench = Some(bench)))
    tracer.span("curation.write")(df.write.mode("overwrite").parquet(out))
  }

  def warmup(spark: SparkSession): Unit =
    curate(spark, m.get("warmup"), s"$runDir/out/warmup")
  def run(spark: SparkSession, op: JsonNode): Harness.OpOutcome = {
    val id = op.get("op").asInt
    curate(spark, op, s"$runDir/out/op_$id")
    Harness.OpOutcome(op.get("rows").asLong, Map("output" -> s"out/op_$id"))
  }

  /** Untimed, after the timed list, on the first shard each recipe ran on:
    * the rows-in/rows-out funnel of every stage from
    * `CurationPipeline.runObserved`, and for the near-dedup recipe confirmed
    * near-duplicate pairs ÷ LSH candidates.
    */
  override def traceExtras(spark: SparkSession): Map[String, Any] = {
    val firstPerRecipe = ops.groupBy(_.get("recipe").asText).values.map(_.head).toSeq
      .sortBy(_.get("op").asInt)
    val bench = spark.read.parquet(s"$runDir/${m.get("bench").asText}")
    val funnels = firstPerRecipe.map { op =>
      val stages = CurationPipeline.readRecipe(spark, s"$runDir/${op.get("recipe").asText}")
      val docs = spark.read.parquet(s"$runDir/${op.get("file").asText}")
      val (df, obs) = CurationPipeline.runObserved(docs, stages, bench = Some(bench))
      df.write.mode("overwrite").parquet(s"$runDir/out/funnel_${op.get("op").asInt}")
      obs.map { case (n, o) => n -> o.get("n_rows") }
    }
    val near = firstPerRecipe.find { op =>
      CurationPipeline.readRecipe(spark, s"$runDir/${op.get("recipe").asText}")
        .exists(_.op.trim.equalsIgnoreCase("NEAR DEDUP"))
    }
    val dedup = near.map { op =>
      val docs = spark.read.parquet(s"$runDir/${op.get("file").asText}")
      val cands = tracer.span("dedup.candidates")(Dedup.minhashCandidates(docs, "doc_id", "text").count())
      val pairs = tracer.span("dedup.pairs")(Dedup.nearDupPairs(docs, "doc_id", "text", 0.8).count())
      Map("dedup_candidates" -> cands, "dedup_pairs" -> pairs)
    }.getOrElse(Map.empty)
    dedup ++ Map("funnels" -> funnels)
  }
}
