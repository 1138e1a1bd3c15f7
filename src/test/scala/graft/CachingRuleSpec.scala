package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.llm.{Dedup, Drift, MinhashDecontam, Multimodal}

/** The caching rule: a function that returns a lazy frame persists
  * nothing, because its caller could never release the blocks. Where
  * such a frame feeds several consumers in one plan, exchange reuse
  * serves the repeats. The few persists left are scoped: made and
  * released inside one function.
  */
class CachingRuleSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("registry queries on the changed dedup paths leave the CacheManager empty") {
    val names = Seq(
      "pipeline_curation_config", "pipeline_curation_v2", "decontam_minhash",
      "pipeline_train_prep", "pipeline_train_prep_v2", "dedup_minhash_pairs",
      "dedup_near_keep", "dedup_near_keep_best", "dedup_cluster_sizes",
      "dedup_graph_triangles", "dedup_incremental_near", "dedup_simhash_pairs",
      "dedup_cdc_coverage", "mm_neardup_coverage")
    val queries = SparkEntry.queries
    assert(names.forall(queries.contains), names.filterNot(queries.contains))
    val leaked = names.filter { name =>
      spark.catalog.clearCache()
      queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
      try !cacheEmpty finally spark.catalog.clearCache()
    }
    assert(leaked.isEmpty, s"CacheManager holds plans after: ${leaked.mkString(", ")}")
  }

  test("multi-consumer frames share one pass without a persist") {
    val docs = Seq(
      (1L, "g1", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "g2", "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "g1", "completely different content about spark query engines and shuffles"),
      (4L, "g2", "the quick brown fox jumps over the lazy dog again and again"),
      (5L, "g3", "short text")).toDF("doc_id", "source", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    // (site, frame, shared): a shared site feeds several consumers
    // from one exchange; the CDC coverage sites give their chunking
    // ONE consumer (a digest window), so it plans one Generate
    val sites: Seq[(String, DataFrame, Boolean)] = Seq(
      ("vocabOverlapMatrix", Drift.vocabOverlapMatrix(docs, "source", "text"), true),
      ("nearDupPairs", Dedup.nearDupPairs(docs, "doc_id", "text", 0.5), true),
      ("minhashContamination",
        MinhashDecontam.minhashContamination(docs, docs, "doc_id", "text"), true),
      ("graphTriangleCensus", Dedup.graphTriangleCensus(pairs), true),
      ("simhashPairs", Dedup.simhashPairs(docs, "doc_id", "text"), true),
      ("cdcDupCoverage", Dedup.cdcDupCoverage(docs, "doc_id", "text", divisor = 4), false),
      ("binaryDupCoverage", Multimodal.binaryDupCoverage("content", "doc_id", divisor = 16,
        window = 8)(Multimodal.withBinaryContent("text")(docs)), false))
    for ((site, out, shared) <- sites) {
      out.collect() // AQE resolves stage reuse at execution time
      val exec = out.queryExecution.executedPlan
      val plan = exec.toString
      assert(!plan.contains("InMemoryTableScan"), s"$site must not persist:\n$plan")
      if (shared)
        assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
          s"$site: expected a reused exchange in:\n$plan")
      else
        assert(collect(exec) { case g: GenerateExec => g }.size == 1,
          s"$site: expected one chunking pass in:\n$plan")
    }
  }

  test("src/main persists only inside scoped functions; no cache knobs") {
    val main = Paths.get("src/main/scala").toAbsolutePath
    val files = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"source scan found only ${files.size} files under $main")
    // code lines only: scaladoc and line comments may name the calls
    def code(f: Path): Seq[String] = Files.readAllLines(f).asScala.toSeq
      .map(_.replaceAll("//.*$", ""))
      .filterNot { l => val t = l.trim; t.startsWith("*") || t.startsWith("/*") }
    val persists = files.flatMap { f =>
      val lines = code(f)
      lines.indices.filter(i => lines(i).contains(".persist(")).map { i =>
        // the enclosing member of the top-level object (two-space indent)
        val member = """^  (?:private\S* )?def (\w+).*""".r
        val fn = lines.take(i + 1).reverse
          .collectFirst { case member(name) => name }.getOrElse("")
        (main.relativize(f).toString, fn)
      }
    }
    assert(persists.sorted == Seq(
      ("graft/llm/Dedup.scala", "nearDupClusters"),
      ("graft/llm/Dedup.scala", "nearDupClusters"),
      ("graft/ops/EntityRes.scala", "incrementalResolveAndMerges"),
      ("graft/ops/Funnel.scala", "frontiers"),
      ("graft/ops/Funnel.scala", "frontiers")).sorted, persists.mkString("\n"))
    val knobs = files.filter(f => code(f).exists(l =>
      l.matches(""".*\bcache\s*:\s*Boolean.*""") || l.contains("cacheSignatures")))
    assert(knobs.isEmpty, knobs.mkString(", "))
  }
}
