package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional name filter (debugging): Verify <sfDir> <outDir> [q1 q2 ...]
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.local("verify", benchSplits = false)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A throwing query must read RED in the gate, not silently
        // vanish from the artifact (round 9 lost the whole event
        // family this way): dump a sentinel whose schema can never
        // match the oracle, mirroring the dynamic-oracle sentinel
        // below.
        try {
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
          // No SQL interpolation: error text routinely holds backslashes
          // (paths, regexes, rendered \n) that would corrupt a SQL
          // string literal — exactly the scenario this sentinel exists
          // for. A local DataFrame carries the message verbatim.
          import spark.implicits._
          Seq(msg).toDF("__query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e2: Throwable =>
          System.err.println(s"[verify] $name sentinel dump failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dynamic oracles (e.g. IVF centroid literals) are generated here,
    // against the same sfDir the queries ran on; honor the name filter
    // so a subset run never pays for unrelated training. A generation
    // failure must read as RED in the gate, not silently drop the
    // query from oracle_sql.json — emit a sentinel oracle that can
    // never match the dumped result.
    val dynamic = SparkEntry.dynamicOracleSql.collect {
      case (k, f) if only.isEmpty || only.contains(k) =>
        try k -> f(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] dynamic oracle $k failed: ${e.getMessage}")
          k -> s"SELECT 'dynamic oracle generation failed for $k' AS __oracle_error"
        }
    }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
