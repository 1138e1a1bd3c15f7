package graft.tools

import org.apache.spark.sql.functions._

/** Build an N×-amplified copy of a testdata scale dir for the
  * measured-scale-growth study (SCALE.md "Measured scale growth"):
  * `documents`/`embeddings` are unioned with id-remapped copies of
  * themselves (identical texts/vectors — every shingle's document
  * frequency grows with the copy count, the duplicate-heavy worst
  * case the audit operators exist to probe); every other table is
  * copied verbatim so Bench's warmup and any side reads still
  * resolve. Usage: runMain graft.tools.Amplify <srcSfDir> <dstDir> <copies>
  */
object Amplify {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Amplify <srcSfDir> <dstDir> <copies>")
    val Array(src, dst, copiesStr) = args
    val copies = copiesStr.toInt
    require(copies >= 1 && copies <= 16, s"copies $copies out of [1,16]")
    val spark = graft.GraftSession.local("amplify", benchSplits = false)
    // customer joined the map in round 13 for the er_groups skew study:
    // identical-copy amplification multiplies every (nation, segment)
    // block's size by the copy count — the blocked self-join's
    // duplicate-heavy worst case, exactly like hot shingles for dedup
    val idCols = Map("documents.parquet" -> "doc_id",
      "embeddings.parquet" -> "vec_id", "customer.parquet" -> "c_custkey")
    val files = new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet tables under $src")
    files.sortBy(_.getName).foreach { f =>
      val df = spark.read.parquet(f.getPath)
      val out = idCols.get(f.getName) match {
        case Some(id) =>
          // remap by a stride past the current max id so copies never
          // collide; identical payloads by design (see scaladoc)
          val maxRow = df.agg(max(col(id))).head
          require(!maxRow.isNullAt(0), s"${f.getName}: empty table — nothing to amplify")
          val stride = maxRow.getLong(0) + 1L
          (0 until copies).map(i => df.withColumn(id, col(id) + lit(i * stride)))
            .reduce(_ unionAll _)
        case None => df
      }
      out.write.mode("overwrite").parquet(s"$dst/${f.getName}")
      // count the WRITTEN parquet — counting `out` would recompute the
      // whole amplified union a second time just for the log line
      println(s"${f.getName}: ${spark.read.parquet(s"$dst/${f.getName}").count()} rows -> $dst")
    }
    spark.stop()
  }
}
