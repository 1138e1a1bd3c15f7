package graft.tools

/** Generated shuffle-budget inventory: plans EVERY registered query
  * and tallies its physical exchanges, so SCALE.md's hand-written
  * shuffle table has a machine-checked companion that cannot drift.
  * Counts come from the executed-plan text (robust across Spark
  * releases; AQE's initial plan shows every exchange the query can
  * pay). Writes a TSV — one row per query — plus a distribution
  * summary to stdout.
  *
  * Columns: shuffle exchanges (hash + range + single-partition),
  * single-partition exchanges (the bounded-state class — SUMEQ
  * totals, ≤11-row band windows), broadcast exchanges, sort-merge
  * joins, generates (explodes). CartesianProduct is asserted absent
  * by ContractSpec; this tool measures what the gate only bounds.
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "SHUFFLES.tsv"
    val spark = graft.GraftSession.local("shuffleaudit", benchSplits = false)

    def count(hay: String, needle: String): Int =
      needle.r.findAllMatchIn(hay).size

    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val hash = count(plan, "Exchange hashpartitioning")
        val range = count(plan, "Exchange rangepartitioning")
        val single = count(plan, "Exchange SinglePartition")
        val bc = count(plan, "BroadcastExchange")
        val smj = count(plan, "SortMergeJoin")
        val gen = count(plan, "\\bGenerate\\b")
        (name, hash + range + single, single, bc, smj, gen, "")
      } catch {
        case e: Throwable =>
          // getMessage may be null (bare NPEs); tabs/newlines in the
          // message would corrupt the TSV
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\\t\\r\\n]", " ").take(80)
          (name, -1, 0, 0, 0, 0, msg)
      }
    }

    val sb = new StringBuilder
    sb ++= "query\tshuffles\tsingle_partition\tbroadcasts\tsort_merge_joins\tgenerates\terror\n"
    rows.foreach { case (n, s, sp, b, j, g, e) =>
      sb ++= s"$n\t$s\t$sp\t$b\t$j\t$g\t$e\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))

    val ok = rows.filter(_._2 >= 0)
    val dist = ok.groupBy(_._2).view.mapValues(_.size).toSeq.sortBy(_._1)
    println(s"audited ${ok.size} queries (${rows.size - ok.size} errors) -> $out")
    println("shuffle-count distribution: " +
      dist.map { case (k, v) => s"$k:$v" }.mkString(" "))
    val heavy = ok.filter(_._2 >= 4).sortBy(-_._2)
    println("heaviest (>=4 exchanges):")
    heavy.foreach { case (n, s, sp, b, _, _, _) =>
      println(f"  $s%2d ($sp%d single-part, $b%d bc)  $n")
    }
    spark.stop()
  }
}
