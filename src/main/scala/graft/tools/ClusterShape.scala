package graft.tools

/** Cluster-shape rehearsal (SCALE.md / PLANS.md appendix): every plan
  * shape in PLANS.md was audited at `spark.sql.shuffle.partitions=32`;
  * the 1000-executor claim deserves proof that moving to a
  * cluster-sized partition count flips no plan into a shape the
  * contracts forbid. This tool EXECUTES the full headline set twice —
  * the bench regime (32 partitions, 4m scan splits) and a cluster
  * regime (512 partitions, 1m scan splits) — and compares the
  * RUNTIME-FINAL plans (post-AQE: coalescing, skew splits, and
  * runtime broadcast demotions only exist after execution):
  *
  *   - HARD at 512: no CartesianProduct; no BroadcastNestedLoopJoin
  *     outside [[graft.Contracts.boundedBuildSide]] (same allowlist
  *     ContractSpec gates at 32);
  *   - HARD at 512: no NEW single-partition exchange relative to the
  *     32-partition run of the same query (the bounded-state class —
  *     1-row aggregates, ≤11-row band windows — plans SinglePartition
  *     at ANY conf; a flip that adds one means real data started
  *     funneling through one task);
  *   - REPORTED: broadcast / sort-merge-join count diffs (AQE
  *     legitimately converts SMJ→broadcast for small sides — a diff
  *     here is review material, not a violation).
  *
  * Exit code 1 on any hard violation. Usage:
  *   runMain graft.tools.ClusterShape [sfDir] [query ...]
  */
object ClusterShape {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = (if (args.length > 1) args.drop(1).toSeq
                 else graft.Bench.headline).filter(graft.SparkEntry.queries.contains)
    val spark = graft.GraftSession.local("clustershape", benchSplits = false)

    case class Shape(cartesian: Int, bnlj: Int, single: Int, bc: Int, smj: Int)
    def count(hay: String, needle: String): Int = needle.r.findAllMatchIn(hay).size

    /** Execute the query under the given conf and fingerprint its
      * runtime-final plan. The plan is run to completion distributed
      * (row-discarding foreach — never a driver collect) so AQE's
      * final shape is what gets fingerprinted.
      */
    def shapeOf(name: String, partitions: Int, splitBytes: String): Either[String, Shape] = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      spark.conf.set("spark.sql.files.maxPartitionBytes", splitBytes)
      try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val qe = df.queryExecution
        qe.executedPlan.execute().foreach(_ => ())
        val plan = qe.executedPlan.toString
        Right(Shape(
          count(plan, "CartesianProduct"),
          count(plan, "BroadcastNestedLoopJoin"),
          count(plan, "Exchange SinglePartition"),
          count(plan, "BroadcastExchange"),
          count(plan, "SortMergeJoin")))
      } catch {
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(120))
      } finally spark.catalog.clearCache() // er_groups etc. persist internally
    }

    var violations = Vector.empty[String]
    var flips = Vector.empty[String]
    println(f"${"query"}%-28s ${"32p(s1/bc/smj)"}%16s ${"512p(s1/bc/smj)"}%16s  verdict")
    names.foreach { name =>
      (shapeOf(name, 32, "4m"), shapeOf(name, 512, "1m")) match {
        case (Right(a), Right(b)) =>
          var verdict = "ok"
          if (b.cartesian > 0) {
            verdict = "CARTESIAN"; violations :+= s"$name: cartesian at 512p"
          } else if (b.bnlj > 0 && !graft.Contracts.boundedBuildSide(name)) {
            verdict = "BNLJ"; violations :+= s"$name: nested-loop join outside allowlist at 512p"
          } else if (b.single > a.single) {
            verdict = "SINGLE-PART FLIP"
            violations :+= s"$name: single-partition exchanges ${a.single} -> ${b.single} at 512p"
          } else if (b.bc != a.bc || b.smj != a.smj) {
            verdict = s"shape diff (review)"
            flips :+= s"$name: bc ${a.bc}->${b.bc}, smj ${a.smj}->${b.smj}"
          }
          println(f"$name%-28s ${s"${a.single}/${a.bc}/${a.smj}"}%16s ${s"${b.single}/${b.bc}/${b.smj}"}%16s  $verdict")
        case (Left(e), _) => violations :+= s"$name: failed at 32p: $e"
          println(f"$name%-28s ERROR(32p): $e")
        case (_, Left(e)) => violations :+= s"$name: failed at 512p: $e"
          println(f"$name%-28s ERROR(512p): $e")
      }
    }
    println(s"\n${names.size} queries swept; ${violations.size} hard violations, ${flips.size} benign shape diffs")
    flips.foreach(f => println(s"  review: $f"))
    violations.foreach(v => println(s"  VIOLATION: $v"))
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
