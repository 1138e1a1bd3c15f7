package graft.tools

import org.apache.spark.sql.execution.{EmptyRelationExec, GenerateExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.util.QueryExecutionListener

/** Generated shuffle-budget inventory: runs EVERY registered query
  * into a `noop` sink and tallies the exchanges it executed, so
  * SCALE.md's hand-written shuffle table has a machine-checked
  * companion that cannot drift. Counts come from the final AQE plan of
  * the sink's write: a `ReusedExchange` (or reused subquery) leaf is
  * not counted, so a subtree that several consumers share through
  * exchange reuse counts once, as it runs. AQE replaces a subtree it
  * finds empty at run time with an `EmptyRelation`, dropping the stages
  * that found it empty from the final plan; such a row counts only
  * what is left and says so in its last column. Writes a TSV — one
  * row per query — plus a distribution summary to stdout.
  *
  * Columns: shuffle exchanges (every `ShuffleExchangeLike`: hash,
  * range, round-robin and single-partition), single-partition
  * exchanges (the bounded-state class — SUMEQ totals, ≤11-row band
  * windows), broadcast exchanges, sort-merge joins, generates
  * (explodes), and a note (a failed query's error, with shuffles -1).
  * CartesianProduct is asserted absent by ContractSpec;
  * this tool measures what the gate only bounds.
  */
object ShuffleAudit {

  /** The executed plan of each `noop` write, handed over from the
    * listener bus thread.
    */
  private final class WriteListener extends QueryExecutionListener {
    val written = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.executedPlan match {
        case w: V2TableWriteExec => written.put(w.query)
        case _ => ()
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Every executed node, descending into AQE stages and subqueries
    * but not behind a reuse leaf.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "SHUFFLES.tsv"
    val spark = graft.GraftSession.local("shuffleaudit", benchSplits = false)
    val listener = new WriteListener

    val rows = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        // a query may build its frame in a derived session, whose
        // executions only that session's listeners see
        val listeners = df.sparkSession.listenerManager
        listener.written.clear()
        listeners.register(listener)
        val plan =
          try {
            df.write.mode("overwrite").format("noop").save()
            Option(listener.written.poll(60, java.util.concurrent.TimeUnit.SECONDS))
              .getOrElse(sys.error("no executed noop write reported"))
          } finally listeners.unregister(listener)
        val all = nodes(plan)
        val shuffles = all.collect { case s: ShuffleExchangeLike => s }
        val single = shuffles.count(_.outputPartitioning == SinglePartition)
        val bc = all.count(_.isInstanceOf[BroadcastExchangeLike])
        val smj = all.count(_.isInstanceOf[SortMergeJoinExec])
        val gen = all.count(_.isInstanceOf[GenerateExec])
        val note =
          if (all.exists(_.isInstanceOf[EmptyRelationExec])) "AQE emptied a subtree at run time"
          else ""
        (name, shuffles.size, single, bc, smj, gen, note)
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
    sb ++= "query\tshuffles\tsingle_partition\tbroadcasts\tsort_merge_joins\tgenerates\tnote\n"
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
