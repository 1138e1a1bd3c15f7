package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every main and the test suite build:
  * `local[cpus]` with shuffle partitions = cpus, the UTC session time
  * zone, a per-run warehouse, UI off and log level WARN.
  *
  * The one difference between callers is explicit at the call site:
  * `benchSplits = true` (Bench and the timing tools) adds 4m scan
  * splits with a 1m open cost. Test tables are single smallish parquet
  * files; the default 128m split would put each scan on ONE core, and
  * 4m splits spread it across the local executor threads — the local
  * analogue of sizing maxPartitionBytes to the cluster. Verify-shaped
  * callers keep the default splits.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Every setting of the shape except the per-run warehouse dir —
    * pure, so a spec can pin it without starting a session. */
  def conf(cpus: Int, benchSplits: Boolean): Map[String, String] = {
    val shape = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    if (benchSplits) shape ++ Map(
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "1m")
    else shape
  }

  /** Build (or join) the local session. The warehouse is a fresh temp
    * dir per JVM, recursively deleted at exit: the bucketed-join query
    * saves managed tables there, and two concurrent runs sharing a
    * fixed path would clobber each other's table files under one
    * catalog entry.
    */
  def local(name: String, benchSplits: Boolean, cpus: Int = GraftSession.cpus): SparkSession = {
    val builder = SparkSession.builder().appName(name)
      .config("spark.sql.warehouse.dir", SparkEntry.cleanedTempDir(s"graft_warehouse_${name}_"))
    conf(cpus, benchSplits).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Absorb one-time costs (codegen infra, parquet reader init,
    * broadcast machinery) so per-query timings reflect steady state
    * rather than charging session warmup to the first query. Guarded:
    * a missing warmup table must degrade to per-query errors, not
    * kill the run before any result is printed.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, countDistinct, row_number}
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "customer").foreach(t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count())
      // exercise the expression/operator machinery the headline
      // queries compile to (regex, hashes, explode+agg, window,
      // broadcast join, array ops) on synthetic rows, so whole-stage
      // codegen + JIT warmup isn't charged to whichever real query
      // happens to run first — warm runs measured 2-5x below cold
      // ones. This never touches a query's own input data or caches
      // any of its work.
      val syn = spark.range(2000).selectExpr(
        "id", "concat('Doc text, sample #', id, ' word word') AS text",
        "array(cast(id as double), 1.0, 2.0) AS vec")
      // aggregate over ALL warmup columns — a max("a")-only agg lets
      // column pruning delete the other expressions before they run
      syn.selectExpr(
        "md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ''))) AS a",
        "xxhash64(text, 42) AS b",
        "sha2(text, 256) AS c",
        "aggregate(zip_with(vec, vec, (x, y) -> x * y), 0d, (s, x) -> s + x) AS d")
        .selectExpr("max(a)", "max(b)", "max(c)", "max(d)").collect()
      syn.selectExpr("id % 7 AS k", "explode(split(text, ' ')) AS t")
        .groupBy("k").agg(countDistinct("t"))
        .collect()
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
      syn.selectExpr("id", "id % 7 AS k")
        .withColumn("rn", row_number().over(w))
        .where("rn <= 2")
        .join(broadcast(spark.range(7).selectExpr("id AS k", "id * 2 AS v")), "k")
        .collect()
    } catch {
      case e: Throwable =>
        System.err.println(s"[graft] warmup skipped: ${e.getMessage}")
    }
  }

  /** `SPARK_GRAFT_BENCH_REPS`, at least 1. */
  def reps(default: Int): Int =
    math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", default.toString).toInt)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}
