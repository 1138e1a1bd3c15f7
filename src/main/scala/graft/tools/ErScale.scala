package graft.tools

/** maxBlock sensitivity points for er_groups (SCALE.md "Round 13"):
  * runs `EntityRes.matchGroups` on a dir's customer table at a given
  * `maxBlock`, so the amplified protocol can measure the blocked
  * self-join's growth with the cap disengaged (10000 — no sf0.1
  * amplification reaches it below 64×) vs engaged. Identical query
  * shape to the gated er_groups; same session and median-of-reps
  * discipline as [[graft.Bench]].
  *
  * Usage: runMain graft.tools.ErScale <sfDir> <maxBlock> [mode]
  * Modes:
  *   - `sub` engages the hot-block remedy: sub-block oversized blocks
  *     on the last two c_name chars instead of refusing them;
  *   - `recall` runs [[graft.ops.EntityRes.subBlockRecall]] with the
  *     same sub-key instead of matchGroups, timing the audit and
  *     printing the corpus-total kept / lost-cross / lost-refused
  *     pair counts — the measured recall trade for SCALE.md;
  *   - `bandedsub` times [[graft.ops.EntityRes.candidatePairsBanded]]
  *     with the round-15 positional segment bands (3 × 2 chars over
  *     c_name[13..18]) — the OR-amplified remedy's production cost;
  *   - `sfxsub` / `quadsub` time the suffix-only ({d6},{d7},{d8d9})
  *     and QUAD (coarse {d4d5} + suffix — the gate's shared
  *     definition, measured dominant) band sets;
  *   - `bandedrecall` / `sfxrecall` / `quadrecall` / `minhashrecall`
  *     run [[graft.ops.EntityRes.bandedSubBlockRecall]] with the
  *     matching band family (md5-MinHash = 4 bands over 3-grams);
  *   - `inc` times the CDC face ([[graft.ops.EntityRes
  *     .incrementalAssign]], the gate's synthetic re-crawl batch
  *     against the dir's master); `incband` the same with the QUAD
  *     bands as the hot-block remedy; `incresolve` the full
  *     cluster-maintenance composition ([[graft.ops.EntityRes
  *     .incrementalResolve]] with QUAD bands — assignment + merge
  *     closure); `increcall` runs
  *     [[graft.ops.EntityRes.incrementalBandedRecall]] (QUAD bands)
  *     and prints the corpus-total kept / cross / refused counts;
  *   - any recall mode takes an optional `:<pct>` suffix
  *     (e.g. `recall:25`) engaging the deterministic hot-block
  *     hash-sample — the audit's scale face;
  *   - round 16, the EXECUTABLE refinement ladder at scale:
  *     `recommend` times [[graft.ops.EntityRes.recommendSegBands]]
  *     over the wide positional spec (chars 13..18 in 3 segments) and
  *     prints the refined spec it emits; `recrecall` runs the ladder
  *     END-TO-END — evidence → recommendation → collect →
  *     [[graft.ops.EntityRes.bandedSubBlockRecall]] with the
  *     RECOMMENDED bands (self-join face); `increcrecall` the same
  *     through [[graft.ops.EntityRes.incrementalBandedRecall]] (CDC
  *     face, the gate's re-crawl batch) — the 32× re-measure that
  *     pins what the recommendation restores vs the fixed QUAD set;
  *   - round 17: `incadaptive` times the CDC banded face with the
  *     ADAPTIVE idle-cap pricing (eager block-count-sized hot set,
  *     plain join when it is empty — [[graft.ops.EntityRes
  *     .incrementalPairsBanded]]'s `adaptive` flag) for the 1×/8×/16×
  *     delta-shrink measurement; `ladder` RUNS
  *     [[graft.ops.EntityRes.refineBandsLoop]] from the wide spec to
  *     convergence and prints the full trajectory — per step the
  *     spec, action, refusal fraction, and (untimed) banded recall at
  *     `:<pct>` sampling.
  */
object ErScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: ErScale <sfDir> <maxBlock> " +
        "[sub|bandedsub|sfxsub|quadsub|inc|incband|incadaptive|incresolve|recall|" +
        "bandedrecall|sfxrecall|quadrecall|minhashrecall|increcall|recommend|" +
        "recrecall|recsub|increcrecall|ladder][:<pct>]")
    val sfDir = args(0)
    val maxBlock = args(1).toLong
    val modeArg = if (args.length == 3) args(2) else ""
    val (mode, samplePct) = modeArg.split(":") match {
      case Array(m, p) => (m, p.toInt)
      case _ => (modeArg, 100)
    }
    import org.apache.spark.sql.functions.{col, substring}
    val lastTwo = substring(col("c_name"), -2, 2)
    val segBands = graft.ops.EntityRes.segmentBands(substring(col("c_name"), 13, 6), 3)
    // the audit-driven refinement (SCALE.md round 15): band only the
    // 4 suffix digits ({d6},{d7},{d8d9}) — pigeonhole still covers <=2
    // substitutions ANYWHERE (edits outside the banded region break no
    // band), and every bucket stays ~block/10 or finer, so nothing
    // crosses the cap at 16x where the coarse {d4d5} bucket refused
    val sfxBands = graft.ops.EntityRes.segmentBands(substring(col("c_name"), 15, 4), 3)
    // the dominating 4-band set (SCALE.md round 15): the 3 suffix
    // bands (substitution recall at every scale) PLUS the coarse
    // {d4d5} segment, whose within-cap buckets recover shift pairs at
    // low amplification and whose refusal at 16x costs nothing the
    // suffix bands don't already keep
    // the gate's exact band set (shared definition — gate and scale
    // measurements can never band differently)
    val quadBands = graft.DedupQueries.quadBands
    val mhBands = graft.ops.EntityRes.minhashBands(col("c_name"), shingleK = 3, numBands = 4)
    // the executable ladder's INPUT spec — the wide positional set
    // (chars 13..18 in 3 segments), the er_band_evidence gate's exact
    // fixture, so the 32x measurement refines what the gate pins
    val wideSpec = graft.ops.EntityRes.splitSegments(13, 6, 3)
    val subBlock = if (mode == "sub") Some(lastTwo) else None
    val spark = graft.GraftSession.local("erscale", benchSplits = true)
    graft.GraftSession.warmUp(spark, sfDir)

    // the ladder's driver-side step, shared by the rec* modes: ONE
    // recommendation per invocation (evidence -> refined spec ->
    // bands Column), computed outside the rep loop like the band-set
    // literals above — the recall reps then measure the recommended
    // set, not repeated recommendation runs (the `recommend` mode
    // times the recommendation step itself)
    lazy val (recSpec, recAction) = graft.ops.EntityRes.collectRecommendedSpec(
      graft.ops.EntityRes.recommendSegBands(
        "c_name", Seq("c_nationkey", "c_mktsegment"), maxBlock, wideSpec, maxDist = 2)(
        spark.read.parquet(s"$sfDir/customer.parquet")))
    lazy val recBands = graft.ops.EntityRes.bandsFromSpec(col("c_name"), recSpec)

    def recallFrame() = {
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      mode match {
        case "recall" => graft.ops.EntityRes.subBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, subBlock = lastTwo, samplePct = samplePct)(cust)
        case "bandedrecall" => graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = segBands, samplePct = samplePct)(cust)
        case "sfxrecall" => graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = sfxBands, samplePct = samplePct)(cust)
        case "quadrecall" => graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = quadBands, samplePct = samplePct)(cust)
        case "minhashrecall" => graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = mhBands, samplePct = samplePct)(cust)
        case "increcall" => graft.ops.EntityRes.incrementalBandedRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = quadBands, samplePct = samplePct)(
          graft.DedupQueries.incrementalBatch(cust), cust)
        case "recrecall" => graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = recBands, samplePct = samplePct)(cust)
        case "increcrecall" => graft.ops.EntityRes.incrementalBandedRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, bands = recBands, samplePct = samplePct)(
          graft.DedupQueries.incrementalBatch(cust), cust)
        case m => throw new IllegalArgumentException(s"not a recall mode: $m")
      }
    }
    val isRecall = Set("recall", "bandedrecall", "sfxrecall", "quadrecall",
      "minhashrecall", "increcall", "recrecall", "increcrecall")(mode)
    var ladderSteps: Seq[graft.ops.EntityRes.LadderStep] = Seq.empty

    def run(): Double = {
      val t0 = System.nanoTime()
      if (isRecall) {
        recallFrame().write.mode("overwrite").format("noop").save()
      } else if (mode == "inc" || mode == "incband" || mode == "incadaptive" ||
        mode == "incresolve") {
        // the CDC face at scale: the gate's synthetic re-crawl batch
        // (|master|/3 rows) against the dir's customer master — plain
        // assignment (hot blocks refused, their batch rows false
        // novels), the QUAD-banded remedy, or the full
        // cluster-maintenance resolve (assignment + merge closure)
        val master = spark.read.parquet(s"$sfDir/customer.parquet")
        val batch = graft.DedupQueries.incrementalBatch(master)
        val out =
          if (mode == "incresolve")
            graft.ops.EntityRes.incrementalResolve(
              "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
              maxDist = 2, maxBlock = maxBlock, clusterCol = "c_custkey",
              bands = Some(quadBands))(batch, master)
          else
            graft.ops.EntityRes.incrementalAssign(
              "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
              maxDist = 2, maxBlock = maxBlock, clusterCol = "c_custkey",
              bands = if (mode == "incband" || mode == "incadaptive") Some(quadBands)
                else None,
              adaptive = mode == "incadaptive")(batch, master)
        out.write.mode("overwrite").format("noop").save()
      } else if (mode == "ladder") {
        // the loop itself is the timed unit: evidence -> recommend ->
        // re-measure, iterated to convergence (driver-side spec-sized
        // steps only; per-step recall is computed AFTER timing below)
        ladderSteps = graft.ops.EntityRes.refineBandsLoop(
          "c_name", Seq("c_nationkey", "c_mktsegment"), maxBlock,
          wideSpec, maxDist = 2)(
          spark.read.parquet(s"$sfDir/customer.parquet"))
      } else if (mode == "recommend") {
        graft.ops.EntityRes.recommendSegBands(
          "c_name", Seq("c_nationkey", "c_mktsegment"), maxBlock, wideSpec, maxDist = 2)(
          spark.read.parquet(s"$sfDir/customer.parquet"))
          .write.mode("overwrite").format("noop").save()
      } else if (mode == "bandedsub" || mode == "sfxsub" || mode == "quadsub" ||
        mode == "recsub") {
        graft.ops.EntityRes.candidatePairsBanded(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock,
          bands = if (mode == "sfxsub") sfxBands
            else if (mode == "quadsub") quadBands
            else if (mode == "recsub") recBands else segBands)(
          spark.read.parquet(s"$sfDir/customer.parquet"))
          .write.mode("overwrite").format("noop").save()
      } else {
        graft.ops.EntityRes.matchGroups(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock, subBlock = subBlock)(
          spark.read.parquet(s"$sfDir/customer.parquet"))
          .write.mode("overwrite").format("noop").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val reps = graft.GraftSession.reps(5)
    val ts = (0 until reps).map(_ => run())
    val med = graft.GraftSession.median(ts)
    val refused = graft.ops.EntityRes.oversizedBlocks(
      Seq("c_nationkey", "c_mktsegment"), maxBlock)(
      spark.read.parquet(s"$sfDir/customer.parquet")).count()
    val recallTail = if (isRecall) {
      // corpus totals of the per-block accounting — one extra pass,
      // outside the timing loop
      val r = recallFrame()
        .selectExpr("sum(n_pairs_uncapped) AS u", "sum(n_kept) AS k",
          "sum(n_lost_cross) AS c", "sum(n_lost_refused) AS r")
        .collect()(0)
      // sums are null when no hot block has a match pair (cap never
      // engaged at this dir) — report explicit zeros, not an NPE
      def lng(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      val (u, k, c, rr) = (lng(0), lng(1), lng(2), lng(3))
      val rec = if (u == 0) 1.0 else k.toDouble / u
      s""","pairsUncapped":$u,"pairsKept":$k,"pairsLostCross":$c,"pairsLostRefused":$rr,"recall":$rec"""
    } else ""
    val recTail =
      if (mode == "recommend" || mode == "recrecall" || mode == "increcrecall" ||
        mode == "recsub") {
        val specStr = recSpec.map(s => s"(${s.start},${s.len})").mkString(";")
        s""","recSpec":"$specStr","recAction":"$recAction""""
      } else ""
    val ladderTail = if (mode == "ladder") {
      // per-step recall, untimed: the trajectory SCALE.md plots —
      // what each rung of the executed ladder restores
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val stepJson = ladderSteps.map { st =>
        val rec = graft.ops.EntityRes.bandedSubBlockRecall(
          "c_custkey", "c_name", Seq("c_nationkey", "c_mktsegment"),
          maxDist = 2, maxBlock = maxBlock,
          bands = graft.ops.EntityRes.bandsFromSpec(col("c_name"), st.spec),
          samplePct = samplePct)(cust)
          .selectExpr("sum(n_pairs_uncapped) AS u", "sum(n_kept) AS k").collect()(0)
        def lng(i: Int) = if (rec.isNullAt(i)) 0L else rec.getLong(i)
        val recall = if (lng(0) == 0L) 1.0 else lng(1).toDouble / lng(0)
        val specStr = st.spec.map(s => s"(${s.start},${s.len})").mkString(";")
        s"""{"iter":${st.iter},"spec":"$specStr","action":"${st.action}",""" +
          s""""refusedFrac":${st.refusedFrac},"recall":$recall}"""
      }.mkString("[", ",", "]")
      s""","ladder":$stepJson"""
    } else ""
    println(s"""{"metric":"er_scale","value":$med,"unit":"sec","reps":$reps,"min":${ts.min},"max":${ts.max},"maxBlock":$maxBlock,"refusedBlocks":$refused,"mode":"$mode","samplePct":$samplePct$recallTail$recTail$ladderTail,"sf":"$sfDir"}""")
    spark.stop()
  }
}
