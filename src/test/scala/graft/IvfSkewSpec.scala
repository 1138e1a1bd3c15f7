package graft

import org.apache.spark.sql.functions._

import graft.llm.{Ivf, Similarity}
import graft.ops.{BloomJoin, Skew}

class IvfSkewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    // two clear clusters around (1,0) and (0,1)
    (0L, Array(1.0f, 0.00f)), (1L, Array(0.95f, 0.05f)), (2L, Array(0.9f, 0.1f)),
    (3L, Array(0.0f, 1.00f)), (4L, Array(0.05f, 0.95f)), (5L, Array(0.1f, 0.9f))
  ).toDF("vec_id", "embedding")

  test("IVF: assignment splits the clusters; topK finds in-cluster neighbours") {
    val model = Ivf.train(vecs, "embedding", k = 2)
    assert(model.k == 2)
    val assigned = Ivf.assign(vecs, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(assigned(0L) == assigned(1L) && assigned(1L) == assigned(2L))
    assert(assigned(3L) == assigned(4L) && assigned(4L) == assigned(5L))
    assert(assigned(0L) != assigned(3L))

    val top = Ivf.ivfTopK(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", model, k = 3, nProbe = 1)
      .collect().map(_.getLong(1)).toSet
    assert(top == Set(0L, 1L, 2L)) // own cluster only with nProbe=1
  }

  test("clusterBalancedSample caps every cell and is a pure function of the data") {
    import graft.llm.Sampling
    val model = Ivf.train(vecs, "embedding", k = 2)
    val s1 = Sampling.clusterBalancedSample(vecs, "vec_id", "embedding", model, perCell = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // both 3-member cells capped at 2; each cell represented
    assert(s1.length == 4)
    assert(s1.groupBy(_._2).values.forall(_.length == 2))
    // deterministic: same data -> same sample
    val s2 = Sampling.clusterBalancedSample(vecs, "vec_id", "embedding", model, perCell = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(s1.sorted.sameElements(s2.sorted))
    // perCell above the cell size keeps everything
    assert(Sampling.clusterBalancedSample(vecs, "vec_id", "embedding", model, perCell = 10)
      .count() == 6L)
  }

  test("semDedupKeep drops within-cell near-dups (keep-lowest) but never across cells") {
    val model = Ivf.IvfModel(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val df = Seq(
      (1L, Array(1.00, 0.01)), // cell 0
      (2L, Array(0.99, 0.00)), // cell 0, cos(1,2) ~ 1      -> dropped vs 1
      (3L, Array(0.01, 1.00)), // cell 1
      (4L, Array(0.00, 0.98)), // cell 1, cos(3,4) ~ 1      -> dropped vs 3
      (5L, Array(0.70, 0.72)), // cell 1, far from 3
      (6L, Array(0.72, 0.70))  // cell 0; cos(5,6) ~ 0.9996 but CROSS-cell -> both kept
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedupKeep(df, "vec_id", "embedding", model, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kept == Map(1L -> 0, 3L -> 1, 5L -> 1, 6L -> 0))

    // skew-hardened sub-bucketing must not lose the near-parallel
    // pairs: a >= 0.95-cosine pair differs on at most one hyperplane
    // sign, which multi-probe covers — same keep set as unbucketed
    val bucketed = Similarity.semDedupKeep(df, "vec_id", "embedding", model,
      threshold = 0.95, subBucketPlanes = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(bucketed == kept, s"bucketed $bucketed vs $kept")

    // one degraded row with a NULL embedding must not kill the job
    // (lshBucket's wrong-width guard is for non-null vectors): it
    // buckets to null, is never a candidate, and survives — the same
    // outcome the null-cosine filter produced before the guard existed
    val withNull = df.union(Seq((7L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "embedding"))
    val keptNull = Similarity.semDedupKeep(withNull, "vec_id", "embedding", model,
      threshold = 0.95, subBucketPlanes = 4)
      .collect().map(_.getLong(0)).toSet
    assert(keptNull == Set(1L, 3L, 5L, 6L, 7L), keptNull)
  }

  test("IVF with nProbe=k degrades to exact: matches brute-force top-k") {
    val model = Ivf.train(vecs, "embedding", k = 2)
    val ivf = Ivf.ivfTopK(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", model, k = 5, nProbe = 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    val brute = Similarity.knnJoin(vecs, vecs.where(col("vec_id") === 0L),
      "vec_id", "embedding", k = 5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ivf == brute)
  }

  test("saltedLeftJoin returns exactly the plain left-join result") {
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "lv")
    val right = Seq((1, "X"), (2, "Y")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"), "left")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = Skew.saltedLeftJoin(left, right, Seq("k"), buckets = 4)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.toSeq == plain.toSeq)
  }

  test("keyHistogram surfaces hot keys") {
    val df = (Seq.fill(50)(1) ++ Seq(2, 3)).toDF("k")
    val top = Skew.keyHistogram(df, "k", 1).collect().head
    assert(top.getInt(0) == 1 && top.getLong(1) == 50L)
  }

  test("bloomPrunedJoin returns exactly the plain join (long and string keys, null keys dropped)") {
    val probeL = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, "c"), (null, "n"))
      .toDF("k", "pv")
    val buildL = Seq((1L, "X"), (3L, "Y"), (9L, "Z")).toDF("k", "bv")
    val plainL = probeL.join(buildL, Seq("k"), "inner").collect().map(_.toSeq).sortBy(_.toString).toSeq
    val bloomL = BloomJoin.bloomPrunedJoin(probeL, buildL, "k")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(bloomL == plainL)

    val probeS = Seq(("aa", 1), ("bb", 2), ("cc", 3)).toDF("k", "pv")
    val buildS = Seq(("aa", 10), ("cc", 30)).toDF("k", "bv")
    val plainS = probeS.join(buildS, Seq("k"), "left_semi").collect().map(_.toSeq).sortBy(_.toString).toSeq
    val bloomS = BloomJoin.bloomPrunedJoin(probeS, buildS, "k", "left_semi")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(bloomS == plainS)
  }

  test("bloom prune sits in the probe's plan and a bloom probe has no false negatives") {
    // a file-backed probe: over a LocalRelation the optimizer folds the
    // filter away at plan time (ConvertToLocalRelation), hiding the shape
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_probe").toString
    (1L to 1000L).toDF("k").write.mode("overwrite").parquet(dir)
    val probe = spark.read.parquet(dir)
    val build = (1L to 100L).map(_ * 3).toDF("k")
    val joined = BloomJoin.bloomPrunedJoin(probe, build, "k", expectedItems = Some(100L))
    assert(joined.queryExecution.executedPlan.toString.contains("graft_bloom_contains"))

    val bytes = BloomJoin.buildKeyBloom(build, "k", expectedItems = 100L)
    val probed = probe.select(col("k"),
      graft.functions.Native.bloomContains(col("k"), bytes).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // no false negatives, ever
    assert((1L to 100L).forall(i => probed(i * 3)))
    // ~1% fpp: the 900 absent keys stay overwhelmingly false
    val falsePos = (1L to 1000L).filterNot(_ % 3 == 0).count(probed)
    assert(falsePos < 50, s"bloom false-positive count $falsePos out of envelope")
  }

  test("bloom probes with identical filter bytes are value-equal (canonicalization-safe)") {
    import graft.functions.BloomMightContain
    import org.apache.spark.sql.catalyst.expressions.Literal
    val build = (1L to 50L).toDF("k")
    val bytes = BloomJoin.buildKeyBloom(build, "k", expectedItems = 50L)
    val a = BloomMightContain(Literal(7L), bytes.clone())
    val b = BloomMightContain(Literal(7L), bytes.clone())
    assert(a == b && a.hashCode == b.hashCode,
      "equal filter bytes in distinct arrays must compare equal")
    assert(a != BloomMightContain(Literal(8L), bytes.clone()))
  }

  test("bloomPrunedJoin rejects join types where pruning would drop preserved rows") {
    val df = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      BloomJoin.bloomPrunedJoin(df, df, "k", "left")
    }
  }

  test("IVF model save/load round-trips bit-exactly and assigns identically") {
    import graft.llm.Ivf
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Seq(1f, 0f, 0f) else Seq(0f, 1f, 0f)
      (i, base.map(_ + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(vecs, "embedding", k = 2)
    val path = SparkEntry.cleanedTempDir("ivf_model_spec_") + "/m"
    Ivf.saveModel(model, path)(spark)
    val loaded = Ivf.loadModel(spark, path)
    // bit-exact: doubles survive parquet unchanged, order restored
    // from explicit keys
    assert(loaded.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
    val direct = Ivf.assign(vecs, "vec_id", "embedding", model)
      .select("vec_id", "centroid_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaArtifact = Ivf.assign(vecs, "vec_id", "embedding", loaded)
      .select("vec_id", "centroid_id").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(direct == viaArtifact)
  }

  test("IVF loadModel refuses torn artifacts instead of zero-filling missing cells") {
    import graft.llm.Ivf
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Seq(1f, 0f, 0f) else Seq(0f, 1f, 0f)
      (i, base.map(_ + (i % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(vecs, "embedding", k = 2)
    val dir = SparkEntry.cleanedTempDir("ivf_torn_spec_")
    Ivf.saveModel(model, s"$dir/full")(spark)
    // tear the artifact: drop one cell, write it back
    spark.read.parquet(s"$dir/full")
      .where(!(col("centroid_id") === 1 && col("dim") === 2))
      .coalesce(1).write.parquet(s"$dir/torn")
    val torn = intercept[IllegalArgumentException] { Ivf.loadModel(spark, s"$dir/torn") }
    assert(torn.getMessage.contains("torn"), torn.getMessage)
    // duplicate a cell: same count can only pass if keys are distinct
    val full = spark.read.parquet(s"$dir/full")
    full.where(!(col("centroid_id") === 1 && col("dim") === 2))
      .union(full.where(col("centroid_id") === 0 && col("dim") === 0))
      .coalesce(1).write.parquet(s"$dir/dup")
    val dup = intercept[IllegalArgumentException] { Ivf.loadModel(spark, s"$dir/dup") }
    assert(dup.getMessage.contains("duplicate cell"), dup.getMessage)
    // losing EVERY row of the last centroid must read as torn, not as
    // a plausible smaller model (k is declared on the rows, not
    // derived from surviving max ids)
    full.where(col("centroid_id") =!= 1)
      .coalesce(1).write.parquet(s"$dir/lost_tail")
    val tail = intercept[IllegalArgumentException] { Ivf.loadModel(spark, s"$dir/lost_tail") }
    assert(tail.getMessage.contains("torn"), tail.getMessage)
  }

  test("IVF cell layout: probes prune partitions and answer exactly the in-memory topK") {
    import graft.llm.Ivf
    val vecs = (0L until 60L).map { i =>
      val base = i % 3 match {
        case 0 => Seq(1f, 0f, 0f); case 1 => Seq(0f, 1f, 0f); case _ => Seq(0f, 0f, 1f)
      }
      (i, base.map(_ + (i % 7) * 0.01f))
    }.toDF("vec_id", "embedding")
    val model = Ivf.train(vecs, "embedding", k = 3)
    val path = SparkEntry.cleanedTempDir("ivf_layout_spec_") + "/cells"
    Ivf.writeCellLayout(vecs, "vec_id", "embedding", model, path)
    val probes = vecs.where(col("vec_id") < 2)
    val viaLayout = Ivf.cellLayoutTopK(spark, path, probes,
      "vec_id", "embedding", model, k = 4, nProbe = 1)
    // directory pruning reaches the scan: the store read carries a
    // PARTITION filter on centroid_id, not a post-scan data filter
    val plan = viaLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("centroid_id"),
      s"cell read must partition-prune:\n$plan")
    val direct = Ivf.ivfTopK(vecs, probes, "vec_id", "embedding", model,
      k = 4, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val got = viaLayout.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == direct)

    // incremental append: a new batch lands only in its own cells and
    // the next read answers as if the store were rebuilt whole
    val batch = Seq((100L, Seq(1f, 0.001f, 0f))).toDF("vec_id", "embedding")
    Ivf.appendToCellLayout(batch, "vec_id", "embedding", model, path)
    val after = Ivf.cellLayoutTopK(spark, path, probes,
      "vec_id", "embedding", model, k = 4, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val rebuilt = Ivf.ivfTopK(vecs.unionByName(batch), probes, "vec_id", "embedding",
      model, k = 4, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(after == rebuilt)
    assert(after.exists(_._2 == 100L), "the appended vector must be findable")
  }
}
