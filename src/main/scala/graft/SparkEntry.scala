package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{ParquetResolver, StudyRunner, Interpreter, PipelineContext}
import graft.io.{ConfigReader, Export, NestedStore, Standardized}
import graft.llm.{Dedup, Multimodal, Similarity, Sketch, TextAnalysis}
import graft.model._
import graft.ops.Ops

/** Driver contract (SURVEY.md §7): one queries entry per implemented
  * operator, each with a DuckDB oracle over the same parquet tables.
  * Column names are aligned between the Spark plan and the SQL — the
  * driver's compare sorts columns by name before hashing.
  */
object SparkEntry {
  import QueryHelpers._

  /** See [[QueryHelpers.cleanedTempDir]] — kept here because tools and
    * the driver mains call it by this name. */
  def cleanedTempDir(prefix: String): String = QueryHelpers.cleanedTempDir(prefix)

  /** Flagship: the config-driven study pipeline end-to-end on
    * sf0.001 (config CSVs under fixtures/, data from testdata).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val study = ConfigReader.readStudy(spark, Fixtures.path("study_demo"))
    StudyRunner.run(study, new ParquetResolver(spark, dir))
  }


  /** One entry per implemented operator (SURVEY.md §2 + the LLM
    * pipeline families), concatenated from the per-family registries
    * under graft/registry — the round-13 split; names are unique by
    * the ContractSpec gate, so ++ cannot drop an entry silently.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ConfigOpQueries.queries ++
    EngineStoreQueries.queries ++
    EventQueries.queries ++
    DedupQueries.queries ++
    SimilarityQueries.queries ++
    TextQueries.queries ++
    CorpusQueries.queries ++
    DqSketchQueries.queries ++
    MultimodalQueries.queries

  /** Bench-only phase decomposition (consumed by Bench.main): the
    * same code paths as the registry query, with a timing boundary
    * between the store WRITE (nest shuffle + partitioned parquet) and
    * the partition-pruned READ, so the pruned-read cost — the number
    * that matters for a point lookup on a 100 TB store — is visible
    * on its own instead of buried in a roundtrip total. Phases run in
    * order within one bench rep; each thunk fully materializes.
    * Correctness still gates the fused registry query; this map only
    * changes how Bench times it.
    */
  def benchPhases: Map[String, (SparkSession, String) => Seq[(String, () => Unit)]] = Map(
    "s1_keyed_scan" -> ((s, d) => {
      val store = scratch("bench_keyed_store")
      Seq(
        "write" -> { () =>
          val base = t(s, d, "lineitem").select(
            col("l_returnflag").as("study_code"), col("l_linestatus").as("view"),
            col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          NestedStore.write(NestedStore.nest(base, "study_code", "view"), store)
        },
        "read" -> { () =>
          NestedStore.flatten(
            s.read.parquet(store).where(col("study_code") === "R" && col("view") === "F"))
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // the chunk-index lifecycle split the same way: the write-once
    // store-side index build vs the steady-state ingest that reads it
    // — fused, the build (a full store chunking) buries exactly the
    // per-batch cost the index exists to remove
    "mm_neardup_incr_indexed" -> ((s, d) => {
      import graft.llm.Multimodal
      val idxPath = scratch(s"bench_mm_chunk_index_${Integer.toHexString(d.hashCode)}")
      def docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      Seq(
        "index" -> { () =>
          Multimodal.binaryChunkIndex("content", "doc_id", divisor = 16, window = 8)(
            docs.where(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
            .write.mode("overwrite").parquet(idxPath)
        },
        "ingest" -> { () =>
          Multimodal.binaryIncrementalNearDupIndexed("content", "doc_id", minJaccard = 0.3,
            divisor = 16, window = 8, maxDocFreq = 64L)(
            docs.where(org.apache.spark.sql.functions.col("doc_id") % 5 === 0),
            s.read.parquet(idxPath))
            .drop("content")
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // the PRODUCTION chunker's twin of the split above, on the SAME
    // corpus shape and divisor as the md5 face (the gated
    // mm_neardup_incr_gear runs planted 256-byte content so its
    // oracle stays closed-form; these phases time the production path
    // on the real documents bytes so "#index"/"#ingest" compare
    // apples-to-apples against mm_neardup_incr_indexed's — the
    // gear-vs-md5 per-byte rate is exactly the number verdict r17
    // asked to move)
    "mm_neardup_incr_gear" -> ((s, d) => {
      import graft.llm.Multimodal
      val gear = Multimodal.GearChunker(divisor = 16, window = 8)
      val idxPath = scratch(s"bench_mm_gear_index_${Integer.toHexString(d.hashCode)}")
      def docs = Multimodal.withBinaryContent("text")(t(s, d, "documents"))
      Seq(
        "index" -> { () =>
          Multimodal.binaryChunkIndex("content", "doc_id", gear)(
            docs.where(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0))
            .write.mode("overwrite").parquet(idxPath)
        },
        "ingest" -> { () =>
          Multimodal.binaryIncrementalNearDupIndexed("content", "doc_id", minJaccard = 0.3,
            gear, maxDocFreq = 64L)(
            docs.where(org.apache.spark.sql.functions.col("doc_id") % 5 === 0),
            s.read.parquet(idxPath))
            .drop("content")
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // same split for the whole-store audit face: index build vs the
    // index-only pair audit (the recurring cost)
    "mm_neardup_pairs_indexed" -> ((s, d) => {
      import graft.llm.Multimodal
      val idxPath = scratch(s"bench_mm_pairs_index_${Integer.toHexString(d.hashCode)}")
      Seq(
        "index" -> { () =>
          Multimodal.binaryChunkIndex("content", "doc_id", divisor = 16, window = 8)(
            Multimodal.withBinaryContent("text")(t(s, d, "documents")))
            .write.mode("overwrite").parquet(idxPath)
        },
        "audit" -> { () =>
          Multimodal.binaryNearDupPairsIndexed("doc_id", minJaccard = 0.3,
            maxDocFreq = 64L)(s.read.parquet(idxPath))
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // the maintenance story split into its real phases: what a full
    // rebuild costs vs what the steady-state append costs for the
    // same arriving third — fused, the rebuild buries the append
    "s17_ivf_append" -> ((s, d) => {
      val path = scratch("bench_ivf_cells_append")
      val emb = t(s, d, "embeddings")
      Seq(
        // rebuild from the DISJOINT rest (matching the gated
        // EngineStoreQueries variant's store/batch split) so the
        // append phase completes the corpus instead of duplicating a
        // third of it — the probed layout is the documented
        // rebuild-then-append composition, not a corpus + dup-third
        "rebuild" -> { () =>
          graft.llm.Ivf.writeCellLayout(emb.where(col("vec_id") % 3 =!= 0),
            "vec_id", "embedding", ivfModel(s, d), path)
        },
        "append" -> { () =>
          graft.llm.Ivf.appendToCellLayout(emb.where(col("vec_id") % 3 === 0),
            "vec_id", "embedding", ivfModel(s, d), path)
        },
        "probe" -> { () =>
          graft.llm.Ivf.cellLayoutTopK(s, path, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", ivfModel(s, d), k = 5, nProbe = 4)
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // the quantized twin of the s17 split: what a full quantized
    // rebuild costs vs the steady-state append for the same arriving
    // third, plus the pruned code-only probe — the three numbers of
    // the deployed search tier's write/read economy
    "s18_ivf_quant_append" -> ((s, d) => {
      val path = scratch("bench_ivf_quant_append")
      val emb = t(s, d, "embeddings")
      Seq(
        "rebuild" -> { () =>
          graft.llm.Ivf.writeQuantCellLayout(emb.where(col("vec_id") % 3 =!= 0),
            "vec_id", "embedding", ivfModel(s, d), path)
        },
        "append" -> { () =>
          graft.llm.Ivf.appendToQuantCellLayout(emb.where(col("vec_id") % 3 === 0),
            "vec_id", "embedding", ivfModel(s, d), path)
        },
        "probe" -> { () =>
          graft.llm.Ivf.quantCellLayoutTopK(s, path, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", ivfModel(s, d), k = 5, nProbe = 4)
            .write.mode("overwrite").format("noop").save()
        })
    }),
    // the deployed-index lifecycle split into its real phases: the
    // write-once layout build vs the steady-state pruned probe read —
    // a fused timing buries the read path the layout exists to serve
    "s16_ivf_cell_layout" -> ((s, d) => {
      val path = scratch("bench_ivf_cells")
      val emb = t(s, d, "embeddings")
      Seq(
        "write" -> { () =>
          graft.llm.Ivf.writeCellLayout(emb, "vec_id", "embedding", ivfModel(s, d), path)
        },
        "probe" -> { () =>
          graft.llm.Ivf.cellLayoutTopK(s, path, emb.where(col("vec_id") < 5),
            "vec_id", "embedding", ivfModel(s, d), k = 5, nProbe = 4)
            .write.mode("overwrite").format("noop").save()
        })
    }))

  /** Oracles whose SQL depends on runtime-trained state: generated at
    * Verify time and merged into oracle_sql.json next to the static
    * map. sim_ivf_topk embeds the seeded-KMeans centroids (shared with
    * the query via [[ivfModel]]) as DOUBLE[] literals.
    */
  def dynamicOracleSql: Map[String, (SparkSession, String) => String] = reg(
    // fertility under the TRAINED merge table: the shared encode
    // replay with the memoized trained merges embedded as literals —
    // training itself is independently gated (text_bpe_train derives
    // the trajectory in SQL; this face pins its APPLICATION)
    "bpe_fertility_trained" -> ((s, d) =>
      bpeEncodeOracle(trainedBpe(s, d).map(m => (m.lhs, m.rhs)))),
    "sim_ivf_topk" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      // dist replicates Ivf.nearestCentroids exactly: term (v_j-c_j)^2
      // folded ascending (list_inner_product of the diff with itself)
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |corp AS (SELECT vec_id AS neighbor_id, cid AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |prb AS (SELECT vec_id AS probe_id, cid AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d WHERE vec_id < 5) WHERE rn <= 4),
         |scored AS (SELECT p.probe_id, c.neighbor_id, ${duckCosine("x.v", "y.v")} AS sim
         |  FROM corp c JOIN prb p USING (centroid_id)
         |  JOIN e x ON c.neighbor_id = x.vec_id JOIN e y ON p.probe_id = y.vec_id)
         |SELECT probe_id, neighbor_id, sim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin
    }),
    // quantized IVF replay: the assignment CTE + the int8 code CTE,
    // pruned join on cells, scale-cancelling cosine (exact integer
    // dots as DOUBLE — values < 2^53, so bit-equal), null cosines
    // coalesced below the floor exactly like the query
    "sim_ivf_quant_topk" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, v,
         |        list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |qq AS (SELECT vec_id, v,
         |        list_transform(v, x -> CASE WHEN scale = 0 THEN 0
         |          ELSE CAST(floor(x / scale * 127 + 0.5) AS INTEGER) END)::DOUBLE[] AS qa
         |      FROM q),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |corp AS (SELECT vec_id AS neighbor_id, cid AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |prb AS (SELECT vec_id AS probe_id, cid AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d WHERE vec_id < 5) WHERE rn <= 4),
         |scored AS (SELECT p.probe_id, c.neighbor_id,
         |    CASE WHEN sqrt(list_inner_product(x.qa, x.qa)) * sqrt(list_inner_product(y.qa, y.qa)) > 0
         |         THEN list_inner_product(x.qa, y.qa) /
         |              (sqrt(list_inner_product(x.qa, x.qa)) * sqrt(list_inner_product(y.qa, y.qa)))
         |    END AS qsim
         |  FROM corp c JOIN prb p USING (centroid_id)
         |  JOIN qq x ON c.neighbor_id = x.vec_id JOIN qq y ON p.probe_id = y.vec_id)
         |SELECT probe_id, neighbor_id, qsim, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY COALESCE(qsim, -2.0) DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM scored)
         |WHERE rank <= 5""".stripMargin
    }),
    // rerank replay: the quantized top-(k*3) CTE feeding the float
    // cosine re-rank — both stages in one SQL derivation
    "sim_ivf_quant_rerank" -> ((s, d) => {
      val base = dynamicOracleSql("sim_ivf_quant_topk")(s, d)
      // reuse the quantized replay with its final SELECT swapped for
      // the candidate CTE + the float rerank
      val trimmed = base.substring(0, base.lastIndexOf("SELECT probe_id"))
      trimmed +
        s"""SELECT probe_id, neighbor_id, sim, rank FROM (
           |  SELECT cand.probe_id, cand.neighbor_id, ${duckCosine("x.v", "y.v")} AS sim,
           |    CAST(row_number() OVER (PARTITION BY cand.probe_id
           |      ORDER BY ${duckCosine("x.v", "y.v")} DESC, cand.neighbor_id) AS INTEGER) AS rank
           |  FROM (SELECT probe_id, neighbor_id FROM (
           |          SELECT *, row_number() OVER (PARTITION BY probe_id
           |            ORDER BY COALESCE(qsim, -2.0) DESC, neighbor_id) AS qrn
           |          FROM scored) WHERE qrn <= 15) cand
           |  JOIN e x ON cand.neighbor_id = x.vec_id
           |  JOIN e y ON cand.probe_id = y.vec_id)
           |WHERE rank <= 5""".stripMargin
    }),
    // the quantized layout answers exactly what the in-memory
    // quantized search answers — same replay
    "s18_ivf_quant_layout" -> ((s, d) => dynamicOracleSql("sim_ivf_quant_topk")(s, d)),
    // append-maintained quantized layout == rebuilt quantized layout
    // == in-memory quantized search: the steady-state write path may
    // not change a single probe answer
    "s18_ivf_quant_append" -> ((s, d) => dynamicOracleSql("sim_ivf_quant_topk")(s, d)),
    // the partitioned-layout search answers exactly what the
    // in-memory IVF answers — same replay
    "s16_ivf_cell_layout" -> ((s, d) => dynamicOracleSql("sim_ivf_topk")(s, d)),
    // append-maintained layout == rebuilt layout == in-memory IVF:
    // the steady-state write path may not change a single probe answer
    "s17_ivf_append" -> ((s, d) => dynamicOracleSql("sim_ivf_topk")(s, d)),
    // deletion propagation: the post-erase layout answers exactly
    // what the in-memory search answers over the SURVIVING corpus —
    // the shared replay with the erased slice filtered out of the e
    // CTE (probes derive from e, so they exclude the erased ids too,
    // matching the query's probe filter). The splice is guarded: a
    // silent no-op would gate the erase against the full corpus
    "s18_ivf_erase" -> ((s, d) => {
      val base = dynamicOracleSql("sim_ivf_topk")(s, d)
      val out = base.replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 7 <> 3)")
      require(out != base, "s18_ivf_erase oracle: corpus-filter splice failed")
      out
    }),
    "s18_ivf_quant_erase" -> ((s, d) => {
      val base = dynamicOracleSql("sim_ivf_quant_topk")(s, d)
      val out = base.replace("AS v FROM embeddings)",
        "AS v FROM embeddings WHERE vec_id % 7 <> 3)")
      require(out != base, "s18_ivf_quant_erase oracle: corpus-filter splice failed")
      out
    }),
    // roundtrip assignment replay: the TRAINED centroids as literals
    // (loaded == trained iff the artifact round-trips bit-exactly)
    "s15_ivf_model_roundtrip" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1)
         |SELECT vec_id, centroid_id FROM asg""".stripMargin
    }),
    // cell-purity replay: same assignment CTE; counts + mode with
    // the tie-to-lowest-label rule
    "sim_cell_purity" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |counts AS (SELECT a.centroid_id, e.label AS l, count(*) AS n
         |           FROM asg a JOIN e ON a.vec_id = e.vec_id GROUP BY 1, 2),
         |tot AS (SELECT centroid_id, CAST(SUM(n) AS BIGINT) AS n_vectors FROM counts GROUP BY 1)
         |SELECT c.centroid_id, t.n_vectors, c.l AS majority_label, c.n AS n_majority,
         |       CAST(c.n AS DOUBLE) / t.n_vectors AS purity
         |FROM (SELECT *, row_number() OVER (PARTITION BY centroid_id ORDER BY n DESC, l) AS rn
         |      FROM counts) c
         |JOIN tot t ON c.centroid_id = t.centroid_id
         |WHERE c.rn = 1""".stripMargin
    }),
    // label-consistency replay: same assignment CTE; same-cell
    // neighbors ranked excluding self (equivalent to the query's
    // top-(k+1)-then-drop-self two-stage — self holds at most one
    // slot), majority vote ties to the lowest label
    "sim_label_consistency" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |knn AS (SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id, ${duckCosine("ea.v", "eb.v")} AS sim
         |        FROM asg a JOIN asg b USING (centroid_id)
         |        JOIN e ea ON a.vec_id = ea.vec_id JOIN e eb ON b.vec_id = eb.vec_id
         |        WHERE a.vec_id <> b.vec_id),
         |topk AS (SELECT probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rn FROM knn)
         |  WHERE rn <= 5),
         |votes AS (SELECT t.probe_id, e.label AS nl, count(*) AS n
         |          FROM topk t JOIN e ON t.neighbor_id = e.vec_id GROUP BY 1, 2),
         |maj AS (SELECT probe_id AS vec_id, nl AS knn_label, n AS n_votes FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY n DESC, nl) AS rv FROM votes)
         |  WHERE rv = 1)
         |SELECT e.vec_id, e.label, m.knn_label,
         |       COALESCE(m.n_votes, 0) AS n_votes,
         |       COALESCE(e.label = m.knn_label, FALSE) AS consistent
         |FROM e LEFT JOIN maj m ON e.vec_id = m.vec_id""".stripMargin
    }),
    // Lloyd-refinement replay: same assignment CTE; the per-(cell,
    // dim) sums quantize each component BEFORE summation, so both
    // engines sum exact integers and combine order cannot matter
    "ivf_refine_cells" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |x AS (SELECT a.centroid_id, CAST(g.j - 1 AS INTEGER) AS dim,
         |             CAST(round(e.v[g.j] * 10000) AS BIGINT) AS q
         |      FROM asg a JOIN e ON a.vec_id = e.vec_id,
         |           LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS j) g)
         |SELECT centroid_id, dim, CAST(SUM(q) AS BIGINT) AS sum_q, count(*) AS n_assigned
         |FROM x GROUP BY 1, 2""".stripMargin
    }),
    // SemDeDup replay: the assignment CTE mirrors sim_ivf_topk's
    // (nearest centroid by squared distance, ties to the lower cid);
    // the drop rule is the keep-lowest-id within-cell cosine gate
    "sim_semdedup_keep" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |drops AS (SELECT DISTINCT b.vec_id
         |          FROM asg a JOIN asg b USING (centroid_id)
         |          JOIN e ea ON a.vec_id = ea.vec_id
         |          JOIN e eb ON b.vec_id = eb.vec_id
         |          WHERE a.vec_id < b.vec_id AND ${duckCosine("ea.v", "eb.v")} >= 0.4)
         |SELECT g.vec_id, g.centroid_id FROM asg g
         |WHERE g.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin
    }),
    // cluster-balanced sample replay: same assignment CTE; the md5
    // order key is the 60-bit hex-prefix integer (monotone in the
    // query's hashFraction, so row_number agrees)
    "sample_cluster_balanced" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1)
         |SELECT vec_id, centroid_id FROM (
         |  SELECT vec_id, centroid_id,
         |         row_number() OVER (PARTITION BY centroid_id
         |           ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS rn
         |  FROM asg)
         |WHERE rn <= 3""".stripMargin
    }),
    // skew-hardened SemDeDup: cell assignment + 4-plane sub-bucket
    // (multi-probe left side) replayed with the same plane literals
    // the query derives from hyperplanes(64, 4, 42)
    "sim_semdedup_bucketed" -> ((s, d) => {
      val m = ivfModel(s, d)
      val cents = m.centroids.zipWithIndex.map { case (c, i) =>
        s"($i, [${c.mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
      val planes = Similarity.hyperplanes(64, 4, 42L)
      val bucketExpr = planes.zipWithIndex.map { case (plane, p) =>
        s"(CASE WHEN list_inner_product(v, [${plane.mkString(",")}]) > 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString(" + ")
      val probeList =
        s"[bucket${(0 until planes.length).map(i => s", xor(bucket, ${1L << i})").mkString}]"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |cents(cid, c) AS (VALUES $cents),
         |d AS (SELECT vec_id, cid,
         |        list_inner_product(list_transform(generate_series(1, len(v)), j -> v[j] - c[j]),
         |                           list_transform(generate_series(1, len(v)), j -> v[j] - c[j])) AS dist
         |      FROM e CROSS JOIN cents),
         |asg AS (SELECT vec_id, CAST(cid AS INTEGER) AS centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) WHERE rn = 1),
         |bk AS (SELECT vec_id, $bucketExpr AS bucket FROM e),
         |l AS (SELECT a.vec_id, a.centroid_id, unnest($probeList) AS bucket
         |      FROM asg a JOIN bk USING (vec_id)),
         |r AS (SELECT a.vec_id, a.centroid_id, bucket FROM asg a JOIN bk USING (vec_id)),
         |drops AS (SELECT DISTINCT b.vec_id
         |          FROM l a JOIN r b ON a.centroid_id = b.centroid_id AND a.bucket = b.bucket
         |          JOIN e ea ON a.vec_id = ea.vec_id
         |          JOIN e eb ON b.vec_id = eb.vec_id
         |          WHERE a.vec_id < b.vec_id AND ${duckCosine("ea.v", "eb.v")} >= 0.4)
         |SELECT g.vec_id, g.centroid_id FROM asg g
         |WHERE g.vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin
    }))


  /** DuckDB oracles — every entry in [[queries]] has one here or in
    * [[dynamicOracleSql]]; no silent rows-only rows remain.
    */
  def oracleSql: Map[String, String] =
    ConfigOpQueries.oracleSql ++
    EngineStoreQueries.oracleSql ++
    EventQueries.oracleSql ++
    DedupQueries.oracleSql ++
    SimilarityQueries.oracleSql ++
    TextQueries.oracleSql ++
    CorpusQueries.oracleSql ++
    DqSketchQueries.oracleSql ++
    MultimodalQueries.oracleSql
}
