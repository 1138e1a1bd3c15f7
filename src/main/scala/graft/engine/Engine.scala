package graft.engine

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model._
import graft.ops.Ops
import graft.parse.KvList

/** The engine replacing the reference's row-by-row pandas interpreter
  * (Configurable_ETL_Python.py:434-522, 589-604). Key design shift:
  * every step only BUILDS a lazy Catalyst plan — nothing materializes
  * until a sink/action, so Catalyst sees the whole config's plan and
  * can push filters/prune columns across config-row boundaries the
  * reference executes eagerly one at a time.
  */

/** Replaces `globals()` (Configurable_ETL_Python.py:447,462): an
  * immutable catalog of named DataFrames plus per-name sort-order
  * metadata. SORT DATASET is pure metadata here (no physical sort is
  * planned mid-pipeline): the order-dependent ops (UNIQUE COLUMN,
  * GROUPBY SLICE, SUMMARISE first/last) compile it into window/max_by
  * specifications, which re-sort per-partition anyway — a materialized
  * global sort before them would be a wasted full range-shuffle at
  * 100 TB. A trailing sort is applied physically only on [[result]].
  */
final case class PipelineContext(
    catalog: ListMap[String, DataFrame] = ListMap.empty,
    lastSort: Map[String, Seq[SortKey]] = Map.empty) {

  def bind(name: String, df: DataFrame, order: Seq[SortKey] = Nil): PipelineContext = {
    // trim for symmetry with every lookup (df/order/contains all trim
    // their key) — a padded objectName would otherwise bind a frame no
    // lookup can resolve
    val n = name.trim
    copy(
      catalog = catalog.updated(n, df),
      lastSort = if (order.isEmpty) lastSort - n else lastSort.updated(n, order))
  }

  def df(name: String): DataFrame = catalog.getOrElse(
    name.trim,
    throw new NoSuchElementException(s"no frame named '$name' in pipeline catalog"))

  def order(name: String): Seq[SortKey] = lastSort.getOrElse(name.trim, Nil)

  def contains(name: String): Boolean = catalog.contains(name.trim)

  /** Terminal fetch: apply any pending sort physically so a trailing
    * SORT DATASET is visible in the output, as in pandas.
    */
  def result(name: String): DataFrame = {
    val base = order(name) match {
      case Nil => df(name)
      case o => df(name).orderBy(graft.ops.Ops.sortCols(o): _*)
    }
    // strip hidden retained sort keys ([[Interpreter.OrdPrefix]]) —
    // they are order plumbing, not output schema. The orderBy above
    // runs first, so a trailing sort on a hidden key is still honored.
    val hidden = base.columns.filter(_.startsWith(Interpreter.OrdPrefix)).toIndexedSeq
    if (hidden.isEmpty) base else base.drop(hidden: _*)
  }
}

/** Resolves GET_DATA sources. Pluggable so tests/queries can serve
  * the nested store from any layout.
  */
trait SourceResolver {
  /** Keyed scan of the nested (study_code, view, data) store —
    * Configurable_ETL_Python.py:30-41. Must return the FLATTENED rows.
    */
  def storeView(studyCode: String, view: String): DataFrame
  /** A named flat table (our lakehouse layout / test harness). */
  def table(name: String): DataFrame
}

/** Serves `table` from `<dir>/<name>.parquet` and `storeView` from a
  * nested-store parquet at `<storeDir>` partitioned by
  * (study_code, view) — partition pruning turns the keyed scan into a
  * file-level point lookup, the Spark analogue of the reference's
  * DynamoDB Query on the same keys.
  */
final class ParquetResolver(spark: SparkSession, dir: String, storeDir: Option[String] = None)
    extends SourceResolver {
  def storeView(studyCode: String, view: String): DataFrame = {
    val sd = storeDir.getOrElse(s"$dir/store")
    // Read the (study_code, view) partition DIRECTORY directly — the
    // lake analogue of a DynamoDB Query point-lookup. Views hold
    // heterogeneous document schemas (different `data` structs), so a
    // whole-store read would fail schema merge; the partition path is
    // the isolation boundary. The key columns are restored as
    // constants, like the reference's json_normalize(record_path=
    // 'data', meta=['study_code','view']) (Configurable_ETL_Python
    // .py:36-41) — a config may project or filter on them.
    val viewDir = s"$sd/study_code=$studyCode/view=$view"
    val reader = ParquetResolver.footerSchema(spark, viewDir)
      .fold(spark.read)(spark.read.schema(_))
    val flat = graft.io.NestedStore.flatten(reader.parquet(viewDir))
    // a payload field named like a key would make json_normalize raise
    // a conflicting-metadata error in the reference; fail equally loud.
    // Case-INSENSITIVE check: withColumn resolves case-insensitively
    // under Spark's default caseSensitive=false, so a payload
    // 'Study_Code' would otherwise be silently REPLACED by the constant
    require(!flat.columns.exists(c =>
        c.equalsIgnoreCase("study_code") || c.equalsIgnoreCase("view")),
      s"store view $studyCode/$view: payload carries a 'study_code'/'view' " +
        "field that conflicts with the document keys")
    flat.withColumn("study_code", lit(studyCode)).withColumn("view", lit(view))
  }
  def table(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
}

object ParquetResolver {

  /** The schema `spark.read.parquet(dir).schema` reports, read on the
    * driver so building a plan over the directory fires no Spark job
    * (inference runs one job per read). It decodes the footer(s)
    * inference would: with `spark.sql.parquet.mergeSchema` off,
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path; with it on, every file (data files skipped when
    * `spark.sql.parquet.respectSummaryFiles` is on). None for a
    * missing directory, one with no data file, or one with
    * subdirectories (partition discovery) — the caller then reads
    * without a schema and Spark raises its usual error.
    */
  def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed =
      try fs.listStatus(path).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val visible = listed.filterNot(s => FooterSchema.hidden(s.getPath.getName))
      .sortBy(_.getPath.toString)
    val (summary, data) = visible.partition(s =>
      Set("_common_metadata", "_metadata").contains(s.getPath.getName))
    val (common, meta) = summary.partition(_.getPath.getName == "_common_metadata")
    if (data.isEmpty || visible.exists(_.isDirectory)) None
    else {
      val touch =
        if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) {
          val respect = spark.conf.get("spark.sql.parquet.respectSummaryFiles").toBoolean
          (if (respect) Nil else data) ++ meta ++ common
        } else (common ++ meta ++ data).take(1)
      FooterSchema.read(spark, touch)
    }
  }
}

object Interpreter {

  /** Prefix of hidden sort-key columns retained through a projection.
    * Pandas preserves the PHYSICAL row order through SELECT COLUMNS /
    * SELECT DISTINCT / REMOVE COLUMN, so a config may sort, project
    * the sort key away, and still rely on keep-first semantics
    * downstream. Spark has no physical row order — dropping the key
    * would silently degrade UNIQUE COLUMN to arbitrary-survivor
    * dropDuplicates and make SUMMARISE first/last throw — so the
    * pruned keys ride along under hidden names with the order
    * metadata remapped. [[PipelineContext.result]] and
    * [[deriveAnalyte]] strip them at the visible boundaries.
    */
  private[engine] val OrdPrefix = "__ord_"

  /** GET_DATA phase (Configurable_ETL_Python.py:434-454): load or
    * resolve each source, apply the optional filter then the tolerant
    * projection, and bind under the view name (store sources bind by
    * View, analyte refs by Object Name — mirroring `globals()[View]`
    * at :447 vs :442-444).
    */
  def getData(ctx0: PipelineContext, specs: Seq[GetDataSpec], resolver: SourceResolver): PipelineContext =
    specs.foldLeft(ctx0) { (ctx, g) =>
      g.source match {
        case SourceKind.AnalyteRef =>
          // memoization: the frame must already be in the catalog from
          // an earlier analyte (S3). Nothing to rebind.
          require(ctx.contains(g.objectName), s"analyte '${g.objectName}' not derived yet")
          ctx
        case src =>
          val base = src match {
            case SourceKind.StoreView(sc, v) => resolver.storeView(sc, v)
            case SourceKind.ParquetTable(n) => resolver.table(n)
            case SourceKind.AnalyteRef => throw new IllegalStateException("unreachable")
          }
          val filtered = g.filter.filter(_.trim.nonEmpty) match {
            case Some(f) => Ops.filterOp(f)(base)
            case None => base
          }
          val projected = Ops.selectColumnsTolerant(g.columns, g.distinct)(filtered)
          // reserve the hidden-snapshot namespace at the pipeline
          // entrance: with no source able to smuggle a __ord_ column
          // in, any such column mid-pipeline is engine-created, and
          // the stale-snapshot replacement in shieldOrder/REMOVE can
          // never clobber user data
          val reserved = projected.columns.filter(_.startsWith(Interpreter.OrdPrefix))
          require(reserved.isEmpty,
            s"source '${g.objectName}' carries column(s) ${reserved.mkString(", ")} " +
              s"using the reserved internal prefix '${Interpreter.OrdPrefix}' — rename them")
          ctx.bind(g.objectName, projected)
      }
    }

  /** One DF_OPERATIONS row (the dispatcher,
    * Configurable_ETL_Python.py:456-522). Sort-order metadata is
    * threaded: row-preserving unary ops propagate it (with key
    * remapping on RENAME), order-destroying ops (joins, unions,
    * group-bys) clear it, and the order-consuming ops compile it into
    * their window specs.
    */
  def applyOp(
      ctx: PipelineContext,
      spec: OperationSpec,
      decisionTables: Map[String, DecisionTable]): PipelineContext = {
    val out = spec.objectName.trim
    val frames = spec.frames.map(_.trim).filter(_.nonEmpty)
    def in = ctx.df(frames.head)
    def inOrder = ctx.order(frames.head)
    val cond = spec.condition
    def kv = KvList.parseLenient(cond)

    // Sort keys pruned by a projection, and the metadata remap that
    // points at their hidden ride-along columns (see [[OrdPrefix]]).
    def prunedKeys(cols: Seq[String]): Seq[String] =
      inOrder.map(_.col).filterNot(cols.contains)
    def remapHidden(pruned: Seq[String]): Seq[SortKey] =
      inOrder.map(k => if (pruned.contains(k.col)) k.copy(col = OrdPrefix + k.col) else k)

    // the other half of getData's reservation: ops that CREATE a
    // column under a user-chosen name must not mint one inside the
    // hidden-snapshot namespace
    def userName(n: String): String = {
      require(!n.startsWith(OrdPrefix),
        s"column name '$n' uses the reserved internal prefix '$OrdPrefix' — pick another")
      n
    }

    // An op about to OVERWRITE a sort-key column's values: pandas'
    // physical row order stays frozen at sort time, but our lazy
    // order metadata would make later windows re-sort by the NEW
    // values. Snapshot the pre-overwrite values under a hidden name
    // and remap the metadata — same ride-along discipline as pruned
    // projections ([[OrdPrefix]]).
    def shieldOrder(target: String): (DataFrame, Seq[SortKey]) = {
      // every caller passes a user-supplied column name (the overwrite
      // target), so the namespace check rides here once — OUTSIDE the
      // exists predicate, which never evaluates on an empty order
      userName(target)
      if (!inOrder.exists(_.col == target)) (in, inOrder)
      else {
        val hidden = OrdPrefix + target
        // a hidden snapshot from an EARLIER shield whose order entry a
        // later SORT DATASET replaced is dead plumbing — drop it and
        // re-snapshot (the config 'sort d, format d, sort d, format d'
        // is valid pandas). Only a snapshot the CURRENT order still
        // references is a genuine clash: overwriting it would corrupt
        // the active order, so that fails loudly (unreachable through
        // the grammar, which can't name __ord_ columns in sort_cols).
        require(!inOrder.exists(_.col == hidden),
          s"cannot shield sort key '$target': the current order still " +
            s"references internal column '$hidden'")
        val src = if (in.columns.contains(hidden)) in.drop(hidden) else in
        (src.withColumn(hidden, col(target)),
          inOrder.map(k => if (k.col == target) k.copy(col = hidden) else k))
      }
    }

    spec.opType.trim.toUpperCase match {
      case "RENAME COLUMN" =>
        // grammar: alternating '='-split pairs (rename_columns, :223-228)
        val toks = cond.split("=").map(_.trim).filter(_.nonEmpty).toSeq
        require(toks.size % 2 == 0, s"RENAME COLUMN needs old=new pairs, got '$cond'")
        val pairs = toks.grouped(2).map { s => (s(0), userName(s(1))) }.toSeq
        // same last-wins map semantics as Ops.renameColumns (dict order)
        val m = pairs.toMap
        val remapped = inOrder.map(k => k.copy(col = m.getOrElse(k.col, k.col)))
        ctx.bind(out, Ops.renameColumns(pairs)(in), remapped)

      case "FORMAT COLUMN" =>
        // grammar: column=c, type=datetime#<strftime> | type=number (:230-248)
        val (fSrc, fOrd) = shieldOrder(kv("column"))
        ctx.bind(out, Ops.formatColumn(kv("column"), kv("type"))(fSrc), fOrd)

      case "FILTER" =>
        ctx.bind(out, Ops.filterOp(cond)(in), inOrder)

      case "LEFT JOIN" =>
        // pandas' left merge PRESERVES the left frame's row order
        // (duplicated rows for multi-matches stay adjacent), so an
        // established sort survives. The _x/_y collision policy may
        // rename a sort-key column — deterministically to `k_x`
        // (namedJoin suffixes the LEFT copy), so the metadata remaps
        // to the suffixed name instead of being dropped.
        val right = ctx.df(frames(1))
        val joinKeys = KvList.csv(cond).toSet
        val joined = Ops.namedJoin(in, right, KvList.csv(cond), "left")
        val remapped = inOrder.map { k =>
          if (right.columns.contains(k.col) && !joinKeys.contains(k.col))
            k.copy(col = k.col + "_x")
          else k
        }
        // demand each remapped key resolves to exactly ONE column: a
        // left frame that already carried 'v_x' plus a suffixed 'v'
        // yields duplicate 'v_x' columns, and keeping the order would
        // turn the next order-consuming op into AMBIGUOUS_REFERENCE —
        // clearing it (the pre-remap behavior) is the safe degrade.
        // Case-INSENSITIVE count: Spark resolves references that way
        // under the default caseSensitive=false, so 'V_x' vs 'v_x'
        // is just as ambiguous as an exact duplicate.
        ctx.bind(out, joined,
          if (remapped.forall(k =>
              joined.columns.count(_.equalsIgnoreCase(k.col)) == 1)) remapped
          else Nil)

      case "OUTER JOIN" =>
        ctx.bind(out, Ops.namedJoin(in, ctx.df(frames(1)), KvList.csv(cond), "full"))

      case "QUALIFIED JOIN" =>
        // general form (joining_columns, :250-264 — never dispatched in
        // the reference; our grammar: 'l.a = r.b & …', frames may carry
        // a third element = join type, default left)
        val pairs = cond.split("&").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
          val sides = p.split("=").map(_.trim)
          require(sides.length == 2, s"bad qualified join term '$p'")
          def colOf(s: String) = s.split("\\.").last.trim
          (colOf(sides(0)), colOf(sides(1)))
        }
        val how = if (frames.size > 2) frames(2) else "left"
        ctx.bind(out, Ops.qualifiedJoin(in, ctx.df(frames(1)), pairs, how))

      case "AGGREGATE COLUMN" =>
        // grammar: new_column=n, operation=MINIMUM|MAXIMUM, operation_cols=a#b (:266-284)
        val fn = kv("operation").toUpperCase match {
          case "MINIMUM" => "min"
          case "MAXIMUM" => "max"
          case other => throw new IllegalArgumentException(s"unknown AGGREGATE COLUMN op '$other'")
        }
        val cols = kv("operation_cols").split("#").map(_.trim).toSeq
        val (aSrc, aOrd) = shieldOrder(kv("new_column"))
        ctx.bind(out, Ops.aggregateColumn(kv("new_column"), cols, fn)(aSrc), aOrd)

      case "REMOVE COLUMN" =>
        val cols = KvList.csv(cond)
        val keyRemovals = inOrder.map(_.col).filter(cols.contains)
        if (keyRemovals.isEmpty) ctx.bind(out, Ops.removeColumns(cols)(in), inOrder)
        else {
          // removed sort keys go hidden instead of gone — pandas keeps
          // the row order the earlier sort established, and downstream
          // references to the removed NAME still fail (it's renamed)
          val dropped = Ops.removeColumns(cols.filterNot(keyRemovals.contains))(in)
          // same stale-snapshot discipline as shieldOrder: a hidden
          // column left by an EARLIER shield/remove whose order entry
          // was since replaced would collide with the rename — drop it
          // if dead, fail loudly if the current order still uses it
          val hiddenNames = keyRemovals.map(OrdPrefix + _)
          val live = hiddenNames.filter(h => inOrder.exists(_.col == h))
          require(live.isEmpty,
            s"cannot hide removed sort key(s) ${keyRemovals.mkString(", ")}: the " +
              s"current order still references ${live.mkString(", ")}")
          val stale = hiddenNames.filter(dropped.columns.contains)
          val cleaned = if (stale.isEmpty) dropped else dropped.drop(stale: _*)
          val renamed = Ops.renameColumns(keyRemovals.map(c => c -> (OrdPrefix + c)))(cleaned)
          ctx.bind(out, renamed, remapHidden(keyRemovals))
        }

      case "UNIQUE COLUMN" =>
        // keep-first semantics need the established order (:291-294)
        ctx.bind(out, Ops.uniqueColumns(KvList.csv(cond), inOrder)(in), inOrder)

      case "ADD COLUMN" =>
        val (adSrc, adOrd) = shieldOrder(kv("new_column"))
        ctx.bind(out, Ops.addColumn(kv("new_column"), kv("value"))(adSrc), adOrd)

      case "BIND ROWS" =>
        ctx.bind(out, Ops.bindRows(frames.map(ctx.df)))

      case "SORT DATASET" =>
        // pure metadata — see PipelineContext scaladoc. Grammar:
        // sort_cols=a,b[, sort_order=DESC] (:76-91; the reference
        // mis-parses multi-col sorts — we implement the intent and
        // record the divergence in SURVEY §4).
        val desc = kv.get("sort_order").exists(_.equalsIgnoreCase("DESC"))
        val keys = kv("sort_cols").split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .map(SortKey(_, desc))
        ctx.bind(out, in, keys)

      case "GROUPBY SUMMARISE" =>
        // grammar: group_by_cols=a,b | summary_col_ops=c#fn,d#fn (:346-357)
        val parts = KvList.parseLenient(cond, '|')
        val groups = parts("group_by_cols").split(",").map(_.trim).toSeq
        val aggs = KvList.hashPairs(parts("summary_col_ops"))
        // pandas groupby(sort=True).agg().reset_index() leaves the
        // output PHYSICALLY sorted by the group keys — downstream
        // order-dependent ops may lean on it with no explicit sort
        ctx.bind(out, Ops.groupbySummarise(groups, aggs, inOrder)(in),
          groups.map(SortKey(_)))

      case "REMOVE ROWS" =>
        // grammar: col=NULL | col=NULL1, EXACTLY — the reference
        // ValueErrors on any other operand (:359-369), so 'NULLX'
        // must fail loudly here too, not silently drop nulls
        val toks = cond.split("=").map(_.trim)
        require(toks.length == 2 && Set("NULL", "NULL1")(toks(1).toUpperCase),
          s"NON-EXISTING REMOVE ROWS OPERAND: '$cond'")
        ctx.bind(out, Ops.removeRows(toks(0))(in), inOrder)

      case "DECISION COLUMN" =>
        // grammar: new_column=n, lookup_column=c, decision_table_name=t (:380-398)
        val tbl = decisionTables.getOrElse(kv("decision_table_name"),
          throw new NoSuchElementException(s"no decision table '${kv("decision_table_name")}'"))
        // when-chain by default: decision tables are worksheet-sized
        // literals — zero join, stays in whole-stage codegen.
        val (dSrc, dOrd) = shieldOrder(kv("new_column"))
        ctx.bind(out,
          Ops.decisionColumnWhenChain(kv("new_column"), kv("lookup_column"), tbl.mapping)(dSrc),
          dOrd)

      case "SELECT COLUMNS" =>
        val cols = KvList.csv(cond)
        val pruned = prunedKeys(cols)
        if (pruned.isEmpty) ctx.bind(out, Ops.selectColumns(cols)(in), inOrder)
        else ctx.bind(out,
          in.select(cols.map(col) ++ pruned.map(c => col(c).as(OrdPrefix + c)): _*),
          remapHidden(pruned))

      case "SELECT DISTINCT" =>
        // pandas drop_duplicates keeps first occurrences IN ORDER. If
        // every sort key survives the projection the survivor set is
        // order-independent (the output has exactly the dedup cols),
        // so plain distinct suffices; with keys projected AWAY the
        // first occurrence's hidden keys are what downstream
        // order-dependent ops must see, so it compiles to keep-first
        // dedup over the hidden-key projection instead
        val dCols = KvList.csv(cond)
        val dPruned = prunedKeys(dCols)
        if (inOrder.isEmpty || dPruned.isEmpty)
          ctx.bind(out, Ops.selectDistinct(dCols)(in), inOrder)
        else {
          val remapped = remapHidden(dPruned)
          val proj = in.select(
            dCols.map(col) ++ dPruned.map(c => col(c).as(OrdPrefix + c)): _*)
          ctx.bind(out, Ops.uniqueColumns(dCols, remapped)(proj), remapped)
        }

      case "ATTACH COLUMN" =>
        // grammar: column_name=n, source_col=s, operation=OP[, value=v,
        // column_value=c] (:409-432)
        val name = kv("column_name")
        val src = kv("source_col")
        val (atSrc, atOrd) = shieldOrder(name)
        val df2 = kv("operation").toUpperCase match {
          case "NOTNULL" => Ops.attachNotNull(name, src)(atSrc)
          case "SUMEQ" =>
            val ab = src.split("\\|").map(_.trim)
            require(ab.length == 2, s"SUMEQ needs 'a|b' source cols, got '$src'")
            Ops.attachSumEq(name, ab(0), ab(1))(atSrc)
          case "NULL" => Ops.attachNullFill(name, src, kv("value"), kv("column_value"))(atSrc)
          case other => throw new IllegalArgumentException(s"unknown ATTACH COLUMN op '$other'")
        }
        ctx.bind(out, df2, atOrd)

      case "GROUPBY SLICE" =>
        // grammar: group_by_cols=a,b, slice_num=n (:67-74). pandas
        // groupby(sort=True).apply(iloc[:n]).droplevel(0) concatenates
        // the sliced groups in SORTED group-key order, each keeping the
        // frame's established order within — thread both.
        val groups = kv("group_by_cols").split(",").map(_.trim).toSeq
        val sliceOrder = groups.map(SortKey(_)) ++
          inOrder.filterNot(k => groups.contains(k.col))
        ctx.bind(out,
          Ops.groupbySlice(groups, kv("slice_num").trim.toInt, inOrder)(in), sliceOrder)

      case other =>
        throw new IllegalArgumentException(s"NON-EXISTING DF_OPERATION encountered: $other")
    }
  }

  /** Derive one analyte: GET_DATA then fold DF_OPERATIONS
    * (derive_analyte, Configurable_ETL_Python.py:580-587). Returns the
    * updated SHARED context — later analytes may reference this one.
    */
  def deriveAnalyte(
      ctx0: PipelineContext,
      analyte: AnalyteSpec,
      resolver: SourceResolver): PipelineContext = {
    val loaded = getData(ctx0, analyte.getData, resolver)
    val derived = analyte.operations.foldLeft(loaded)((c, op) =>
      applyOp(c, op, analyte.decisionTables))
    // Analyte boundary: hidden retained sort keys ([[OrdPrefix]]) are
    // internal to one op chain. Strip them so the stitch join and
    // AnalyteRef readers see the visible schema; an order that leaned
    // on a hidden key is no longer honest once the key is gone, so it
    // clears entirely rather than degrade to a weaker visible prefix.
    val f = derived.df(analyte.name)
    val hidden = f.columns.filter(_.startsWith(OrdPrefix)).toIndexedSeq
    if (hidden.isEmpty) derived
    else {
      val ord = derived.order(analyte.name)
      val keep = if (ord.exists(_.col.startsWith(OrdPrefix))) Nil else ord
      derived.bind(analyte.name, f.drop(hidden: _*), keep)
    }
  }
}

object StudyRunner {

  /** process_study (Configurable_ETL_Python.py:589-604): derive each
    * analyte in order against one shared context; the first seeds the
    * per-subject accumulator, the rest left-join onto it on the stitch
    * key. Pure plan construction: over store views served by
    * [[ParquetResolver]] it fires no Spark job, so a refresh's only
    * jobs are its sink's.
    *
    * An analyte that later analytes re-read (AnalyteRef memoization)
    * is not persisted: its sub-plan appears once per reader in the one
    * study plan, and AQE exchange reuse serves the later copies from
    * the first one's shuffle. A cache would plan the sub-query eagerly,
    * add a materialization barrier, and outlive the refresh (a later
    * store upsert re-caches it against replaced files). Reading the
    * sub-plan twice is sound because every copy computes the same rows:
    * every order-dependent op (UNIQUE COLUMN, GROUPBY SLICE, SUMMARISE
    * first/last) breaks sort-key ties with `rowHash`, a content hash,
    * not an arrival order; an order-free UNIQUE COLUMN is
    * `dropDuplicates`, whose survivor is arbitrary unless the dedup
    * keys cover every column of the frame — true of the one such op in
    * fixtures/clinical_study (`ds_death` on subject, subject_death). A
    * config that re-reads an analyte built by an order-free UNIQUE
    * COLUMN on a strict subset of its columns may see different
    * survivors in the two copies.
    */
  def run(study: StudySpec, resolver: SourceResolver): DataFrame = {
    val (accOpt, ctxF) = study.analytes.foldLeft((Option.empty[DataFrame], PipelineContext())) {
      case ((acc, ctx), analyte) =>
        val ctx1 = Interpreter.deriveAnalyte(ctx, analyte, resolver)
        // The catalog already holds the UNSORTED frame with its order
        // metadata: a later analyte that AnalyteRef-reads this one
        // keeps order-dependent semantics (UNIQUE COLUMN, first/last,
        // SLICE), and no range shuffle is planned ahead of the stitch
        // join — joins would destroy the physical order anyway.
        val res = ctx1.df(analyte.name)
        val acc2 = acc match {
          case None => Some(res)
          case Some(a) => Some(Ops.namedJoin(a, res, Seq(study.stitchKey), "left"))
        }
        (acc2, ctx1)
    }
    val acc = accOpt.getOrElse(throw new IllegalArgumentException("study has no analytes"))
    // pandas' left merge preserves the LEFT frame's row order, so the
    // study output follows the first analyte's established sort. Apply
    // it physically ONCE, on the final frame — skipped if ANY later
    // analyte carried a same-named column: the suffix policy renamed
    // the first analyte's copy away, and a bare survivor of that name
    // (from an even later stitch) would be the WRONG column to sort
    // by, so name-presence alone is not sufficient evidence.
    val finalOrder = ctxF.order(study.analytes.head.name)
    val orderCols = finalOrder.map(_.col).toSet - study.stitchKey
    val collided = study.analytes.drop(1).exists(a =>
      ctxF.df(a.name).columns.exists(orderCols.contains))
    if (finalOrder.nonEmpty && !collided &&
        finalOrder.forall(k => acc.columns.contains(k.col)))
      acc.orderBy(Ops.sortCols(finalOrder): _*)
    else acc
  }
}
