package graft.dag

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.ir._
import graft.ir.Component._
import graft.expr.Compiler

/** Runtime services shared by a pipeline run: table resolution, sinks,
  * and the package-variable context (reference: models.py:85,
  * control_flow_mapper.py:101-176 — variables are driver-side scalars,
  * injected into plans as literals).
  *
  * Contract for `writeTable` implementations: run exactly ONE Spark
  * action on the incoming frame. A RowCount upstream taps the plan with
  * `observe`; the sink's action fills the Observation. Actioning the
  * SAME Dataset twice re-reads its (checkpointed/cached) result without
  * refilling the CollectMetrics accumulator, and the async execution
  * listener can then complete the Observation with a spurious 0.
  */
final class PipelineContext(
    val spark: SparkSession,
    val resolveTable: String => DataFrame,
    val writeTable: (String, DataFrame, WriteMode) => Unit,
    val variables: mutable.Map[String, Any]) {
  /** Row-count taps registered during the flow; drained after actions. */
  val observations: mutable.Buffer[ObsTap] = mutable.Buffer.empty
  /** The block-manager RDDs behind the flow's row checkpoints
    * ([[persist]]); ControlFlowExec releases them once the flow's sinks
    * have run, so a long multi-flow pipeline does not accumulate them. */
  val persisted: mutable.Buffer[RDD[_]] = mutable.Buffer.empty
  /** Materialize `df` once as an eager local row checkpoint and register
    * its blocks for [[unpersistAll]] — the ONE way a flow component
    * (split, fan-out, redirect, sampling, cache) pins a frame that
    * several consumers read. A fan-out parent is read a few times and
    * dropped at flow end, so it is kept as rows (MEMORY_AND_DISK), not
    * as Spark SQL's compressed columnar cache. The checkpoint is eager:
    * its own SQL execution computes the rows, so a RowCount `observe`
    * tap upstream is filled by that execution (a lazy one would end the
    * execution first and could complete the Observation with 0). Fault
    * domain: the blocks live in the block managers with no lineage
    * behind them. Under `local[cpus]` that is the driver, as a cache
    * is; on a cluster a lost checkpoint block fails the flow where a
    * lost cache block would be recomputed. The frame's executed plan is
    * recorded in [[sinkPlans]] under `component`, so the plan audit
    * still sees the operators the checkpoint cuts from the sinks' plans.
    * `releaseWithFlow = false` leaves the blocks to whoever still names
    * the frame (a Cache Transform's package-lifetime view): Spark's
    * context cleaner frees them once nothing references it. */
  def persist(component: String, df: DataFrame,
      releaseWithFlow: Boolean = true): DataFrame = {
    val p = df.localCheckpoint(eager = true)
    if (releaseWithFlow)
      persisted += p.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    recordSinkPlan(component, df)
    p
  }
  /** Physical plan of every sink's input frame, captured as the sink
    * executes, and of every frame [[persist]] materialized — the audit
    * surface for multi-sink pipelines whose query entry returns only a
    * post-hoc read (PlanAuditSpec's golden row: without this, the
    * pipeline's real plans are invisible to the plan-regression guard,
    * and a sink below a checkpoint would show only its scan). */
  val sinkPlans: mutable.Buffer[(String, String)] = mutable.Buffer.empty
  /** Live JDBC connections by connection-manager name — the OLE DB
    * Command escape hatch's wiring: a [[graft.ir.Component
    * .PerRowCommand]] whose connRef resolves here executes its SQL per
    * row against the store; unresolved refs degrade to staging. */
  val connections: mutable.Map[String, graft.sources.Jdbc.ConnectionDef] =
    mutable.Map.empty
  def recordSinkPlan(component: String, df: DataFrame): Unit =
    sinkPlans += component -> df.queryExecution.executedPlan.toString
  def vars: Map[String, Any] = variables.toMap
  def unpersistAll(): Unit = {
    persisted.foreach(_.unpersist(blocking = false))
    persisted.clear()
  }
}

/** A RowCount tap: the Observation, the target variable, the tapping
  * component's name (for sink-reachability), and the tapped frame (count
  * fallback when no downstream action ever fills the observation). */
final case class ObsTap(obs: Observation, variable: String,
    component: String, tapped: DataFrame)

object PipelineContext {
  /** Context over a TESTDATA scale-factor directory; sinks land in temp
    * views (tests) — production would register parquet/JDBC writers. */
  def overDir(spark: SparkSession, dir: String): PipelineContext =
    new PipelineContext(
      spark,
      name => graft.Tables.load(spark, dir, name),
      (name, df, mode) => {
        val out = mode match {
          case WriteMode.Overwrite => df
          case WriteMode.Append =>
            val existing = spark.sessionState.catalog
              .getTempView(name).map(_ => spark.table(name))
            existing.map(_.unionByName(df)).getOrElse(df)
        }
        // Materialize so sink contents are stable (and actions actually
        // run, filling observations) — local analog of a table write.
        out.localCheckpoint(true).createOrReplaceTempView(name)
      },
      mutable.Map.empty)

  /** Context over the session catalog: tables resolve via
    * `spark.table`, sinks write managed tables. Incoming frames are
    * aligned to an existing target's schema (SSIS semantics: unmapped
    * destination columns get NULL). A write whose plan READS the table
    * it writes (the medium fixture appends to its own source) is
    * checkpointed first to break the self-reference; every other write
    * runs as one plain saveAsTable — an unconditional checkpoint would
    * double-materialize EVERY sink. Either way exactly ONE action runs
    * on the incoming frame, which is what fills upstream RowCount
    * observations (see the PipelineContext contract above). */
  def overCatalog(spark: SparkSession): PipelineContext =
    new PipelineContext(
      spark,
      name => spark.table(name),
      (name, df, mode) => {
        import org.apache.spark.sql.functions.{col, lit}
        // existence check, not Try(spark.table(...)): probing a
        // not-yet-created target used to log a TABLE_OR_VIEW_NOT_FOUND
        // stack on every green run, burying real failures in the log
        val target =
          if (spark.catalog.tableExists(name)) Some(spark.table(name).schema)
          else None
        val aligned = target.fold(df) { sch =>
          df.select(sch.fields.map { f =>
            if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        }
        val m = mode match {
          case WriteMode.Append => "append"
          case WriteMode.Overwrite => "overwrite"
        }
        // Self-read detection resolves BOTH sides to (database, table):
        // a qualified sink like "db.tbl" must match identifier.table +
        // database, and a same-named table in another database must NOT
        // false-positive into a needless checkpoint. DSv2 relations are
        // matched via their Identifier; an Overwrite whose plan contains
        // a relation we cannot identify keeps the checkpoint as the
        // conservative fallback (a missed self-read under Overwrite is
        // Spark's cannot-overwrite-a-path-being-read error or truncated
        // data — strictly worse than one extra materialization).
        val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
        val sinkTable = parts.last
        val sinkDb =
          if (parts.length > 1) parts(parts.length - 2)
          else spark.catalog.currentDatabase
        def matches(db: Option[String], table: String): Boolean =
          table.equalsIgnoreCase(sinkTable) &&
            db.getOrElse(spark.catalog.currentDatabase).equalsIgnoreCase(sinkDb)
        var selfRef = false
        var unknownRel = false
        aligned.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            // catalogTable=None is a path-based scan: it has no catalog
            // identity and cannot alias a managed-table NAME — not unknown
            lr.catalogTable.foreach { ct =>
              if (matches(ct.identifier.database, ct.identifier.table))
                selfRef = true
            }
          case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
            if (matches(r.tableMeta.identifier.database,
                r.tableMeta.identifier.table)) selfRef = true
          case v2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
            v2.identifier match {
              case Some(id) =>
                val ns = id.namespace()
                if (matches(ns.lastOption, id.name())) selfRef = true
              case None => unknownRel = true
            }
          case _ => ()
        }
        val out =
          if (selfRef || (m == "overwrite" && unknownRel))
            aligned.localCheckpoint(true)
          else aligned
        out.write.mode(m).saveAsTable(name)
      },
      mutable.Map.empty)
}

/** Executes a DataFlow DAG of Components connected by Paths.
  *
  * The reference topologically sorts components and emits code in that
  * order (enhanced_json_mapper.py:1029-1312, with fuzzy name matching
  * and a leftovers fallback). We run the same Kahn scheduling but
  * strict: unknown names or cycles are errors, not best-effort appends.
  */
object DataFlowExec {

  /** Kahn topological order shared by both DAG executors: every node,
    * listed in `seed` order, whose in-degree is zero seeds the queue,
    * and each placed node releases its successors in `edges` order.
    * Returns the order and the nodes left with in-degree > 0 —
    * non-empty exactly when `edges` hold a cycle. */
  private[dag] def kahnOrder(seed: Seq[String],
      edges: Seq[(String, String)]): (Seq[String], Iterable[String]) = {
    val indeg = mutable.Map(seed.map(_ -> 0): _*)
    edges.foreach { case (_, to) => indeg(to) += 1 }
    val queue = mutable.Queue(seed.filter(indeg(_) == 0): _*)
    val order = mutable.Buffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      order += n
      edges.filter(_._1 == n).foreach { case (_, to) =>
        indeg(to) -= 1
        if (indeg(to) == 0) queue += to
      }
    }
    (order.toSeq, indeg.filter(_._2 > 0).keys)
  }

  /** Run the flow; returns every dangling (unconsumed) output port as
    * `"component.port" → DataFrame`, after sinks have executed. */
  def run(flow: DataFlow, ctx: PipelineContext): Map[String, DataFrame] = {
    val byName = flow.components.map(c => c.name -> c).toMap
    require(byName.size == flow.components.size, "duplicate component names")
    flow.paths.foreach { p =>
      require(byName.contains(p.from), s"path from unknown component ${p.from}")
      require(byName.contains(p.to), s"path to unknown component ${p.to}")
    }

    // Kahn topological order (as enhanced_json_mapper.py:904-932,
    // strict), roots seeded in name order
    val (order, cyclic) = kahnOrder(flow.components.map(_.name).sorted,
      flow.paths.map(p => p.from -> p.to))
    require(cyclic.isEmpty,
      s"cycle in data flow ${flow.name}: ${cyclic.mkString(",")}")

    // consumers per (component, port) — fan-out > 1 gets checkpointed
    val consumers = flow.paths.groupBy(p => (p.from, p.fromPort)).view.mapValues(_.size).toMap

    val outputs = mutable.Map.empty[(String, String), DataFrame]
    for (name <- order) {
      val comp = byName(name)
      val inPaths = flow.paths.filter(_.to == name)
      val inputs: Map[String, Seq[DataFrame]] = inPaths
        .groupBy(_.toPort)
        .view.mapValues(_.map(p => outputs.getOrElse((p.from, p.fromPort),
          sys.error(s"component ${p.from} produced no output port ${p.fromPort}"))))
        .toMap
      val outs = execute(comp, inputs, ctx)
      outs.foreach { case (port, df) =>
        outputs((name, port)) =
          if (consumers.getOrElse((name, port), 0) > 1) ctx.persist(name, df)
          else df
      }
    }

    // Drain row-count taps into variables. An Observation fills only
    // after an action evaluates the observed plan; this flow's actions
    // are its sinks (writeTable / trash). Blocking `get` is safe exactly
    // when a sink is reachable downstream of the tap; a dangling tap
    // falls back to one count() job on the tapped frame.
    if (ctx.observations.nonEmpty) {
      // TrashDestination is deliberately NOT a sink here: it runs no
      // Spark action, so a tap whose only downstream "sink" is a trash
      // would block forever on an Observation nothing fills — such taps
      // must take the count() fallback instead.
      val sinks = flow.components.collect {
        case c: Destination => c.name
        case c: FileDestination => c.name
        case c: ExcelDestination => c.name
        case c: JdbcDestination => c.name
        case c: StagedCommand => c.name
        case c: PerRowCommand => c.name
        case c: ExportColumn => c.name
        case c: VersionedDestination => c.name
        // its collect() is a real action, so it fills observations —
        // but only over the capped limit(maxRows+1) plan, which may
        // not evaluate every tapped row; keep it OFF the sink list so
        // upstream taps take the exact count() fallback
      }.toSet
      val adj = flow.paths.groupBy(_.from).view.mapValues(_.map(_.to)).toMap
      def reachesSink(start: String): Boolean = {
        val seen = mutable.Set(start)
        val stack = mutable.Stack(start)
        while (stack.nonEmpty) {
          for (next <- adj.getOrElse(stack.pop(), Nil) if seen.add(next)) {
            if (sinks(next)) return true
            stack.push(next)
          }
        }
        false
      }
      ctx.observations.foreach { tap =>
        val rows: Any =
          if (reachesSink(tap.component))
            tap.obs.get.getOrElse("rows", tap.tapped.count())
          else tap.tapped.count()
        ctx.variables(tap.variable) = rows
      }
      ctx.observations.clear()
    }

    val consumed = flow.paths.map(p => (p.from, p.fromPort)).toSet
    outputs.collect {
      case ((c, port), df) if !consumed((c, port)) => s"$c.$port" -> df
    }.toMap
  }

  private def single(inputs: Map[String, Seq[DataFrame]], comp: Component): DataFrame =
    inputs.getOrElse("in", Nil) match {
      case Seq(df) => df
      case other => sys.error(s"${comp.name}: expected exactly 1 input, got ${other.size}")
    }

  /** One group-by over `df` — shared by Aggregate and each
    * MultiAggregate output port. */
  private def buildAggregate(df: DataFrame, groupBy: Seq[String],
      aggs: Seq[(String, String, String)]): DataFrame = {
    val aggCols = aggs.map { case (op, c, alias) =>
      (op.toLowerCase match {
        case "sum" => sum(col(c))
        case "avg" | "average" => avg(col(c))
        case "min" => min(col(c))
        case "max" => max(col(c))
        case "count" => count(col(c))
        case "count_star" => count(lit(1))
        case "count_distinct" | "countdistinct" => countDistinct(col(c))
        case other => sys.error(s"Aggregate: unsupported op $other")
      }).as(alias)
    }
    if (groupBy.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
    else df.groupBy(groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  def execute(comp: Component, inputs: Map[String, Seq[DataFrame]],
              ctx: PipelineContext): Map[String, DataFrame] = comp match {

    case SourceTable(_, table, columns, filterExpr) =>
      var df = ctx.resolveTable(table)
      filterExpr.foreach(e => df = df.filter(Compiler.compile(e, df.schema, ctx.vars)))
      if (columns.nonEmpty) df = df.select(columns.map(col): _*)
      Map("out" -> df)

    case SourceQuery(_, sql, columnsAs) =>
      val df = ctx.spark.sql(sql)
      Map("out" -> (if (columnsAs.isEmpty) df else df.toDF(columnsAs: _*)))

    case SourceCsv(_, path, options, schemaDdl) =>
      val r = ctx.spark.read.options(options)
      Map("out" -> schemaDdl.fold(r)(d => r.schema(d)).csv(path))

    case SourceJson(_, path, options, schemaDdl) =>
      val r = ctx.spark.read.options(options)
      Map("out" -> schemaDdl.fold(r)(d => r.schema(d)).json(path))

    case SourceRest(_, url, jsonPath, schemaDdl) =>
      // http(s) goes through the production transport (pagination via
      // Link headers); local payloads take the direct distributed read
      Map("out" ->
        (if (url.startsWith("http://") || url.startsWith("https://"))
          graft.sources.Rest.readVia(ctx.spark,
            new graft.sources.HttpTransport(), url, jsonPath, schemaDdl)
        else graft.sources.Rest.read(ctx.spark, url, jsonPath, schemaDdl)))

    case SourceJdbc(_, conn, dbtable, partitioning, fetchSize) =>
      Map("out" -> graft.sources.Jdbc.read(ctx.spark, conn, dbtable,
        partitioning, fetchSize))

    case SourceText(_, path) =>
      Map("out" -> ctx.spark.read.text(path))

    case SourceParquet(_, path) =>
      Map("out" -> ctx.spark.read.parquet(path))

    case SourceExcel(_, path, sheet, header, schemaDdl, sheetName) =>
      Map("out" -> graft.sources.Excel.read(ctx.spark, path, sheet, header,
        schemaDdl, sheetName))

    case SourceXml(_, path, rowTag, options, schemaDdl) =>
      val r = ctx.spark.read.options(options).option("rowTag", rowTag)
      Map("out" -> schemaDdl.fold(r)(d => r.schema(d)).format("xml").load(path))

    case DerivedColumn(name, exprs, errorOutput) =>
      var df = single(inputs, comp)
      errorOutput match {
        case None =>
          exprs.foreach { case (c, e) =>
            df = df.withColumn(c, Compiler.compile(e, df.schema, ctx.vars))
          }
          Map("out" -> df)
        case Some(errPort) =>
          // error-row redirection: each expression evaluates inside
          // try_capture; a row with ANY captured error leaves on the
          // error port with the first error message. SSIS error output
          // carries the ORIGINAL row — replace-in-place columns are
          // stashed before being overwritten so the error port shows
          // the offending input value, not the NULL the capture left.
          val inputCols = df.columns.toSeq
          val replaced = exprs.map(_._1).filter(inputCols.contains)
          val stash = replaced.map(c => c -> s"__graft_orig_${name}_$c").toMap
          replaced.foreach(c => df = df.withColumn(stash(c), col(c)))
          val caps = exprs.map { case (c, _) => c -> s"__graft_cap_${name}_$c" }.toMap
          exprs.foreach { case (c, e) =>
            val compiled = Compiler.compile(e, df.schema, ctx.vars)
            df = df.withColumn(caps(c), call_function("try_capture", compiled))
              .withColumn(c, col(s"${caps(c)}.value"))
          }
          val err = coalesce(exprs.map { case (c, _) => col(s"${caps(c)}.error") }: _*)
          val labeled = ctx.persist(name, df.withColumn(s"__graft_err_$name", err))
          val clean = labeled.filter(col(s"__graft_err_$name").isNull)
            .drop(caps.values.toSeq ++ stash.values.toSeq :+ s"__graft_err_$name": _*)
          val errRows = labeled.filter(col(s"__graft_err_$name").isNotNull)
            .select(inputCols.map(c =>
              stash.get(c).fold(col(c))(s => col(s).as(c))) :+
              col(s"__graft_err_$name").as("ErrorMessage"): _*)
          Map("out" -> clean, errPort -> errRows)
      }

    case DataConversion(_, casts) =>
      var df = single(inputs, comp)
      casts.foreach { case (in, dtName, out) =>
        val dt = Compiler.toDataType(parseDt(dtName))
        df = df.withColumn(out, col(in).cast(dt))
      }
      Map("out" -> df)

    case CopyColumn(_, copies) =>
      var df = single(inputs, comp)
      copies.foreach { case (in, out) => df = df.withColumn(out, col(in)) }
      Map("out" -> df)

    case CharacterMap(_, maps) =>
      var df = single(inputs, comp)
      maps.foreach { case (c, op, out) =>
        val mapped = op.toLowerCase match {
          case "uppercase" => upper(col(c))
          case "lowercase" => lower(col(c))
          case other => sys.error(s"CharacterMap: unsupported op $other")
        }
        df = df.withColumn(out, mapped)
      }
      Map("out" -> df)

    case ImportColumn(_, pathColumn, contentColumn, baseDir) =>
      val df = single(inputs, comp)
      val files = ctx.spark.read.format("binaryFile").load(baseDir)
        .select(regexp_replace(col("path"), "^file:", "").as("__graft_path"),
          col("content").as(contentColumn))
      Map("out" -> df
        .withColumn("__graft_path", col(pathColumn))
        .join(files, Seq("__graft_path"), "left_outer")
        .drop("__graft_path"))

    case ExportColumn(_, pathColumn, contentColumn) =>
      // checkpoint before the eager write action: the downstream consumer
      // re-reads this frame, and without the checkpoint a nondeterministic
      // upstream could diverge between the exported files and the rows
      // passed through
      val raw = single(inputs, comp)
      val idx = raw.columns.indexOf(pathColumn)
      val cidx = raw.columns.indexOf(contentColumn)
      require(idx >= 0 && cidx >= 0,
        s"${comp.name}: missing $pathColumn/$contentColumn")
      val df = ctx.persist(comp.name, raw)
      df.select(col(pathColumn), col(contentColumn)).foreachPartition {
        (rows: Iterator[org.apache.spark.sql.Row]) =>
          rows.foreach { r =>
            if (!r.isNullAt(0)) {
              val bytes = r.get(1) match {
                case null => Array.empty[Byte]
                case b: Array[Byte] => b
                case s: String => s.getBytes("UTF-8")
                case other => other.toString.getBytes("UTF-8")
              }
              val f = new java.io.File(r.getString(0))
              Option(f.getParentFile).foreach(_.mkdirs())
              java.nio.file.Files.write(f.toPath, bytes)
            }
          }
      }
      Map("out" -> df)

    case CacheTransform(_, cacheName) =>
      // the cache-name dependency is invisible to the topological sort:
      // a consumer's Lookup(refSql over cacheName) MUST be ordered after
      // this component with an explicit Path into its "cache" port
      // (data-less ordering edge; Lookup ignores that port's frames).
      // A cache connection manager lives for the package — a Lookup in a
      // later data flow reads the view — so its checkpoint is not
      // released with this flow; replacing the view lets Spark free it.
      val df = single(inputs, comp)
      val p = ctx.persist(comp.name, df, releaseWithFlow = false)
      p.createOrReplaceTempView(cacheName)
      Map("out" -> p)

    case Checksum(_, columns, outCol) =>
      val df = single(inputs, comp)
      val cols = if (columns.nonEmpty) columns.map(col) else df.columns.toSeq.map(col)
      Map("out" -> df.withColumn(outCol, hash(cols: _*)))

    case Audit(_, columns) =>
      var df = single(inputs, comp)
      columns.foreach { case (c, e) =>
        df = df.withColumn(c, Compiler.compile(e, df.schema, ctx.vars))
      }
      Map("out" -> df)

    case lk @ Lookup(_, refTable, joinKeys, copyColumns, noMatch, cacheFull, refSql) =>
      val stream = single(inputs, comp)
      val refRaw = refSql.map(ctx.spark.sql).getOrElse(ctx.resolveTable(refTable))
      // prune the reference to join keys + copied columns (column pruning
      // the reference codegen never does)
      val needed = (joinKeys.map(_._2) ++ copyColumns.map(_._1)).distinct
      val matchFlag = s"__graft_matched_${lk.name}"
      var ref = refRaw.select(needed.map(n => col(DataFlowExec.bq(n))): _*)
        .withColumn(matchFlag, lit(true))
      // dedupe reference on the key (SSIS FULL cache keeps first match)
      ref = ref.dropDuplicates(joinKeys.map(_._2))
      // SSIS FULL cache maps to a broadcast — but only under a size gate:
      // an unconditional broadcast of an unbounded reference OOMs the
      // driver at scale. Over the threshold we fall back to a plain
      // shuffle join and let AQE pick the strategy.
      val threshold = ctx.spark.sessionState.conf.autoBroadcastJoinThreshold
      val refBytes = ref.queryExecution.optimizedPlan.stats.sizeInBytes
      val refSide =
        if (cacheFull && threshold > 0 && refBytes <= threshold) broadcast(ref)
        else ref
      // alias-qualified sides: stream and reference may derive from the
      // SAME upstream frame (self-lookup), where df("col") refs share
      // attribute ids and either mis-bind or trip the ambiguous-self-
      // join detector
      val s = stream.alias("__lk_s")
      val r = refSide.alias("__lk_r")
      // backtick-quote the column part: a dotted column name would
      // otherwise parse as struct access
      def sc0(n: String) = col(s"__lk_s.${DataFlowExec.bq(n)}")
      def rc0(n: String) = col(s"__lk_r.${DataFlowExec.bq(n)}")
      val cond = joinKeys.map { case (sc, rc) => sc0(sc) === rc0(rc) }.reduce(_ && _)
      val joined = s.join(r, cond, "left_outer")
      val copied = copyColumns.map { case (rc, alias) =>
        val c = rc0(rc)
        noMatch match {
          case NoMatchBehavior.Fail =>
            // distributed no-match assertion: raises inside codegen, no
            // extra pass (vs. the reference's count()-guard pattern)
            when(rc0(matchFlag).isNull,
              raise_error(concat(lit(s"Lookup ${lk.name}: no match for key "),
                concat_ws(",", joinKeys.map(k => sc0(k._1).cast("string")): _*))))
              .otherwise(c).as(alias)
          case _ => c.as(alias)
        }
      }
      val streamCols = stream.columns.map(n => sc0(n).as(n))
      noMatch match {
        case NoMatchBehavior.Redirect =>
          val labeled = ctx.persist(lk.name, joined)
          Map(
            "out" -> labeled.filter(rc0(matchFlag) === lit(true))
              .select(streamCols ++ copied: _*),
            "nomatch" -> labeled.filter(rc0(matchFlag).isNull)
              .select(streamCols: _*))
        case _ =>
          Map("out" -> joined.select(streamCols ++ copied: _*))
      }

    case MergeJoin(_, joinType, keys, nullsEqual, leftSel, rightSel) =>
      val left = inputs.getOrElse("left", Nil).headOption.getOrElse(sys.error(s"${comp.name}: missing left input"))
      val right = inputs.getOrElse("right", Nil).headOption.getOrElse(sys.error(s"${comp.name}: missing right input"))
      def project(df: DataFrame, sel: Seq[(String, String)]): DataFrame =
        if (sel.isEmpty) df else df.select(sel.map { case (c, a) => col(c).as(a) }: _*)
      def renamed(sel: Seq[(String, String)], c: String): String =
        sel.collectFirst { case (`c`, a) => a }.getOrElse(c)
      val l = project(left, leftSel)
      val r = project(right, rightSel)
      val dup = l.columns.toSet.intersect(r.columns.toSet)
      require(dup.isEmpty, s"${comp.name}: colliding output columns $dup — rename via side selects")
      val cond = keys.map { case (lk0, rk0) =>
        val (lc, rc) = (l(renamed(leftSel, lk0)), r(renamed(rightSel, rk0)))
        if (nullsEqual) lc <=> rc else lc === rc
      }.reduce(_ && _)
      val how = joinType.toLowerCase match {
        case "inner" | "0" => "inner"
        case "left" | "1" => "left_outer"
        case "full" | "2" => "full_outer"
        case other => sys.error(s"${comp.name}: unknown join type $other")
      }
      Map("out" -> l.join(r, cond, how))

    case MergeSorted(_, sortKeys, sortOutput) =>
      val ins = inputs.getOrElse("in", Nil)
      require(ins.size >= 2, s"${comp.name}: merge needs >=2 inputs")
      val u = ins.reduce(_ unionByName _)
      val order = sortKeys.map { case (k, asc) =>
        if (asc) col(k).asc else col(k).desc }
      Map("out" -> (if (sortOutput) u.orderBy(order: _*) else u))

    case FuzzyLookup(name, refTable, streamKey, refId, refKey, copyCols,
        minSim, simCol, maxMatches) =>
      val stream = single(inputs, comp)
      val ref = ctx.resolveTable(refTable)
      // collapse duplicate reference keys up front: equal keys give equal
      // similarity, and the (sim DESC, bid ASC) tie-break always picks
      // the smallest bid — so matching against (key, min bid) is
      // result-identical and shrinks the candidate join on
      // duplicate-heavy references. (With maxMatches > 1 a duplicated
      // reference key still surfaces once — SSIS dedupes the fuzzy
      // index the same way.)
      val rb = ref.select(col(refId).as("bid"),
          graft.ext.Fuzzy.normalize(col(refKey)).as("bkey"))
        .groupBy("bkey").agg(min("bid").as("bid"))
      val keys = stream
        .select(graft.ext.Fuzzy.normalize(col(streamKey)).as("akey")).distinct()
      val best = graft.ext.Fuzzy.topMatchesPerKey(keys, rb, minSim, maxMatches)
      val copies = ref.select(col(refId).as("bid") +:
        copyCols.map { case (c, a) => col(c).as(a) }: _*)
      val rankCols =
        if (maxMatches > 1) Seq(col("match_rank").as(s"${simCol}_rank")) else Nil
      val enriched = best.join(copies, Seq("bid"), "inner")
        .select(col("akey").as(s"__graft_akey_$name") +:
          (copyCols.map(c => col(c._2)) ++
            (col("similarity").as(simCol) +: rankCols)): _*)
      val out = stream
        .withColumn(s"__graft_akey_$name", graft.ext.Fuzzy.normalize(col(streamKey)))
        .join(enriched, Seq(s"__graft_akey_$name"), "left_outer")
        .drop(s"__graft_akey_$name")
      Map("out" -> out)

    case FuzzyGrouping(_, idCol, keyCol, minSim, keyOut) =>
      val df = single(inputs, comp)
      val labels = graft.ext.Fuzzy.groupLabels(df, idCol, keyCol, minSim)
        .withColumnRenamed("key_out", keyOut)
      Map("out" -> df.join(labels, Seq(idCol)))

    case TermExtraction(_, textCol, minCount) =>
      Map("out" -> graft.ext.TextAnalysis.termFrequencies(
        single(inputs, comp), textCol, minCount))

    case TermLookup(_, idCol, textCol, terms, refTable, termColumn) =>
      val df = single(inputs, comp)
      val toks = df.select(col(idCol),
        explode(graft.ext.TextAnalysis.tokens(col(textCol))).as("term"))
      val matched =
        if (refTable.nonEmpty) {
          // term list joined, not collected — Catalyst/AQE broadcasts a
          // bounded term table on its own
          val t = ctx.resolveTable(refTable)
            .select(col(termColumn).as("term")).distinct()
          toks.join(t, Seq("term"))
        } else toks.filter(col("term").isin(terms: _*))
      Map("out" -> matched.groupBy(col(idCol), col("term"))
        .agg(count(lit(1)).as("term_freq")))

    case ScriptComponent(_, transform) =>
      Map("out" -> transform(single(inputs, comp)))

    case ConditionalSplit(_, cases, defaultOut) =>
      val df = single(inputs, comp)
      // first-match-wins: label each row once via a when-cascade, then
      // filter per port — conditions are evaluated once per row, and the
      // labeled parent is checkpointed here, once, for every port.
      val branch = "__graft_branch"
      val labeled = ctx.persist(comp.name, df.withColumn(branch,
        cases.foldRight(lit(defaultOut)) { case ((port, cond), els) =>
          // fold right so earlier cases take precedence in the cascade
          when(Compiler.compile(cond, df.schema, ctx.vars), lit(port)).otherwise(els)
        }))
      val ports = cases.map(_._1) :+ defaultOut
      ports.map(p => p -> labeled.filter(col(branch) === lit(p)).drop(branch)).toMap

    case Multicast(_, outs) =>
      val df = single(inputs, comp)
      val parent = if (outs.size > 1) ctx.persist(comp.name, df) else df
      outs.map(o => o -> parent).toMap

    case UnionAll(_) =>
      val ins = inputs.getOrElse("in", Nil)
      require(ins.nonEmpty, s"${comp.name}: union needs inputs")
      Map("out" -> ins.reduce(_ unionByName _))

    case Aggregate(_, groupBy, aggs) =>
      Map("out" -> buildAggregate(single(inputs, comp), groupBy, aggs))

    case MultiAggregate(_, outs) =>
      val df = single(inputs, comp)
      val parent = if (outs.size > 1) ctx.persist(comp.name, df) else df
      outs.map { case (port, groupBy, aggs) =>
        port -> buildAggregate(parent, groupBy, aggs)
      }.toMap

    case Sort(_, keys, dedup) =>
      var df = single(inputs, comp)
      if (dedup) df = df.dropDuplicates(keys.map(_._1))
      Map("out" -> df.orderBy(keys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*))

    case Sampling(_, keyColumn, buckets, keep) =>
      val df = single(inputs, comp)
      Map("out" -> df.filter(pmod(col(keyColumn), lit(buckets)) < lit(keep)))

    case RandomSampling(_, percent, seed) =>
      // one seeded draw per row, persisted so the two ports partition
      // the input consistently even across separate downstream actions
      val df = single(inputs, comp)
      val drawn = ctx.persist(comp.name,
        df.withColumn("__graft_rs", rand(seed) < lit(percent / 100.0)))
      Map(
        "out" -> drawn.filter(col("__graft_rs")).drop("__graft_rs"),
        "unselected" -> drawn.filter(!col("__graft_rs")).drop("__graft_rs"))

    case Pivot(_, groupBy, pivotCol, pivotValues, valueCol, aggOp, renames) =>
      val df = single(inputs, comp)
      val agg = aggOp.toLowerCase match {
        case "first" => first(col(valueCol))
        case "sum" => sum(col(valueCol))
        case "min" => min(col(valueCol))
        case "max" => max(col(valueCol))
        case "count" => count(col(valueCol))
        case other => sys.error(s"Pivot: unsupported agg $other")
      }
      // explicit pivot values → single-pass, no distinct-values job
      val pivoted = df.groupBy(groupBy.map(col): _*)
        .pivot(pivotCol, pivotValues).agg(agg)
      Map("out" -> renames.foldLeft(pivoted) { case (d, (v, out)) =>
        if (v == out) d else d.withColumnRenamed(v, out) })

    case Unpivot(_, idCols, valueCols, keyName, valueName, keyValues) =>
      val df = single(inputs, comp)
      val up = df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray,
        keyName, valueName)
      // custom pivot-key values: map each source column NAME to its
      // declared key value (identity entries are free)
      val remap = keyValues.filter { case (c, v) => c != v }
      Map("out" -> (if (remap.isEmpty) up
        else up.withColumn(keyName, remap.foldLeft(col(keyName)) {
          case (e, (c, v)) => when(col(keyName) === lit(c), lit(v)).otherwise(e)
        })))

    case RowCountSampling(_, rows, seed) =>
      // TakeOrderedAndProject: per-partition top-N + an N-row driver
      // merge — never a global sort (see the IR scaladoc). The sampled
      // N rows persist so both SSIS ports partition consistently;
      // "unselected" = exceptAll(sampled) is built lazily and costs
      // nothing unless the port is consumed.
      val df = single(inputs, comp)
      val sampled = ctx.persist(comp.name, df.orderBy(rand(seed)).limit(rows))
      Map("out" -> sampled, "unselected" -> df.exceptAll(sampled))

    case ScdRouter(_, refTable, keys, changing, historical, fixed) =>
      // label once, persist, filter per port (same discipline as
      // ConditionalSplit: conditions evaluate once per row)
      val feed = single(inputs, comp)
      val routeCol = "__graft_scd_route"
      val labeled = ctx.persist(comp.name, graft.ops.Mutations.scdRoute(feed,
        ctx.resolveTable(refTable), keys, changing, historical, fixed,
        routeCol))
      Seq("new", "fixedattr", "historical", "changed", "unchanged")
        .map(p => p -> labeled.filter(col(routeCol) === p).drop(routeCol))
        .toMap

    case RowCount(name, variable) =>
      val df = single(inputs, comp)
      val obs = Observation(s"rowcount_$name")
      val tapped = df.observe(obs, count(lit(1)).as("rows"))
      ctx.observations += ObsTap(obs, variable, name, tapped)
      Map("out" -> tapped)

    case Destination(_, target, mode, columnMap) =>
      val df = single(inputs, comp)
      val projected =
        if (columnMap.isEmpty) df
        else df.select(columnMap.map { case (c, e) => col(c).as(e) }: _*)
      ctx.recordSinkPlan(comp.name, projected)
      ctx.writeTable(target, projected, mode)
      Map.empty

    case FileDestination(_, path, format, mode, options, partitionBy) =>
      val df = single(inputs, comp)
      val m = mode match {
        case WriteMode.Overwrite => "overwrite"
        case WriteMode.Append => "append"
      }
      ctx.recordSinkPlan(comp.name, df)
      var w = df.write.format(format).options(options).mode(m)
      if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
      w.save(path)
      Map.empty

    case StagedCommand(_, table, columns) =>
      val df = single(inputs, comp)
      val staged = if (columns.isEmpty) df else df.select(columns.map(col): _*)
      ctx.recordSinkPlan(comp.name, staged)
      ctx.writeTable(table, staged, WriteMode.Append)
      Map("out" -> df)

    case PerRowCommand(name, connRef, sql, paramCols, stagingTable,
        batchSize) =>
      val df = single(inputs, comp)
      val params =
        if (paramCols.isEmpty) df else df.select(paramCols.map(col): _*)
      ctx.recordSinkPlan(name, params)
      ctx.connections.get(connRef) match {
        case Some(conn) => // live: the batched-JDBC escape hatch
          val n = graft.sources.Jdbc.executePerRow(params, conn, sql,
            paramCols, batchSize)
          ctx.variables(s"$name.rows_affected") = n
        case None => // no live connection: the StagedCommand stance
          ctx.writeTable(stagingTable, params, WriteMode.Append)
      }
      Map("out" -> df)

    case SourceVersioned(_, root, version, where) =>
      import graft.sources.VersionedTable
      Map("out" -> (where match {
        case Some(p) => VersionedTable.readWhere(ctx.spark, root, p, version)
        case None => VersionedTable.read(ctx.spark, root, version)
      }))

    case VersionedDestination(_, root, mode, keys, cdf, columnMap) =>
      import graft.sources.VersionedTable
      val raw = single(inputs, comp)
      val df =
        if (columnMap.isEmpty) raw
        else raw.select(columnMap.map { case (c, t) => col(c).as(t) }: _*)
      val exists = VersionedTable.currentVersion(ctx.spark, root).isDefined
      ctx.recordSinkPlan(comp.name, df)
      mode match {
        case "create" => VersionedTable.create(ctx.spark, root, df)
        case "createOrAppend" =>
          if (exists) VersionedTable.append(ctx.spark, root, df)
          else VersionedTable.create(ctx.spark, root, df)
        case "append" => VersionedTable.append(ctx.spark, root, df)
        case "merge" =>
          require(keys.nonEmpty, s"${comp.name}: merge mode needs keys")
          if (exists)
            VersionedTable.merge(ctx.spark, root, df, keys, cdf = cdf)
          else VersionedTable.create(ctx.spark, root, df)
        case other => sys.error(
          s"${comp.name}: unknown VersionedDestination mode '$other' " +
            "(create | createOrAppend | append | merge)")
      }
      Map.empty

    case ExcelDestination(_, path, sheetName) =>
      val df = single(inputs, comp)
      ctx.recordSinkPlan(comp.name, df)
      graft.sources.Excel.write(df, path, sheetName)
      Map.empty

    case JdbcDestination(_, conn, dbtable, mode, batchSize) =>
      val df = single(inputs, comp)
      ctx.recordSinkPlan(comp.name, df)
      graft.sources.Jdbc.write(df, conn, dbtable, mode, batchSize)
      Map.empty

    case RecordsetDestination(name, variable, maxRows) =>
      val df = single(inputs, comp)
      // limit+1 bounds the fetch: the guard never pulls more than one
      // row past the cap even when the input is huge
      val rows = df.limit(maxRows + 1).collect()
      if (rows.length > maxRows) sys.error(
        s"$name: recordset exceeds $maxRows rows — recordsets are " +
          "driver-side loop feeds, not data-scale sinks")
      ctx.variables(variable) = rows.toSeq
      Map.empty

    case TrashDestination(name, countInto) =>
      val df = single(inputs, comp)
      // Deferred count: register a tap and let the drain phase count it
      // AFTER real sinks have run, off the sinks' critical path — over a
      // split/fan-out port the count reads the parent's row checkpoint.
      countInto.foreach { v =>
        val obs = Observation(s"trash_$name")
        ctx.observations += ObsTap(obs, v, name,
          df.observe(obs, count(lit(1)).as("rows")))
      }
      Map.empty
  }

  /** Backtick-quote a column name for use after a dataset alias
    * qualifier (dots and backticks in the name survive). */
  private[graft] def bq(n: String): String = "`" + n.replace("`", "``") + "`"

  private def parseDt(s: String): graft.expr.DtType = {
    val parts = s.split("[(),\\s]+").filter(_.nonEmpty)
    graft.expr.DtType(parts.head.toUpperCase, parts.tail.map(_.toInt).toSeq)
  }
}
