package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random
import scala.xml.XML

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dag.{ControlFlowExec, PipelineContext}
import graft.frontend.Dtsx
import graft.ir._
import graft.ir.CfTask.DataFlowTask
import graft.ir.Component._
import graft.sources.VersionedTable

/** `etl_batch`: SSIS packages through the .dtsx frontend. The write op
  * is one run of the seeded load package (source query → lookup →
  * derived columns → conditional split → aggregate → two versioned-table
  * appends) over the next batch of source rows; the read op is one run
  * of the extract package (versioned source with a pruning range →
  * aggregate → sort → recordset). Each op parses its package text with
  * `Dtsx.parse` and runs it with `ControlFlowExec.run`. The load
  * package's OLE DB destinations land through the pipeline context's
  * table writer, which creates or appends a `VersionedTable`; the
  * extract package's OLE DB source is mapped onto a `SourceVersioned`
  * read whose `where` is the package query's WHERE clause.
  *
  * A traced run also runs one curation round ([[Curation]]) halfway
  * through the sequence, so that the `ext` layer is measured; an
  * untraced run leaves it out, because a round costs about 50 s (corpus
  * and index creation, then an ingest, a query and a batch query, each
  * several seconds of fixed Spark work), more than the run budget holds
  * for every run. */
final class EtlBatch(ctx: Ctx) extends Workload {
  import EtlBatch._

  private val spark = ctx.spark
  private val tr = ctx.tracer
  val writeKind = "load_package"
  val readKind = "extract_package"

  private val loads = math.max(1, (ctx.seconds * LoadsPerSecond).round.toInt)
  /** Batch 0 lands during set-up, so every timed load is an append. */
  private val batches = loads + 1
  private val rnd = new Random(ctx.seed)
  // seeded package parameters, in bands narrow enough that every seed
  // lands about the same share of rows in each branch
  private val largeCents = 400000L + rnd.nextInt(20001)
  private val bulkQty = 10 + rnd.nextInt(2)
  private val loadXml = LoadTemplate
    .replace("@LARGE@", largeCents.toString).replace("@BULK@", bulkQty.toString)

  private val tables = ctx.path("tables")
  /** The load package's two destinations. */
  private val sinkRoots = Seq("fact_large", "agg_small").map(t => s"$tables/$t")
  private var done = 0
  private val curation = new Curation(ctx)
  /** (batches landed, lo, hi, recordset) of each extract, for the check. */
  private val extracts = mutable.ArrayBuffer.empty[(Int, Long, Long, Seq[Row])]

  def generate(): Unit = {
    // seeded hashes of the row index: the same seed gives the same rows
    def h(salt: Int, mod: Int) = pmod(xxhash64(col("id"), lit(ctx.seed), lit(salt)), lit(mod))
    def pick(xs: Seq[String], salt: Int) =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size) + 1).cast("int"))
    spark.range(Customers).select(col("id").cast("int").as("cust_id"),
        pick(Segments, 1).as("segment"), h(2, 31).cast("int").as("discount_pct"))
      .coalesce(1).write.parquet(ctx.path("input/dim_customer"))
    spark.range(batches.toLong * BatchRows).select(col("id").as("order_id"),
        h(3, Customers).cast("int").as("cust_id"), (h(4, 100000) + 100).as("amount_cents"),
        (h(5, 20) + 1).cast("int").as("qty"), pick(Regions, 6).as("region"),
        (col("id") / BatchRows).cast("int").as("batch"))
      .write.parquet(ctx.path("input/src_orders"))
    spark.read.parquet(ctx.path("input/dim_customer")).createOrReplaceTempView("dim_customer")
    spark.read.parquet(ctx.path("input/src_orders")).createOrReplaceTempView("src_orders")
    load(tables, 0)
    if (tr.on) curation.generate()
  }

  def warmup(): Unit = {
    val warm = ctx.path("warm")
    (0 until WarmLoads).foreach { b =>
      load(warm, b)
      extract(warm, 0L, (b + 1).toLong * BatchRows - 1)
    }
    TableChurn.deleteRecursively(new File(warm))
  }

  /** Parses the load package for batch `b` and runs it; returns the
    * parsed spec. */
  private def load(base: String, b: Int): PipelineSpec = {
    val spec = tr.span("frontend.parse")(
      Dtsx.parse(XML.loadString(loadXml.replace("@BATCH@", b.toString))))
    val pc = new PipelineContext(spark, spark.table,
      (target, df, _) => {
        val root = s"$base/$target"
        tr.span("sources.append") {
          if (VersionedTable.currentVersion(spark, root).isDefined)
            VersionedTable.append(spark, root, df)
          else VersionedTable.create(spark, root, df)
        }
        ()
      }, mutable.Map.empty)
    val res = tr.span("dag.run")(ControlFlowExec.run(spec, pc))
    requireOk(res, "load")
    spec
  }

  /** The WHERE clause of the last extract package's source query. */
  private var lastWhere = ""

  /** Runs the extract package over order ids [lo, hi]. */
  private def extract(base: String, lo: Long, hi: Long): Seq[Row] = {
    val parsed = tr.span("frontend.parse")(Dtsx.parse(XML.loadString(
      ExtractTemplate.replace("@LO@", lo.toString).replace("@HI@", hi.toString))))
    // the OLE DB source's query becomes a versioned read with its WHERE
    val spec = parsed.copy(tasks = parsed.tasks.map {
      case DataFlowTask(n, flow) => DataFlowTask(n, flow.copy(components =
        flow.components.map {
          case SourceQuery(name, sql, _) =>
            lastWhere = sql.substring(sql.toUpperCase.indexOf(" WHERE ") + 7)
            SourceVersioned(name, s"$base/fact_large", None, Some(expr(lastWhere)))
          case c => c
        }))
      case t => t
    })
    val vars = mutable.Map.empty[String, Any]
    val res = tr.span("dag.extract_run")(
      ControlFlowExec.run(spec, new PipelineContext(spark, spark.table,
        (_, _, _) => sys.error("the extract package writes no table"), vars)))
    requireOk(res, "extract")
    vars("User::Result").asInstanceOf[Seq[Row]]
  }

  private def requireOk(res: ControlFlowExec.RunResult, what: String): Unit =
    res.statuses.foreach {
      case (task, ControlFlowExec.Errored(e)) =>
        throw new IllegalStateException(s"$what package task $task failed", e)
      case (task, ControlFlowExec.Skipped) =>
        throw new IllegalStateException(s"$what package task $task skipped")
      case _ => ()
    }

  lazy val ops: IndexedSeq[Op] =
    if (!tr.on) packageOps
    else {
      val (first, rest) = packageOps.splitAt(loads / 2 * 2)
      first ++ curation.ops ++ rest
    }

  private def packageOps: IndexedSeq[Op] = (1 to loads).flatMap { b =>
    var spec: PipelineSpec = null
    val loadOp = Op("load_package", () => {
      spec = load(tables, b)
      done += BatchRows
    }, () => if (tr.active) traceCompile(spec))
    // the latest ExtractBatches landed batches: ranges spread over the
    // table made an extract's cost depend on where its range fell, and
    // the read medians on the seed
    val lo = math.max(0, b + 1 - ExtractBatches).toLong * BatchRows
    var rows: Seq[Row] = Seq.empty
    val extractOp = Op("extract_package",
      () => { rows = extract(tables, lo, lo + ExtractWidth - 1) },
      () => {
        extracts += ((b + 1, lo, lo + ExtractWidth - 1, rows))
        if (tr.active) {
          val (kept, total) = VersionedTable.pruneProfile(spark, s"$tables/fact_large",
            expr(lastWhere))
          tr.sample("sources.files_scanned_per_read", kept)
          tr.sample("sources.files_pruned_ratio", 1.0 - kept.toDouble / math.max(1, total))
        }
      })
    Seq(loadOp, extractOp)
  }

  /** Traced run: compile the load package's expressions against their
    * input schemas, as the dataflow executor does. */
  private def traceCompile(spec: PipelineSpec): Unit = {
    val comps = spec.tasks.collect { case DataFlowTask(_, f) => f.components }.flatten
    tr.sample("frontend.components", comps.size)
    val exprs = comps.flatMap {
      case DerivedColumn(_, cols, _) => cols.map(c => (c._2, DeriveInput))
      case ConditionalSplit(_, cases, _) => cases.map(c => (c._2, SplitInput))
      case _ => Seq.empty[(String, StructType)]
    }
    tr.span("expr.compile")(exprs.foreach { case (e, schema) =>
      graft.expr.Compiler.compile(e, schema) })
    tr.sample("expr.exprs", exprs.size)
  }

  def unitsDone: Double = done.toDouble

  override def layerMetrics(spans: Seq[Span], jobsIn: Span => Int): Map[String, Double] = {
    val runs = spans.filter(_.name == "dag.run")
    Map("dag.jobs_per_sink" ->
        runs.map(jobsIn).sum.toDouble / math.max(1, runs.size) / sinkRoots.size,
      "sources.live_files_end" -> sinkRoots.map(VersionedTable.fileCount(spark, _)).sum.toDouble,
      "sources.versions_end" ->
        sinkRoots.map(VersionedTable.currentVersion(spark, _).get).sum.toDouble) ++
      curation.layerMetrics
  }

  /** The package semantics written with plain Spark over the inputs. */
  private def reference(): (DataFrame, DataFrame, DataFrame) = {
    val joined = spark.table("src_orders").join(spark.table("dim_customer"), "cust_id")
      .withColumn("gross_cents", col("amount_cents") * col("qty"))
      .withColumn("net_cents", expr("amount_cents * qty * (100 - discount_pct) div 100"))
      .withColumn("region_code", upper(col("region")))
      .withColumn("channel", when(col("qty") >= bulkQty, "bulk").otherwise("retail"))
      .withColumn("load_batch", col("batch"))
    val large = joined.filter(col("net_cents") >= largeCents)
    val small = joined.filter(col("net_cents") < largeCents)
      .groupBy("segment", "region_code", "load_batch")
      .agg(count(lit(1)).as("orders"), sum("net_cents").as("net_cents"))
    (joined, large, small)
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val (joined, large, small) = reference()
    joined.persist()
    // multiset equality: every distinct row occurs as often on both sides
    Seq("fact_large" -> large, "agg_small" -> small).foreach { case (t, want) =>
      val got = VersionedTable.read(spark, s"$tables/$t")
      val cols = got.columns.toSeq
      def counted(df: DataFrame, as: String) =
        df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(as))
      val differing = counted(got, "_got").join(counted(want, "_ref"), cols, "full_outer")
        .filter(not(coalesce(col("_got") === col("_ref"), lit(false)))).count()
      if (differing > 0) out += s"$t: $differing distinct rows differ from the reference"
    }
    // extracts: the same aggregate over the reference rows landed then
    val ref = large.select("order_id", "segment", "channel", "net_cents", "batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getInt(4)))
    extracts.foreach { case (landed, lo, hi, rows) =>
      val want = ref.filter(r => r._5 < landed && r._1 >= lo && r._1 <= hi)
        .groupBy(r => (r._2, r._3)).toSeq.sortBy(_._1)
        .map { case ((s, c), rs) => (s, c, rs.length.toLong, rs.map(_._4).sum) }
      val got = rows.map(r => (r.getAs[String]("segment"), r.getAs[String]("channel"),
        r.getAs[Long]("orders"), r.getAs[Long]("net_cents")))
      if (got != want) out += s"extract [$lo, $hi] after $landed batches: $got vs $want"
    }
    joined.unpersist()
    if (tr.on) out ++= curation.check()
    out.toSeq
  }

  def storedRoots: Seq[String] = sinkRoots
  def liveRows: Long = sinkRoots.map(VersionedTable.read(spark, _).count()).sum
}

object EtlBatch {
  /** The sf0.1 test data's customer table. */
  val Customers = 15000
  /** 10 loads of 60,000 rows land the sf0.1 lineitem table's 600,000. */
  val BatchRows = 60000
  val ExtractBatches = 3
  val WarmLoads = 2
  val ExtractWidth = ExtractBatches * BatchRows
  /** 10 loads and 10 extracts at the default 30 s. */
  val LoadsPerSecond = 10.0 / 30
  val Segments = IndexedSeq("consumer", "corporate", "home", "smb", "public")
  val Regions = IndexedSeq("north", "south", "east", "west", "central", "export")

  /** Input schemas of the load package's expressions. */
  val DeriveInput: StructType = StructType(Seq(StructField("order_id", LongType),
    StructField("cust_id", IntegerType), StructField("amount_cents", LongType),
    StructField("qty", IntegerType), StructField("region", StringType),
    StructField("segment", StringType), StructField("discount_pct", IntegerType)))
  val SplitInput: StructType = DeriveInput
    .add("gross_cents", LongType).add("net_cents", LongType)
    .add("region_code", StringType).add("channel", StringType)
    .add("load_batch", IntegerType)

  private def cols(names: String*): String = names.map(n =>
    s"""<outputColumn name="$n"/>""").mkString

  private def derived(name: String, e: String): String =
    s"""<outputColumn name="$name"><properties><property name="FriendlyExpression">$e</property></properties></outputColumn>"""

  private def agg(name: String, tpe: Int, src: Option[String] = None): String =
    s"""<outputColumn name="$name"><properties><property name="AggregationType">$tpe</property>""" +
      src.fold("")(s => s"""<property name="AggregationColumnId">#{P\\DFT\\Agg.Inputs[In].Columns[$s]}</property>""") +
      "</properties></outputColumn>"

  private def path(from: String, to: String): String =
    s"""<path startId="P\\DFT\\$from" endId="P\\DFT\\$to"/>"""

  private def pkg(name: String, components: String, paths: String): String =
    s"""<DTS:Executable xmlns:DTS="www.microsoft.com/SqlServer/Dts" DTS:ObjectName="$name">
       |<DTS:Executables><DTS:Executable DTS:ObjectName="DFT" DTS:ExecutableType="Microsoft.Pipeline">
       |<DTS:ObjectData><pipeline><components>$components</components><paths>$paths</paths></pipeline></DTS:ObjectData>
       |</DTS:Executable></DTS:Executables></DTS:Executable>""".stripMargin

  /** The load package; @BATCH@, @LARGE@ and @BULK@ are filled in. */
  val LoadTemplate: String = pkg("load_orders",
    s"""<component componentClassID="Microsoft.OLEDBSource" name="Src">
       |<properties><property name="SqlCommand">SELECT order_id, cust_id, amount_cents, qty, region FROM src_orders WHERE batch = @BATCH@</property>
       |<property name="AccessMode">2</property></properties>
       |<outputs><output name="Out"><outputColumns>${cols("order_id", "cust_id", "amount_cents", "qty", "region")}</outputColumns></output></outputs></component>
       |<component componentClassID="Microsoft.Lookup" name="Lk">
       |<properties><property name="SqlCommand">SELECT cust_id, segment, discount_pct FROM dim_customer</property></properties>
       |<inputs><input name="In"><inputColumns><inputColumn cachedName="cust_id"><properties><property name="JoinToReferenceColumn">cust_id</property></properties></inputColumn></inputColumns></input></inputs>
       |<outputs><output name="Match"><outputColumns>
       |<outputColumn name="segment"><properties><property name="CopyFromReferenceColumn">segment</property></properties></outputColumn>
       |<outputColumn name="discount_pct"><properties><property name="CopyFromReferenceColumn">discount_pct</property></properties></outputColumn>
       |</outputColumns></output></outputs></component>
       |<component componentClassID="Microsoft.DerivedColumn" name="Derive">
       |<outputs><output name="Out"><outputColumns>
       |${derived("gross_cents", "[amount_cents] * [qty]")}
       |${derived("net_cents", "[amount_cents] * [qty] * (100 - [discount_pct]) / 100")}
       |${derived("region_code", "UPPER([region])")}
       |${derived("channel", "[qty] &gt;= @BULK@ ? \"bulk\" : \"retail\"")}
       |${derived("load_batch", "@BATCH@")}
       |</outputColumns></output></outputs></component>
       |<component componentClassID="Microsoft.ConditionalSplit" name="Split"><outputs>
       |<output name="Large"><properties><property name="EvaluationOrder">0</property><property name="FriendlyExpression">[net_cents] &gt;= @LARGE@</property></properties></output>
       |<output name="Small"><properties><property name="IsDefaultOut">true</property></properties></output>
       |</outputs></component>
       |<component componentClassID="Microsoft.OLEDBDestination" name="DstLarge"><properties><property name="OpenRowset">fact_large</property></properties></component>
       |<component componentClassID="Microsoft.Aggregate" name="Agg"><outputs><output name="Out"><outputColumns>
       |${agg("segment", 0)}${agg("region_code", 0)}${agg("load_batch", 0)}${agg("orders", 2)}${agg("net_cents", 4, Some("net_cents"))}
       |</outputColumns></output></outputs></component>
       |<component componentClassID="Microsoft.OLEDBDestination" name="DstAgg"><properties><property name="OpenRowset">agg_small</property></properties></component>
       |""".stripMargin,
    Seq(path("Src.Outputs[Out]", "Lk.Inputs[In]"), path("Lk.Outputs[Match]", "Derive.Inputs[In]"),
      path("Derive.Outputs[Out]", "Split.Inputs[In]"), path("Split.Outputs[Large]", "DstLarge.Inputs[In]"),
      path("Split.Outputs[Small]", "Agg.Inputs[In]"), path("Agg.Outputs[Out]", "DstAgg.Inputs[In]")).mkString)

  /** The extract package; @LO@ and @HI@ are filled in. */
  val ExtractTemplate: String = pkg("extract_orders",
    s"""<component componentClassID="Microsoft.OLEDBSource" name="Src">
       |<properties><property name="SqlCommand">SELECT * FROM fact_large WHERE order_id BETWEEN @LO@ AND @HI@</property>
       |<property name="AccessMode">2</property></properties></component>
       |<component componentClassID="Microsoft.Aggregate" name="Agg"><outputs><output name="Out"><outputColumns>
       |${agg("segment", 0)}${agg("channel", 0)}${agg("orders", 2)}${agg("net_cents", 4, Some("net_cents"))}
       |</outputColumns></output></outputs></component>
       |<component componentClassID="Microsoft.Sort" name="Sort"><inputs><input name="In"><inputColumns>
       |<inputColumn cachedName="segment"><properties><property name="NewSortKeyPosition">1</property></properties></inputColumn>
       |<inputColumn cachedName="channel"><properties><property name="NewSortKeyPosition">2</property></properties></inputColumn>
       |</inputColumns></input></inputs></component>
       |<component componentClassID="Microsoft.RecordsetDestination" name="Rs"><properties><property name="VariableName">User::Result</property></properties></component>
       |""".stripMargin,
    Seq(path("Src.Outputs[Out]", "Agg.Inputs[In]"), path("Agg.Outputs[Out]", "Sort.Inputs[In]"),
      path("Sort.Outputs[Out]", "Rs.Inputs[In]")).mkString)
}
