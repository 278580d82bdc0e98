package graft.dag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import graft.TestSpark
import graft.ir._
import graft.ir.Component._
import graft.ir.CfTask._

/** Engine-level execution: DataFlowExec DAG runs and ControlFlowExec
  * precedence semantics — the composition layer the round-1 oracle
  * queries never exercised. */
class DagSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  private def ctx(tables: Map[String, DataFrame]): PipelineContext = {
    val sunk = mutable.Map.empty[String, DataFrame]
    new PipelineContext(
      spark,
      name => tables.getOrElse(name, sys.error(s"unknown table $name")),
      (name, df, mode) => {
        val out = mode match {
          case WriteMode.Overwrite => df
          case WriteMode.Append => sunk.get(name).map(_.unionByName(df)).getOrElse(df)
        }
        // exactly ONE action on the incoming frame: a second action on the
        // same Dataset re-reads the checkpointed RDD without refilling the
        // CollectMetrics accumulator, and the listener may then complete a
        // RowCount Observation with 0 (see PipelineContext.writeTable doc)
        val cp = out.localCheckpoint(true)
        sunk(name) = cp
        cp.createOrReplaceTempView(name)
      },
      mutable.Map.empty)
  }

  private val people = {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("grp", StringType),
      StructField("x", IntegerType)))
    spark.createDataFrame(java.util.List.of(
      Row(1, "a", 10), Row(2, "a", 25), Row(3, "b", 40), Row(4, null, 55)), schema)
  }

  test("ConditionalSplit is first-match-wins; default gets the rest") {
    val flow = DataFlow("f", Seq(
      SourceTable("src", "people"),
      // x > 20 matches rows 2,3,4; x > 30 would also match 3,4 but must
      // receive nothing the first case already claimed
      ConditionalSplit("split", Seq("hi" -> "x > 20", "vh" -> "x > 30"), "rest")),
      Seq(Path("src", "split")))
    val out = DataFlowExec.run(flow, ctx(Map("people" -> people)))
    assert(out("split.hi").select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3, 4))
    assert(out("split.vh").count() == 0)
    assert(out("split.rest").select("id").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("RowCount via observe fills variable when a sink runs; dangling tap falls back") {
    val c = ctx(Map("people" -> people))
    val flow = DataFlow("f", Seq(
      SourceTable("src", "people"),
      RowCount("rc", "User::N"),
      Destination("dst", "out_t", WriteMode.Overwrite),
      // dangling branch: tapped but never actioned
      SourceTable("src2", "people", filter = Some("x > 20")),
      RowCount("rc2", "User::M")),
      Seq(Path("src", "rc"), Path("rc", "dst"), Path("src2", "rc2")))
    DataFlowExec.run(flow, c)
    assert(c.variables("User::N") == 4L)
    assert(c.variables("User::M") == 3L)
  }

  test("RowCount whose only downstream sink is a Trash does not hang") {
    // the canonical SSIS count-and-discard: RowCount → Trash. The trash
    // runs no Spark action, so the tap must take the count() fallback
    // instead of blocking forever on an unfilled Observation.
    val c = ctx(Map("people" -> people))
    val flow = DataFlow("f", Seq(
      SourceTable("src", "people"),
      RowCount("rc", "User::N"),
      TrashDestination("tr", countInto = Some("User::T"))),
      Seq(Path("src", "rc"), Path("rc", "tr")))
    val done = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = done.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { DataFlowExec.run(flow, c); () }
      })
      fut.get(60, java.util.concurrent.TimeUnit.SECONDS) // hang = timeout
    } finally done.shutdownNow()
    assert(c.variables("User::N") == 4L)
    assert(c.variables("User::T") == 4L)
  }

  test("Lookup handles dotted column names (alias-qualified refs quoted)") {
    val stream = people.select(people("grp").as("k.dotted"), people("id"))
    val ref = people.select(people("grp").as("r.key"), people("x").as("r.x"))
      .filter(people("grp") === "a")
    val flow = DataFlow("f", Seq(
      SourceTable("src", "s"),
      Lookup("lk", "ref", Seq("k.dotted" -> "r.key"), Seq("r.x" -> "out.x"))),
      Seq(Path("src", "lk")))
    val out = DataFlowExec.run(flow, ctx(Map("s" -> stream, "ref" -> ref)))("lk.out")
    assert(out.columns.toSeq == Seq("k.dotted", "id", "out.x"))
    assert(out.filter(out("`out.x`").isNotNull).count() == 2)
  }

  test("MergeJoin full outer with nullsEqual matches NULL keys") {
    val l = people.select(people("grp").as("lg"), people("id").as("lid"))
    val r = people.select(people("grp").as("rg"), people("x").as("rx"))
    val flow = DataFlow("f", Seq(
      SourceTable("ls", "l"), SourceTable("rs", "r"),
      MergeJoin("mj", "full", Seq("lg" -> "rg"), nullsEqual = true)),
      Seq(Path("ls", "mj", toPort = "left"), Path("rs", "mj", toPort = "right")))
    val out = DataFlowExec.run(flow, ctx(Map("l" -> l, "r" -> r)))("mj.out")
    // NULL grp row joins itself under <=>: no unmatched null-side rows
    assert(out.filter(out("lg").isNull && out("rg").isNull).count() == 1)
    assert(out.filter(out("lid").isNull || out("rx").isNull).count() == 0)
  }

  test("Lookup NoMatch=Fail raises on unmatched key") {
    val ref = people.filter(people("grp") === "a")
      .select(people("grp").as("g"), people("x").as("refx"))
    val flow = DataFlow("f", Seq(
      SourceTable("src", "people"),
      Lookup("lk", "ref", Seq("grp" -> "g"), Seq("refx" -> "refx"),
        NoMatchBehavior.Fail)),
      Seq(Path("src", "lk")))
    val ex = intercept[Exception] {
      DataFlowExec.run(flow, ctx(Map("people" -> people, "ref" -> ref)))("lk.out").collect()
    }
    assert(ex.getMessage.contains("no match") || ex.getMessage.contains("Lookup"))
  }

  test("control flow: OnFailure edge runs only after failure; expression edge gates on variables") {
    val c = ctx(Map("people" -> people))
    val spec = PipelineSpec("p",
      tasks = Seq(
        SqlTask("bad", "SELECT * FROM nonexistent_table_xyz"),
        SqlTask("onfail", "SELECT 1", resultInto = Some("User::Ran")),
        SqlTask("onok", "SELECT 2", resultInto = Some("User::NotRan")),
        SqlTask("count", "SELECT 41", resultInto = Some("User::C")),
        SqlTask("gated", "SELECT 99", resultInto = Some("User::G")),
        SqlTask("gatedOff", "SELECT -1", resultInto = Some("User::GOff"))),
      edges = Seq(
        PrecedenceEdge("bad", "onfail", EdgeCondition.OnFailure),
        PrecedenceEdge("bad", "onok", EdgeCondition.OnSuccess),
        PrecedenceEdge("count", "gated",
          EdgeCondition.ExpressionEdge("@[User::C] > 40")),
        PrecedenceEdge("count", "gatedOff",
          EdgeCondition.ExpressionEdge("@[User::C] > 100"))))
    val res = ControlFlowExec.run(spec, c)
    assert(res.statuses("bad").isInstanceOf[ControlFlowExec.Errored])
    assert(res.variables("User::Ran") == 1)
    assert(!res.variables.contains("User::NotRan"))
    assert(res.statuses("onok") == ControlFlowExec.Skipped)
    assert(res.variables("User::G") == 99)
    assert(!res.variables.contains("User::GOff"))
  }

  test("EvalOp=4: expression OR constraint — either satisfies the edge") {
    val c = ctx(Map("people" -> people))
    val spec = PipelineSpec("p",
      tasks = Seq(
        SqlTask("setv", "SELECT 50", resultInto = Some("User::V")),
        SqlTask("bad", "SELECT * FROM nonexistent_table_xyz"),
        SqlTask("orTrue", "SELECT 1", resultInto = Some("User::OrTrue")),
        SqlTask("orFalse", "SELECT 2", resultInto = Some("User::OrFalse"))),
      edges = Seq(
        PrecedenceEdge("setv", "bad"),
        // upstream FAILED, but the expression holds → OR runs the task
        PrecedenceEdge("bad", "orTrue",
          EdgeCondition.ExpressionEdge("@[User::V] > 40",
            and = EdgeCondition.OnSuccess, orMode = true)),
        // upstream failed AND the expression is false → skipped
        PrecedenceEdge("bad", "orFalse",
          EdgeCondition.ExpressionEdge("@[User::V] > 100",
            and = EdgeCondition.OnSuccess, orMode = true))))
    val res = ControlFlowExec.run(spec, c)
    assert(res.variables("User::OrTrue") == 1)
    assert(!res.variables.contains("User::OrFalse"))
    assert(res.statuses("orFalse") == ControlFlowExec.Skipped)
  }

  test("ScriptComponent escape hatch: hand-ported lambda composes in the DAG") {
    val flow = DataFlow("f", Seq(
      SourceTable("src", "people"),
      ScriptComponent("script", df =>
        df.withColumn("xx", df("x") * 2).filter(df("x") > 10)),
      ConditionalSplit("split", Seq("hi" -> "xx > 79"), "rest")),
      Seq(Path("src", "script"), Path("script", "split")))
    val out = DataFlowExec.run(flow, ctx(Map("people" -> people)))
    // x>10 keeps ids 2,3,4 (xx = 50, 80, 110); xx>79 routes 3 and 4
    assert(out("split.hi").select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    assert(out("split.rest").select("id").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("LogicalAnd=false: one satisfied incoming edge suffices (OR across edges)") {
    val c = ctx(Map("people" -> people))
    val spec = PipelineSpec("p",
      tasks = Seq(
        SqlTask("ok", "SELECT 1"),
        SqlTask("bad", "SELECT * FROM nonexistent_table_xyz"),
        SqlTask("orTask", "SELECT 7", resultInto = Some("User::Or")),
        SqlTask("andTask", "SELECT 8", resultInto = Some("User::And"))),
      edges = Seq(
        // OR: bad's OnSuccess edge fails, ok's holds → runs
        PrecedenceEdge("ok", "orTask", logicalAnd = false),
        PrecedenceEdge("bad", "orTask", logicalAnd = false),
        // AND (default): same pair of edges → skipped
        PrecedenceEdge("ok", "andTask"),
        PrecedenceEdge("bad", "andTask")))
    val res = ControlFlowExec.run(spec, c)
    assert(res.variables("User::Or") == 7)
    assert(!res.variables.contains("User::And"))
    assert(res.statuses("andTask") == ControlFlowExec.Skipped)
  }

  test("ForEach binds loop variable per iteration; data flows through DataFlowTask") {
    val c = ctx(Map("people" -> people))
    val flow = DataFlow("body", Seq(
      SourceTable("src", "people", filter = Some("x > @[User::Min]")),
      Destination("dst", "loop_out", WriteMode.Append)),
      Seq(Path("src", "dst")))
    val spec = PipelineSpec("p",
      tasks = Seq(ForEach("loop", "User::Min", Seq(20, 50), Seq(DataFlowTask("dft", flow)))),
      edges = Nil)
    ControlFlowExec.run(spec, c)
    // pass 1: x>20 → 3 rows; pass 2: x>50 → 1 row; appended = 4
    assert(spark.table("loop_out").count() == 4)
  }

  /** Ids of the session's persistent RDDs. Compared as sets, so the
    * context cleaner releasing another spec's RDDs mid-run cannot
    * disturb the counts. */
  private def pinnedIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A context whose writer runs ONE action (a collect) and pins
    * nothing, so every persistent RDD a run leaves belongs to the flow's
    * own checkpoints. Records, per sink, the rows it received and the
    * RDDs pinned once its action ran. */
  private def collectingCtx(tables: Map[String, DataFrame],
      pinned: mutable.Map[String, Set[Int]],
      rows: mutable.Map[String, Int]): PipelineContext =
    new PipelineContext(spark,
      name => tables.getOrElse(name, sys.error(s"unknown table $name")),
      (name, df, _) => {
        rows(name) = df.collect().length
        pinned(name) = pinnedIds()
      },
      mutable.Map.empty)

  /** Runs `flow` as a one-task pipeline over `people` and asserts that
    * its fan-out parent was pinned while the sinks ran and is released
    * once they have. Returns the rows each sink received. */
  private def releasedAfterRun(flow: DataFlow): Map[String, Int] = {
    val pinned = mutable.Map.empty[String, Set[Int]]
    val rows = mutable.Map.empty[String, Int]
    val before = pinnedIds()
    val res = ControlFlowExec.run(PipelineSpec("p",
      tasks = Seq(DataFlowTask("dft", flow)), edges = Nil),
      collectingCtx(Map("people" -> people), pinned, rows))
    assert(res.succeeded("dft"), res.statuses)
    assert(pinned.nonEmpty && pinned.values.forall(p => (p -- before).nonEmpty),
      s"the parent must be pinned while the sinks run: $pinned vs $before")
    assert((pinnedIds() -- before).isEmpty,
      "the fan-out parent must not outlive its flow")
    rows.toMap
  }

  test("Multicast's cached parent is released once the flow's sinks have run") {
    val rows = releasedAfterRun(DataFlow("mc", Seq(
      SourceTable("src", "people"),
      Multicast("fan", Seq("a", "b")),
      Destination("dst_a", "mc_a", WriteMode.Overwrite),
      Destination("dst_b", "mc_b", WriteMode.Overwrite)),
      Seq(Path("src", "fan"), Path("fan", "dst_a", fromPort = "a"),
        Path("fan", "dst_b", fromPort = "b"))))
    assert(rows == Map("mc_a" -> 4, "mc_b" -> 4))
  }

  test("ConditionalSplit's labeled parent is released once the flow's sinks have run") {
    val rows = releasedAfterRun(DataFlow("cs", Seq(
      SourceTable("src", "people"),
      ConditionalSplit("split", Seq("hi" -> "x > 20"), "rest"),
      Destination("dst_hi", "cs_hi", WriteMode.Overwrite),
      Destination("dst_rest", "cs_rest", WriteMode.Overwrite)),
      Seq(Path("src", "split"), Path("split", "dst_hi", fromPort = "hi"),
        Path("split", "dst_rest", fromPort = "rest"))))
    assert(rows == Map("cs_hi" -> 3, "cs_rest" -> 1))
  }

  test("RowCount taps above a ConditionalSplit and below a Multicast branch count exactly") {
    // the split's parent is materialized before any sink runs, so the
    // upstream tap must be filled by that materialization itself
    val src = spark.range(1000).selectExpr("id", "CAST(id % 1000 AS INT) AS x")
    val rows = mutable.Map.empty[String, Int]
    val c = collectingCtx(Map("src" -> src), mutable.Map.empty, rows)
    DataFlowExec.run(DataFlow("rc", Seq(
      SourceTable("src", "src"),
      RowCount("rc_up", "User::All"),
      ConditionalSplit("split", Seq("lo" -> "x < 460"), "hi"),
      Multicast("fan", Seq("a", "b")),
      RowCount("rc_down", "User::Hi"),
      Destination("dst_a", "rc_a", WriteMode.Overwrite),
      Destination("dst_b", "rc_b", WriteMode.Overwrite),
      Destination("dst_lo", "rc_lo", WriteMode.Overwrite)),
      Seq(Path("src", "rc_up"), Path("rc_up", "split"),
        Path("split", "fan", fromPort = "hi"),
        Path("split", "dst_lo", fromPort = "lo"),
        Path("fan", "rc_down", fromPort = "a"), Path("rc_down", "dst_a"),
        Path("fan", "dst_b", fromPort = "b"))), c)
    c.unpersistAll()
    assert(c.variables("User::All") == 1000L)
    assert(c.variables("User::Hi") == 540L)
    assert(rows == Map("rc_a" -> 540, "rc_b" -> 540, "rc_lo" -> 460))
  }

  test("RecordsetDestination fills its variable; the driver-bound cap fails loudly") {
    val c = ctx(Map("people" -> people))
    DataFlowExec.run(DataFlow("rs", Seq(
      SourceTable("src", "people"),
      RecordsetDestination("dst", "User::Rows")),
      Seq(Path("src", "dst"))), c)
    val rows = c.variables("User::Rows").asInstanceOf[Seq[Row]]
    assert(rows.map(_.getInt(0)).toSet == Set(1, 2, 3, 4))
    // a frame over the cap must error, not OOM the driver
    val e = intercept[RuntimeException] {
      DataFlowExec.run(DataFlow("rs2", Seq(
        SourceTable("src", "people"),
        RecordsetDestination("dst", "User::Rows", maxRows = 2)),
        Seq(Path("src", "dst"))), c)
    }
    assert(e.getMessage.contains("recordset exceeds"))
  }

  test("ForEachAdo iterates a recordset variable filled by RecordsetDestination") {
    val c = ctx(Map("people" -> people))
    val fill = DataFlow("fill", Seq(
      SourceTable("src", "people"),
      RecordsetDestination("dst", "User::RS")),
      Seq(Path("src", "dst")))
    val body = DataFlow("body", Seq(
      SourceTable("src", "people", filter = Some("x > 10 * @[User::Item]")),
      Destination("dst", "ado_out", WriteMode.Append)),
      Seq(Path("src", "dst")))
    val spec = PipelineSpec("p", tasks = Seq(
      DataFlowTask("fill_rs", fill),
      ForEachAdo("loop", "User::Item", "User::RS", columnIndex = 0,
        body = Seq(DataFlowTask("dft", body)))),
      edges = Seq(PrecedenceEdge("fill_rs", "loop")))
    val res = ControlFlowExec.run(spec, c)
    assert(res.statuses.values.forall(_ == ControlFlowExec.Succeeded), res.statuses)
    // ids 1..4 bind per iteration; x values 10,25,40,55:
    // x>10 → 3, x>20 → 3, x>30 → 2, x>40 → 1; appended total 9
    assert(spark.table("ado_out").count() == 9)
    // missing recordset fails the task loudly (captured as Errored)
    val bad = ControlFlowExec.run(PipelineSpec("q", tasks = Seq(
      ForEachAdo("bad", "User::Item", "User::Missing")), edges = Nil),
      ctx(Map("people" -> people)))
    bad.statuses("bad") match {
      case ControlFlowExec.Errored(ex) =>
        assert(ex.getMessage.contains("not set"))
      case other => fail(s"expected Errored, got $other")
    }
  }

  test("ForLoop runs init/eval/assign over a pipeline variable") {
    val c = ctx(Map("people" -> people))
    val spec = PipelineSpec("p",
      tasks = Seq(ForLoop("fl", "User::I",
        init = Some("0"), whileExpr = "@[User::I] < 3",
        assign = Some("@[User::I] + 1"),
        body = Seq(SqlTask("accum",
          "SELECT 10", resultInto = Some("User::Last"))))),
      edges = Nil)
    val res = ControlFlowExec.run(spec, c)
    assert(res.statuses("fl") == ControlFlowExec.Succeeded)
    assert(res.variables("User::I") == 3)
    assert(res.variables("User::Last") == 10)
  }

  test("catalog write: DATABASE-qualified self-read is checkpoint-broken; same name elsewhere is not") {
    val cat = PipelineContext.overCatalog(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_dag_db")
    spark.sql("DROP TABLE IF EXISTS graft_dag_db.selfref")
    spark.sql("CREATE TABLE graft_dag_db.selfref (k INT) USING parquet")
    spark.sql("INSERT INTO graft_dag_db.selfref VALUES (1), (2)")
    // a plan that READS graft_dag_db.selfref, overwritten back into the
    // SAME qualified name: without identifier-resolved self-read
    // detection this is Spark's cannot-overwrite-a-path-being-read error
    import org.apache.spark.sql.functions.col
    val bumped = spark.table("graft_dag_db.selfref")
      .withColumn("k", col("k") + 1)
    cat.writeTable("graft_dag_db.selfref", bumped, WriteMode.Overwrite)
    assert(spark.table("graft_dag_db.selfref").collect()
      .map(_.getInt(0)).toSet == Set(2, 3))

    // same-named table in the CURRENT database: reading it must not
    // block overwriting the db-qualified one (no false-positive), and
    // writing it while reading the qualified one must also succeed
    spark.sql("DROP TABLE IF EXISTS selfref")
    spark.sql("CREATE TABLE selfref (k INT) USING parquet")
    spark.sql("INSERT INTO selfref VALUES (10)")
    val cross = spark.table("graft_dag_db.selfref")
    cat.writeTable("selfref", cross, WriteMode.Overwrite)
    assert(spark.table("selfref").collect().map(_.getInt(0)).toSet == Set(2, 3))
    spark.sql("DROP TABLE IF EXISTS selfref")
    spark.sql("DROP TABLE IF EXISTS graft_dag_db.selfref")
    spark.sql("DROP DATABASE IF EXISTS graft_dag_db")
  }
}
