package graft.dag

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import graft.ir._
import graft.ir.CfTask._
import graft.expr.Compiler

/** Control-flow DAG executor: tasks ordered by precedence constraints
  * with Success/Failure/Completion/Expression conditions — the runtime
  * counterpart of the reference's topo-sorted codegen
  * (enhanced_json_mapper.py:867-953) and constraint mapping
  * (control_flow_mapper.py:138-149).
  */
object ControlFlowExec {

  sealed trait TaskStatus
  case object Succeeded extends TaskStatus
  final case class Errored(e: Throwable) extends TaskStatus
  case object Skipped extends TaskStatus

  final case class RunResult(statuses: Map[String, TaskStatus],
                             variables: Map[String, Any]) {
    def succeeded(name: String): Boolean = statuses.get(name).contains(Succeeded)
  }

  def run(spec: PipelineSpec, ctx: PipelineContext): RunResult = {
    // SSIS seeds system variables automatically; the Audit component
    // (and any @[System::X] expression) reads them from the same
    // variable context as User:: variables. Package-declared values win.
    ctx.variables ++= Map[String, Any](
      "System::PackageName" -> spec.name,
      "System::PackageID" -> spec.name,
      "System::VersionID" -> "1.0",
      "System::ExecutionInstanceGUID" -> java.util.UUID.randomUUID().toString,
      "System::StartTime" -> new java.sql.Timestamp(System.currentTimeMillis()),
      "System::MachineName" ->
        scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
          .getOrElse("localhost"),
      "System::UserName" -> System.getProperty("user.name", "unknown"),
      "System::TaskName" -> "", "System::TaskID" -> "")
    ctx.variables ++= spec.variables
    val statuses = mutable.Map.empty[String, TaskStatus]
    val byName = spec.tasks.map(t => t.name -> t).toMap
    require(byName.size == spec.tasks.size, "duplicate task names")
    spec.edges.foreach { e =>
      require(byName.contains(e.from), s"edge from unknown task ${e.from}")
      require(byName.contains(e.to), s"edge to unknown task ${e.to}")
    }

    // Kahn order over precedence edges, roots seeded in declaration order
    val (order, cyclic) = DataFlowExec.kahnOrder(spec.tasks.map(_.name),
      spec.edges.map(e => e.from -> e.to))
    require(cyclic.isEmpty, s"cycle in control flow ${spec.name}")

    def edgeSatisfied(e: PrecedenceEdge): Boolean = {
      def statusOk(c: EdgeCondition): Boolean = c match {
        case EdgeCondition.OnSuccess => statuses.get(e.from).contains(Succeeded)
        case EdgeCondition.OnFailure => statuses.get(e.from).exists(_.isInstanceOf[Errored])
        case EdgeCondition.OnCompletion => statuses.get(e.from).exists(_ != Skipped)
        case EdgeCondition.ExpressionEdge(expr, c, orMode) =>
          if (orMode) statusOk(c) || evalDriverExpr(expr, ctx)
          else statusOk(c) && evalDriverExpr(expr, ctx)
      }
      statusOk(e.condition)
    }

    for (name <- order) {
      val incoming = spec.edges.filter(_.to == name)
      // SSIS default: LogicalAnd — every incoming constraint must hold;
      // any edge with LogicalAnd=False switches the task to OR-across-
      // edges (one satisfied constraint suffices)
      val runnable =
        if (incoming.exists(!_.logicalAnd)) incoming.exists(edgeSatisfied)
        else incoming.forall(edgeSatisfied)
      statuses(name) =
        if (!runnable) Skipped
        else {
          ctx.variables("System::TaskName") = name
          ctx.variables("System::TaskID") = name
          Try(runTask(byName(name), ctx, statuses)) match {
            case Success(_) => Succeeded
            case Failure(ex) => Errored(ex)
          }
        }
    }
    RunResult(statuses.toMap, ctx.vars)
  }

  private def runTask(task: CfTask, ctx: PipelineContext,
                      statuses: mutable.Map[String, TaskStatus]): Unit = task match {
    case SqlTask(_, sql, resultInto) =>
      val df = ctx.spark.sql(sql)
      // DDL/DML commands run eagerly inside spark.sql(); only a SELECT
      // bound to a variable needs an explicit action.
      resultInto.foreach(variable => ctx.variables(variable) = df.head().get(0))
    case DataFlowTask(_, flow) =>
      // sinks have executed when run() returns; release the flow's row
      // checkpoints so a long multi-flow pipeline doesn't accumulate them
      try DataFlowExec.run(flow, ctx)
      finally ctx.unpersistAll()
    case ForEach(_, variable, values, body) =>
      values.foreach { v =>
        ctx.variables(variable) = v
        body.foreach(t => runTask(t, ctx, statuses))
      }
    case ForEachAdo(name, variable, sourceVar, colIdx, body) =>
      val rows = ctx.variables.getOrElse(sourceVar, sys.error(
        s"$name: recordset variable $sourceVar not set — does a " +
          "RecordsetDestination run before this loop?")) match {
        case rs: Seq[_] => rs
        case other => sys.error(
          s"$name: $sourceVar holds ${other.getClass.getSimpleName}, not a recordset")
      }
      rows.foreach { r =>
        ctx.variables(variable) = r match {
          case row: org.apache.spark.sql.Row => row.get(colIdx)
          case v => v
        }
        body.foreach(t => runTask(t, ctx, statuses))
      }
    case ForLoop(name, variable, init, whileExpr, assign, body) =>
      init.foreach(e => ctx.variables(variable) = evalDriverValue(e, ctx))
      var iters = 0
      while (evalDriverExpr(whileExpr, ctx)) {
        body.foreach(t => runTask(t, ctx, statuses))
        assign.foreach(e => ctx.variables(variable) = evalDriverValue(e, ctx))
        iters += 1
        require(iters < 1000000, s"ForLoop $name: runaway loop (no progress)")
      }
    case Sequence(_, body) =>
      body.foreach(t => runTask(t, ctx, statuses))
  }

  /** Evaluate an expression-edge condition against pipeline variables —
    * driver-side, via the same SSIS compiler on a literal plan. */
  def evalDriverExpr(expr: String, ctx: PipelineContext): Boolean = {
    val c = Compiler.compile(expr, new StructType(), ctx.vars)
    ctx.spark.range(1).select(c.cast("boolean").as("v")).head.getBoolean(0)
  }

  /** Evaluate an SSIS value expression over pipeline variables (ForLoop
    * init/assign). */
  def evalDriverValue(expr: String, ctx: PipelineContext): Any = {
    val c = Compiler.compile(expr, new StructType(), ctx.vars)
    ctx.spark.range(1).select(c.as("v")).head.get(0)
  }
}
