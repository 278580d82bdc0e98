package graft

/** Plan-audit main: prints the formatted physical plan of named
  * SparkEntry queries (all of them with no names given). The per-round
  * discipline: after a query is correct, READ its plan — pushed
  * filters, broadcast vs shuffle joins, WholeStageCodegen spans — and
  * fix the plan, not just the result.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName...]
  *        runMain graft.Explain --audit [sfDir]
  *
  * `--audit` prints one line per query — exchange / broadcast / sort
  * counts plus the [[flagsOf]] anti-pattern flags — the shuffle
  * budget at a glance (see SCALING.md).
  */
object Explain {

  /** The plan-audit flag table: the anti-pattern operators any of
    * `plans` shows, as CARTESIAN / NESTEDLOOP / SINGLEPART (in that
    * order). PlanAuditSpec checks every query against its baseline
    * with it. */
  def flagsOf(plans: Seq[String]): Seq[String] = Seq(
      "CartesianProduct" -> "CARTESIAN",
      "BroadcastNestedLoopJoin" -> "NESTEDLOOP",
      "Exchange SinglePartition" -> "SINGLEPART")
    .collect { case (pat, flag) if plans.exists(_.contains(pat)) => flag }

  def main(args: Array[String]): Unit = {
    val audit = args.headOption.contains("--audit")
    val rest = if (audit) args.drop(1).toSeq else args.toSeq
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val names = rest.drop(1)
    val spark = LocalSpark.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    if (audit) {
      def count(plan: String, needle: String): Int =
        needle.r.findAllMatchIn(plan).size
      // `reuse` = ReusedExchange nodes: plan TEXT repeats a subtree per
      // consuming branch, but the runtime executes it once — subtract
      // before reading exch/bcast as a shuffle budget
      println(f"${"query"}%-24s ${"exch"}%5s ${"bcast"}%5s ${"reuse"}%5s ${"sort"}%5s  flags")
      wanted.foreach { n =>
        try {
          val plan = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.executedPlan.toString
          val flags = flagsOf(Seq(plan))
          println(f"$n%-24s ${count(plan, "Exchange hashpartitioning")}%5d " +
            f"${count(plan, "BroadcastExchange")}%5d " +
            f"${count(plan, "ReusedExchange")}%5d " +
            f"${count(plan, "\\+- Sort ")}%5d  ${flags.mkString(",")}")
        } catch { case e: Exception =>
          println(f"$n%-24s  AUDIT FAILED: ${e.getMessage.take(80)}")
        }
      }
    } else wanted.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      println(s"\n========== $n ==========")
      try println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Exception =>
        println(s"EXPLAIN FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    spark.stop()
  }
}
