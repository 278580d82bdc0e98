package graft.dag

import graft.{SparkActions, TestSpark}
import graft.ir._
import graft.ir.Component._
import graft.sources.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** The Spark action budget of one load-shaped pipeline run: source →
  * FULL-cache lookup → derived columns → conditional split → two
  * VersionedTable appends, one behind an Aggregate — the shape of the
  * benchmark's `etl_batch` load package. The exact jobs and SQL
  * executions of a warm append run are pinned, as `CommitJobBudgetSpec`
  * pins each commit kind: a change to the executor or to the append
  * path that adds an action fails here, and one that removes an action
  * lowers a figure on purpose. */
class PipelineRunBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a load-shaped run (lookup, derive, split, two appends) runs its exact budget") {
    val dir = java.nio.file.Files.createTempDirectory("graft_run_budget").toString
    spark.range(1000).select(col("id").as("order_id"),
        pmod(col("id") * 7, lit(50)).cast("int").as("cust_id"),
        (pmod(col("id") * 7919, lit(100000)) + 100).as("amount_cents"),
        (pmod(col("id"), lit(20)) + 1).cast("int").as("qty"),
        element_at(array(lit("north"), lit("south"), lit("east")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("region"))
      .coalesce(2).write.parquet(s"$dir/orders")
    spark.range(50).select(col("id").cast("int").as("cust_id"),
        element_at(array(lit("consumer"), lit("corporate")),
          (pmod(col("id"), lit(2)) + 1).cast("int")).as("segment"),
        pmod(col("id"), lit(31)).cast("int").as("discount_pct"))
      .coalesce(1).write.parquet(s"$dir/customers")
    val flow = DataFlow("load", Seq(
      SourceTable("src", "orders"),
      Lookup("lk", "customers", Seq("cust_id" -> "cust_id"),
        Seq("segment" -> "segment", "discount_pct" -> "discount_pct")),
      DerivedColumn("derive", Seq(
        "net_cents" -> "[amount_cents] * [qty] * (100 - [discount_pct]) / 100",
        "region_code" -> "UPPER([region])")),
      ConditionalSplit("split", Seq("large" -> "[net_cents] >= 400000"), "small"),
      VersionedDestination("dst_large", s"$dir/fact_large", "createOrAppend"),
      Aggregate("agg", Seq("segment", "region_code"),
        Seq(("count_star", "*", "orders"), ("sum", "net_cents", "net_cents"))),
      VersionedDestination("dst_agg", s"$dir/agg_small", "createOrAppend")),
      Seq(Path("src", "lk"), Path("lk", "derive"), Path("derive", "split"),
        Path("split", "dst_large", fromPort = "large"),
        Path("split", "agg", fromPort = "small"), Path("agg", "dst_agg")))
    def run(): Unit = {
      val ctx = new PipelineContext(spark,
        name => spark.read.parquet(s"$dir/$name"),
        (_, _, _) => sys.error("the load writes only versioned tables"),
        mutable.Map.empty)
      val res = ControlFlowExec.run(PipelineSpec("load",
        tasks = Seq(CfTask.DataFlowTask("dft", flow)), edges = Nil), ctx)
      assert(res.succeeded("dft"), res.statuses)
    }
    run() // creates both tables and warms the plans
    val (jobs, executions) = SparkActions.during(spark)(run())
    info(s"jobs=$jobs executions=$executions")
    val landed = VersionedTable.read(spark, s"$dir/fact_large").count()
    assert(landed > 0 && landed < 2000,
      s"both runs must land rows in both branches: $landed")
    assert((jobs, executions) == ((8, 3)))
  }
}
