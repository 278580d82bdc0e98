package graft.sources

import graft.TestSpark
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Spark action budget of each VersionedTable commit kind on a
  * small table: the exact number of jobs one commit runs and the exact
  * number of SQL executions they belong to (by `spark.sql.execution.id`),
  * counted by a listener. A refactor of the commit paths must keep
  * every count; a change that removes actions from a commit lowers one
  * on purpose and updates the figure here. */
class CommitJobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A fresh 4-file table, k = 1..40 range-clustered (10 keys a file). */
  private def table(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_budget")
      .toString + "/t"
    VersionedTable.create(spark, root,
      (1 to 40).map(i => (i, s"n$i", i.toLong)).toDF("k", "name", "amt")
        .repartitionByRange(4, col("k")))
    root
  }

  /** (jobs, SQL executions) started while `body` runs. */
  private def actionsDuring(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(executions.add)
      }
    }
    sc.addSparkListener(l)
    try { body; ListenerDrain(sc); (jobs.get(), executions.size) }
    finally sc.removeSparkListener(l)
  }

  private def src(rows: (Int, String, Long)*): DataFrame =
    rows.toSeq.toDF("k", "name", "amt")

  // (commit kind, its exact job count, its exact execution count, the
  // commit)
  private val budget: Seq[(String, Int, Int, String => Unit)] = Seq(
    ("append", 1, 1, (root: String) =>
      VersionedTable.append(spark, root, src((41, "x", 41L)))),
    ("merge", 11, 3, (root: String) =>
      VersionedTable.merge(spark, root,
        src((5, "u", 50L), (6, "u", 60L), (99, "i", 99L)), Seq("k"))),
    ("merge(cdf = true)", 13, 4, (root: String) =>
      VersionedTable.merge(spark, root,
        src((5, "u", 50L), (6, "u", 60L), (99, "i", 99L)), Seq("k"),
        cdf = true)),
    ("updateWhere", 1, 1, (root: String) =>
      VersionedTable.updateWhere(spark, root, col("k") === 5,
        Map("amt" -> lit(500L)))),
    ("deleteWhere", 1, 1, (root: String) =>
      VersionedTable.deleteWhere(spark, root, col("k") === 7)),
    ("deleteWhereMor", 5, 2, (root: String) =>
      VersionedTable.deleteWhereMor(spark, root, col("k") === 12)),
    ("compact", 2, 1, (root: String) =>
      VersionedTable.compact(spark, root, smallFileBytes = Long.MaxValue)))

  test("each commit kind runs its exact Spark-job budget") {
    val counts = budget.map { case (kind, _, _, op) =>
      val root = table()
      val (jobs, executions) = actionsDuring(op(root))
      (kind, jobs, executions)
    }
    info(counts.map { case (k, j, e) => s"$k=$j/$e" }.mkString(" "))
    assert(counts == budget.map { case (kind, jobs, executions, _) =>
      (kind, jobs, executions) })
  }
}
