package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guard: every SparkEntry query's physical plan is
  * checked for the anti-pattern operators `Explain.flagsOf` flags —
  * CartesianProduct, BroadcastNestedLoopJoin, Exchange SinglePartition
  * — against the committed snapshot `plan_audit_baseline.txt`, so a
  * plan regression fails `sbt test` the same way a data-layout
  * regression does (TestdataSmokeSpec). The baseline's accepted
  * NESTEDLOOP/SINGLEPART entries are all broadcast single-row-aggregate
  * crossJoins (benign by audit); anything NEW — a flag appearing, a
  * query failing to build, a baselined flag silently vanishing — is a
  * diff and a failure. On failure the spec writes the observed
  * snapshot to `target/plan_audit_actual.txt`: verify the new plan is
  * sound (run `graft.Explain <sfDir> <query>` and read it), then copy
  * the line into the baseline. */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def parseBaseline(): Map[String, String] = {
    val in = getClass.getResourceAsStream("/plan_audit_baseline.txt")
    require(in != null, "plan_audit_baseline.txt missing from test resources")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val parts = l.trim.split("\\s+")
        require(parts.length == 2, s"bad baseline line: $l")
        parts(0) -> parts(1)
      }.toMap
    finally src.close()
  }

  test("physical plans match the committed anti-pattern baseline") {
    val baseline = parseBaseline()
    val actual: Seq[(String, String)] =
      SparkEntry.queries.keys.toSeq.sorted.map { n =>
        val status =
          try {
            // The golden pipeline never yields ONE plan — it is a
            // multi-sink control flow whose query entry returns a
            // post-hoc table read. Audit its per-sink plans instead,
            // captured by the executor as the sinks ran (sf0.01: the
            // fixture's custkey thresholds need a non-empty feed).
            val plans: Seq[String] =
              if (n == "q18_golden_medium") {
                val ctx = graft.queries.GoldenQueries
                  .runGoldenMedium(spark, "/root/testdata/sf0.01")
                require(ctx.sinkPlans.nonEmpty,
                  "golden pipeline captured no sink plans")
                ctx.sinkPlans.toSeq.map(_._2)
              } else Seq(SparkEntry.queries(n)(spark, sfDir)
                .queryExecution.executedPlan.toString)
            val flags = Explain.flagsOf(plans)
            if (flags.isEmpty) "-" else flags.mkString(",")
          } catch { case _: Exception => "UNAUDITED" }
        n -> status
      }
    val outDir = java.nio.file.Paths.get("target")
    java.nio.file.Files.createDirectories(outDir)
    java.nio.file.Files.write(outDir.resolve("plan_audit_actual.txt"),
      actual.map { case (n, s) => s"$n $s" }.mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    val actualNames = actual.map(_._1).toSet
    val diffs =
      actual.flatMap { case (n, st) =>
        baseline.get(n) match {
          case None =>
            Some(s"$n: NEW query with flags [$st] — audit its plan, then " +
              "add the line from target/plan_audit_actual.txt to the baseline")
          case Some(b) if b != st =>
            Some(s"$n: baseline [$b] != observed [$st]")
          case _ => None
        }
      } ++
      (baseline.keySet -- actualNames).toSeq.sorted
        .map(n => s"$n: baselined but no longer in SparkEntry.queries")
    assert(diffs.isEmpty,
      s"\nplan-audit diffs (${diffs.size}):\n  ${diffs.mkString("\n  ")}\n" +
        "observed snapshot written to target/plan_audit_actual.txt")
  }
}
