package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement-only main (guide §1): runs named SparkEntry queries with
  * a job listener and prints, per query, the Spark-job timeline — job
  * count, per-job wall ms with the first line of its call site, and the
  * DRIVER GAP (wall time not covered by any running job: scheduling,
  * planning, collects, manifest parsing). The gap is the number the
  * bench's per-query seconds hide: a query whose gap dominates is
  * driver-bound, not compute-bound, and needs fewer/overlapped actions
  * rather than a better plan.
  *
  * Usage: runMain graft.Prof <sfDir> <query>[,query...] [reps]
  */
object Prof {
  private case class JobRec(id: Int, start: Long, var end: Long,
      desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = LocalSpark.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(j.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        jobs.put(j.jobId, JobRec(j.jobId, j.time, -1L, d))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.end = j.time)
      }
    })
    // warmup (mirrors Bench)
    Tables.load(spark, sfDir, "nation").count()
    spark.range(10).toDF("id").localCheckpoint(eager = true).count()
    // pre-build the shared fixtures the named queries ride, exactly
    // like Bench's pre-build phase, so rep-1 timings match bench rows
    val nameSet = names.toSet
    SparkEntry.fixtures.toSeq.sortBy(_._1).foreach { case (fx, build) =>
      if (SparkEntry.fixtureUsers.get(fx).forall(_.exists(nameSet))) {
        val t0 = System.currentTimeMillis()
        build(spark, sfDir)
        spark.catalog.clearCache()
        println(s"[prof] fixture $fx built in ${System.currentTimeMillis() - t0} ms")
      }
    }

    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to reps).foreach { rep =>
        jobs.clear()
        val t0 = System.currentTimeMillis()
        val df = fn(spark, sfDir)
        val tPlan = System.currentTimeMillis()
        import org.apache.spark.sql.functions._
        val h = xxhash64(struct(df.columns.map(col): _*))
        df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()
        val t1 = System.currentTimeMillis()
        spark.catalog.clearCache()
        val recs = jobs.values().toArray(Array.empty[JobRec])
          .filter(_.end > 0).sortBy(_.start)
        // union of job intervals -> busy ms
        var busy = 0L; var curS = -1L; var curE = -1L
        recs.foreach { r =>
          if (r.start > curE) { busy += curE - curS; curS = r.start; curE = r.end }
          else curE = math.max(curE, r.end)
        }
        busy += curE - curS
        println(f"\n== $n rep $rep: wall ${t1 - t0}%d ms (build ${tPlan - t0}%d + exec ${t1 - tPlan}%d), jobs ${recs.length}%d, job-covered ${busy}%d ms, DRIVER GAP ${t1 - t0 - busy}%d ms")
        if (rep == reps) recs.foreach { r =>
          println(f"  job ${r.id}%4d ${r.end - r.start}%6d ms  ${r.desc}")
        }
      }
    }
    spark.stop()
  }
}
