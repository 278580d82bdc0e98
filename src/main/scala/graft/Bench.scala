package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-round benchmark main: times every SparkEntry query at the given
  * scale factor and prints ONE JSON line.
  *
  * The timed action hashes EVERY projected column (xxhash64 over a
  * struct of the full row) and sums the hashes — a bare count() lets
  * Catalyst prune unreferenced projections, so expression-heavy queries
  * would measure parquet-scan speed instead of their own work. */
object Bench {
  private def evalAll(df: DataFrame): Unit = {
    // bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode
    val h = xxhash64(struct(df.columns.map(col): _*))
    df.select(h.as("h")).agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Committed per-query idle reference (bench/idle_reference.json:
    * per-query MIN of past idle full runs): {"sf": "...",
    * "queries": {name: sec}}. Missing/unreadable → empty (healing
    * off). */
  private[graft] def loadReference(path: String): (String, Map[String, Double]) =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      val qs = Option(node.get("queries")).map { q =>
        val it = q.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
        }
        b.result()
      }.getOrElse(Map.empty[String, Double])
      (Option(node.get("sf")).map(_.asText()).getOrElse(""), qs)
    } catch { case _: Throwable => ("", Map.empty) }

  /** Min-of-runs self-healing (SCALING.md documents the write path as
    * ambiently BIMODAL up to ~5x on identical code): a first timing
    * more than `factor`× its committed idle reference re-runs up to
    * `maxReruns` times and the MIN is the reported cost. factor 2.5
    * sits between the ambient noise band (≤ ~1.4×) and the measured
    * bimodal modes (q177: 2.87× and 5.5× of idle). Sub-second firsts
    * never re-run (timer noise, not bimodality). Returns
    * (best seconds, reruns taken). */
  private[graft] def healed(first: Double, ref: Option[Double],
      factor: Double = 2.5, maxReruns: Int = 2)(
      run: () => Double): (Double, Int) = {
    var best = first
    var reruns = 0
    while (reruns < maxReruns && best > 1.0 &&
        ref.exists(r => best > r * factor)) {
      reruns += 1
      best = math.min(best, run())
    }
    (best, reruns)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // catalog state is isolated per run (temp warehouse and Derby
    // home): accumulated repo-dir state must never leak into a timing
    // run
    val spark = LocalSpark.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed warmup: JVM/codegen/parquet-footer paths, PLUS the two
    // one-time bootstrap costs that otherwise land on the first query
    // in sorted order that touches them (r12: q109 absorbed ~19 s of
    // metastore + checkpoint-dir setup): a catalog create+drop boots
    // the per-run-fresh Derby metastore, and a localCheckpoint forces
    // the block-manager temp-dir path.
    evalAll(Tables.load(spark, sfDir, "nation"))
    spark.range(10).write.mode("overwrite").saveAsTable("graft_warmup_t")
    spark.sql("DROP TABLE graft_warmup_t")
    spark.range(10).toDF("id").localCheckpoint(eager = true).count()

    // Contention canary: the same three trivial probes re-timed at the
    // start, middle, and end of the run. On an idle machine all nine
    // numbers sit within timer noise of each other; a contended driver
    // round (r11/r12 both were) shows up as a mid- or end-phase ratio
    // well above 1, making machine load diagnosable from the JSON alone.
    val canaryNames = Seq("q4_derived_column", "q9_split", "q73_pii_redact")
    // a probe that THROWS is skipped, never fatal: the canary is a
    // diagnostic — a broken probe query must still surface through the
    // timed loop's failed list, not kill the run before (or after) it
    // emits the JSON line the driver captures
    def canaryProbe(): Seq[(String, Double)] = canaryNames.flatMap { n =>
      SparkEntry.queries.get(n).flatMap { fn =>
        try {
          val t0 = System.nanoTime()
          evalAll(fn(spark, sfDir))
          Some(n.takeWhile(_ != '_') -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] canary $n failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          None
        } finally spark.catalog.clearCache()
      }
    }

    // a failed query reports null (NOT its elapsed-until-failure time —
    // that silently masks breakage as a timing) and is excluded from the
    // total; the failure list rides along explicitly
    // optional comma-separated subset for targeted sweeps (e.g. the
    // sf1 scaling runs); the driver never sets it — full run by default
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // self-healing reference: only binds when this run's SF matches
    // the reference's (an sf1 sweep must not re-run everything against
    // sf0.1 numbers); SPARK_GRAFT_NOHEAL=1 disables outright
    val (refSf, reference) = loadReference(sys.env.getOrElse(
      "SPARK_GRAFT_REF", "bench/idle_reference.json"))
    // path-SEGMENT match, not substring: sf0.15 must not bind sf0.1's
    // reference (nor sf10 bind sf1's)
    val healOn = !sys.env.get("SPARK_GRAFT_NOHEAL").contains("1") &&
      refSf.nonEmpty && sfDir.split('/').contains(refSf)
    // shared memoized fixtures PRE-BUILD in their own named, timed
    // phase (r17 verdict item 7): previously the first family member
    // in run order silently absorbed the build into its timing (q186
    // read 36 s for a 9.7 s operator); now every per-query row
    // measures the query and the build cost rides the JSON as its own
    // map. Only fixtures SOME selected query rides are built — a
    // targeted SPARK_GRAFT_ONLY sweep must not pay unrelated
    // multi-index builds. A FAILED build is surfaced explicitly
    // (fixtures_failed): the first family member will then re-absorb
    // the build into its row, and that row must be readable as such
    // rather than silently welded. Build BEFORE the start canary so
    // heavy fixture writes don't contaminate the contention baseline.
    val runNames = toRun.map(_._1).toSet
    val fixtureResults: Seq[(String, Double, Boolean)] =
      SparkEntry.fixtures.toSeq.sortBy(_._1)
        .filter { case (name, _) =>
          SparkEntry.fixtureUsers.get(name)
            .forall(_.exists(runNames.contains)) }
        .map { case (name, build) =>
          val t0 = System.nanoTime()
          // NonFatal only: an OOM/StackOverflow during a build means a
          // possibly-corrupted JVM whose timings would LOOK valid —
          // abort the run instead of measuring in it
          val ok =
            try { build(spark, sfDir); true }
            catch { case scala.util.control.NonFatal(e) =>
              System.err.println(s"[bench] fixture $name failed: " +
                s"${e.getClass.getName}: ${e.getMessage}")
              false
            } finally spark.catalog.clearCache()
          (name, (System.nanoTime() - t0) / 1e9, ok)
        }
    val fixtureCosts = fixtureResults.map(r => (r._1, r._2))
    val fixturesFailed = fixtureResults.filterNot(_._3).map(_._1)
    // SECOND timing-honesty layer: queries whose FIRST run performs a
    // real once-only refresh commit against a shared fixture's index/
    // view stay heal-EXEMPT. The pre-build phase fixes BUILD
    // attribution, but these queries still mutate state exactly once
    // (the fixtures deliberately leave the final refresh to the query
    // so it measures incremental maintenance): a heal re-run would
    // measure the idempotent no-op replay (observed r17: 27 s first,
    // 1.1 s re-run) and min() would silently hide the honest cost.
    val refreshOnFirstRun = Set(
      "q178_materialized_join_view", "q180_materialized_distinct",
      "q181_materialized_cascade", "q186_ivf_churn_maintain",
      "q187_bm25_incremental", "q189_hybrid_indexed",
      "q190_asof_hybrid", "q192_ivfpq_churn_maintain",
      "q193_filtered_ann", "q194_asof_filtered_hybrid",
      "q200_asof_retrieval_eval")
    // untimed passes until the probes reach JIT steady state (two
    // consecutive passes within 20%, max 5): ONE warmup pass was not
    // enough — the first timed probes then measure C2 compilation,
    // not machine load, and an IDLE run self-labels contended
    // (measured ~1.5-2x intrinsic warm-up vs the 4-6x a genuinely
    // contended round shows)
    var warmPrev = Double.MaxValue
    var warmPasses = 0
    var warmCur = canaryProbe().map(_._2).sum
    while (warmPasses < 4 && warmCur < warmPrev * 0.8) {
      warmPrev = warmCur
      warmCur = canaryProbe().map(_._2).sum
      warmPasses += 1
    }
    val canaryStart = canaryProbe()
    val midAt = toRun.size / 2
    var canaryMid: Seq[(String, Double)] = Nil
    val rerunsTaken = collection.mutable.Map.empty[String, Int]
    val results: Seq[(String, Option[Double])] =
      toRun.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx == midAt && toRun.size > 3) canaryMid = canaryProbe()
        val t0 = System.nanoTime()
        val timing = try { evalAll(fn(spark, sfDir));
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
          e.getStackTrace.take(12).foreach(f => System.err.println(s"  at $f"))
          None
        } finally
          // untimed: drop any frames the query persisted so 87 queries
          // in one JVM neither accumulate cache nor leak speed into a
          // neighbor's timing
          spark.catalog.clearCache()
        // write-path bimodality self-correction: a first timing above
        // healed()'s factor (2.5x the committed idle reference)
        // re-runs (min of runs is the code's cost); reruns ride the
        // JSON so the round report needs no prose disclaimer
        val healedTiming = timing.map { t =>
          if (!healOn || refreshOnFirstRun(name)) t
          else {
            val (best, n) = healed(t, reference.get(name)) { () =>
              // a FAILED re-run must never lose the whole run's JSON:
              // keep the first pass's timing (MaxValue loses the min)
              // and let the budget bound further attempts
              try {
                val r0 = System.nanoTime()
                try { evalAll(fn(spark, sfDir)) }
                finally spark.catalog.clearCache()
                (System.nanoTime() - r0) / 1e9
              } catch { case e: Throwable =>
                System.err.println(s"[bench] heal re-run of $name " +
                  s"failed: ${e.getClass.getName}: ${e.getMessage}")
                Double.MaxValue
              }
            }
            if (n > 0) rerunsTaken(name) = n
            best
          }
        }
        name -> healedTiming
      }
    // 3-decimal timings: full-precision doubles made the line ~2x
    // longer than needed and the driver's log-tail capture truncated
    // the r5 JSON mid-object (ms resolution is beyond timer noise)
    def fmt(d: Double) = f"$d%.3f"
    val canaryEnd = canaryProbe()
    def canaryJson(c: Seq[(String, Double)]) =
      c.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val canary = s"""{"start":${canaryJson(canaryStart)},""" +
      s""""mid":${canaryJson(canaryMid)},"end":${canaryJson(canaryEnd)}}"""
    // Self-adjudicated contention verdict (r13 verdict item 6): until
    // now a human compared start vs end probes to decide whether a
    // slow round was machine load or a code regression. Make the JSON
    // carry the verdict itself: a run whose start probes took >3x the
    // matching end probes (median ratio across the shared probe set)
    // started contended and drained — its absolute timings are not
    // comparable to an idle baseline. Threshold 3 sits between the
    // residual same-JVM warm-up an idle run shows even after the
    // steady-state passes (<= ~2x) and the 4-6x a genuinely contended
    // driver round showed (r13). Probes that failed on either side
    // are excluded; with no shared probe the ratio reports 1
    // (no evidence = not contended).
    val contentionRatio: Double = {
      val endBy = canaryEnd.toMap
      val ratios = canaryStart.flatMap { case (k, s) =>
        endBy.get(k).filter(_ > 0).map(e => s / e) }.sorted
      if (ratios.isEmpty) 1.0
      else ratios(ratios.size / 2)
    }
    val contended = contentionRatio > 3.0
    val total = results.flatMap(_._2).sum
    val failed = results.collect { case (k, None) => s"\"$k\"" }
      .mkString("[", ",", "]")

    // The driver captures only the TAIL of stdout, and a single ~3.5kB
    // line with full query names was prefix-truncated (unparseable) in
    // r5-r7. Two defenses, both near the end of the stream:
    //  1. per-query timings under FULL names, chunked into self-contained
    //     JSON lines of <= ~1.2kB each (any surviving line parses alone);
    //  2. ONE final complete summary line kept compact (~1.7kB) by using
    //     the unique "q<number>" prefix as the key and 2-decimal times.
    val entries = results.map { case (k, v) =>
      "\"" + k + "\":" + v.fold("null")(fmt) }
    val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
      if (acc.last.isEmpty || acc.last.map(_.length + 1).sum + e.length <= 1200)
        acc.init :+ (acc.last :+ e)
      else acc :+ Vector(e)
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"parts":${chunks.size},"sf":"$sfDir","queries":${c.mkString("{", ",", "}")}}""")
    }
    def fmt2(d: Double) = f"$d%.2f"
    val shortQs = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + v.fold("null")(fmt2)
    }.mkString("{", ",", "}")
    val reruns = rerunsTaken.toSeq.sortBy(_._1)
      .map { case (k, n) => "\"" + k.takeWhile(_ != '_') + "\":" + n }
      .mkString("{", ",", "}")
    // shared fixture builds are their OWN timed rows now (pre-built
    // before the loop, r17 verdict item 7): no query row absorbs a
    // build, and the cost is attributable at a glance
    val fixturesJson = fixtureCosts
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fixturesFailedJson =
      fixturesFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // TOTALS-FIRST field order (r19 verdict item 7): the ~1.8kB
    // per-query map sits LAST so a capture that truncates the line at
    // ~2kB still yields total/failed/reruns/fixtures/contended — the
    // headline fields fit in the first ~500 chars, and per-query
    // detail survives independently in the chunked queries_part lines
    // above. Field ORDER only; every value is computed exactly as
    // before.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","failed":$failed,"reruns":$reruns,"fixtures":$fixturesJson,"fixtures_failed":$fixturesFailedJson,"contended":$contended,"contention_ratio":${fmt(contentionRatio)},"canary":$canary,"queries":$shortQs}""")
    spark.stop()
  }
}
