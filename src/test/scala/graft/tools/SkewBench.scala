package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Scale

/** Skew measurement for SCALING.md (dev tool, like BpeFreeze): a
  * worst-case hot-key join (one key = 30% of a 20M-row fact, dim past
  * broadcast size — `tools/gen_skew.py`) run three ways:
  *
  *   naive   — plain shuffle join, AQE skew handling OFF (what a
  *             hash-partitioned join does with a hot key: one
  *             straggler task carries 6M rows)
  *   aqe     — plain join, AQE skew-join ON (Spark's runtime split of
  *             oversized partitions — the default config everywhere
  *             in this repo)
  *   salted  — Scale.saltedJoinBy, AQE skew handling OFF (the manual
  *             dial for shapes AQE cannot split)
  *
  * All three aggregate to (dim_group, n, sum_v) over the joined rows
  * and must produce IDENTICAL results (checksummed here); the
  * wall-clocks land in SCALING.md "Skew" together with the salt dial
  * guidance on Scale.saltedJoin.
  *
  * Test/runMain graft.tools.SkewBench [dataDir] [saltFactor]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/tmp/skew")
    val saltFactor = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.LocalSpark.builder(32)
      .appName("graft-skew-bench")
      .config("spark.driver.memory", "8g")
      // dim is ~100 MB in memory: force the shuffle join the
      // measurement is about (broadcast would dodge the skew entirely,
      // which IS the first dial — but not the one under test)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // tmpfs shuffle dirs: the measurement is about task skew, not
      // this machine's disk — ~4 GB of shuffle fits in RAM
      .config("spark.local.dir", "/dev/shm/graft-skew-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-task durations, keyed by stage: the skew signal is the
    // STRAGGLER — max task time vs median task time in the join stage
    val taskTimes = new scala.collection.concurrent.TrieMap[Int,
      scala.collection.mutable.ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val buf = taskTimes.getOrElseUpdate(t.stageId,
            scala.collection.mutable.ArrayBuffer.empty[Long])
          buf.synchronized { buf += t.taskInfo.duration }
        }
      })

    def fact = spark.read.parquet(s"$dir/fact.parquet")
    def dim = spark.read.parquet(s"$dir/dim.parquet")

    def agg(joined: DataFrame): DataFrame = joined
      .groupBy("dim_group")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))

    def checksum(df: DataFrame): (Long, Long) = {
      // bit_xor, not sum: order-insensitive AND overflow-free (ANSI
      // mode throws on a long-sum of 64-bit hashes)
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(dim_group, n, sum_v))")).head()
      (r.getLong(0), r.getLong(1))
    }

    // pull both files through the page cache before any timing so the
    // first variant doesn't pay the cold-read for the others
    fact.agg(max(length(col("payload"))), max(col("v"))).head()
    dim.agg(max(length(col("dim_name")))).head()

    def timed(name: String, skewJoinOn: Boolean)(f: => DataFrame): Unit = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled",
        skewJoinOn.toString)
      val times = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        val cs = checksum(f)
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, cs)
      }
      val cs = times.head._2
      require(times.forall(_._2 == cs), s"$name: unstable checksum")
      val med = times.map(_._1).sorted.apply(times.size / 2)
      // straggler ratio: the worst stage's max-task/median-task over
      // this variant's runs (stages with trivial tasks excluded)
      val straggle = taskTimes.values
        .map(b => b.synchronized(b.toVector)).filter(ts =>
          ts.size >= 8 && ts.max >= 1000)
        .map(ts => (ts.max, ts.sorted.apply(ts.size / 2).max(1L)))
        .toVector.sortBy(-_._1).headOption
        .map { case (mx, md) => f"maxTask=${mx / 1e3}%.1fs med=${md / 1e3}%.1fs x=${mx.toDouble / md}%.0f" }
        .getOrElse("maxTask=n/a")
      taskTimes.clear()
      println(f"SKEWBENCH $name%-8s median=$med%.2f runs=${times
        .map(t => f"${t._1}%.2f").mkString(",")} $straggle checksum=$cs")
    }

    timed("naive", skewJoinOn = false) { agg(fact.join(dim, Seq("k"))) }
    timed("aqe", skewJoinOn = true) { agg(fact.join(dim, Seq("k"))) }
    timed("salted", skewJoinOn = false) {
      agg(Scale.saltedJoinBy(fact, dim, Seq("k"), saltFactor,
        saltOn = col("v")))
    }
    // the auto dial (r13 verdict item 10): factor from a 5%-sampled
    // key histogram, no hand tuning — the histogram pass is INSIDE the
    // timing (it is part of what the auto path costs)
    val autoFactor = Scale.hotKeyFactor(fact, Seq("k"),
      sampleFraction = 0.05)
    println(s"SKEWBENCH auto-factor=$autoFactor (hand-tuned=$saltFactor)")
    timed("auto", skewJoinOn = false) {
      agg(Scale.saltedJoinAuto(fact, dim, Seq("k"), saltOn = col("v"),
        sampleFraction = 0.05)._1)
    }
    spark.stop()
  }
}
