package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Data-skipping measurement for SCALING.md (dev tool, like SkewBench):
  * the sf1 orders table (15M rows) lands in a versioned table twice —
  *
  *   interleaved — create() from repartition(32): every file spans the
  *                 whole o_orderkey range, stats prune nothing (the
  *                 layout a shuffle-then-write pipeline produces)
  *   clustered   — clusterBy(o_orderkey, 48): contiguous per-file
  *                 ranges (the OPTIMIZE-style rewrite)
  *
  * and a 1/64-keyspace ranged aggregate runs three ways on each:
  * full-scan filter (read().filter), skipped read (readWhere), plus a
  * narrow MERGE (0.05% of the keyspace) to time the key-range-pruned
  * copy-on-write against the same merge on the interleaved layout.
  * All variants must agree on the aggregate (checksummed here); the
  * wall-clocks land in SCALING.md "Data skipping, measured".
  *
  * Test/runMain graft.tools.SkipBench [sfDir]
  */
object SkipBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val work = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val spark = graft.LocalSpark.builder(32)
      .appName("graft-skip-bench")
      .config("spark.sql.warehouse.dir", s"$work/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val orders = graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        graft.queries.CoreQueries.cents(col("o_totalprice")).as("cents"))
    // quantile-anchored ranges: the sf1 keyspace is sparse (shard
    // offsets), so fixed fractions of max can land in gaps
    val qs = orders.stat.approxQuantile("o_orderkey",
      Array(0.50, 0.50 + 1.0 / 64, 0.15, 0.15 + 1.0 / 1280), 0.001)
    val pred = col("o_orderkey") >= lit(qs(0).toLong) &&
      col("o_orderkey") < lit(qs(1).toLong)

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def agg(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum("cents")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    val root = s"$work/vt"
    val (_, tCreate) = time {
      VersionedTable.create(spark, root, orders.repartition(32))
    }
    println(f"create interleaved (32 files): $tCreate%.1f s")

    def measure(label: String): (Long, Long) = {
      val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
      val full = (1 to 3).map(_ =>
        time(agg(VersionedTable.read(spark, root).filter(pred))))
      val skip = (1 to 3).map(_ =>
        time(agg(VersionedTable.readWhere(spark, root, pred))))
      require(full.map(_._1).distinct.size == 1 &&
        full.head._1 == skip.head._1 &&
        skip.map(_._1).distinct.size == 1, "variants disagree")
      println(f"$label: pruned to $kept/$total files; " +
        f"full-scan ${med(full.map(_._2))}%.2f s, " +
        f"readWhere ${med(skip.map(_._2))}%.2f s")
      full.head._1
    }

    val a1 = measure("interleaved")
    // narrow merge on the interleaved layout: key ranges cannot clear
    // any file — every file is a candidate
    val src = orders.filter(col("o_orderkey") >= lit(qs(2).toLong) &&
        col("o_orderkey") < lit(qs(3).toLong))
      .withColumn("cents", col("cents") + 1)
    val (_, mInter) = time {
      VersionedTable.merge(spark, root, src, keys = Seq("o_orderkey"))
    }
    println(f"narrow merge, interleaved: $mInter%.1f s")

    val (_, tCluster) = time {
      VersionedTable.clusterBy(spark, root, Seq("o_orderkey"), 48)
    }
    println(f"clusterBy(o_orderkey, 48): $tCluster%.1f s")
    val a2 = measure("clustered")
    require(a1 == a2, s"cluster changed the answer: $a1 vs $a2")
    val (_, mClus) = time {
      VersionedTable.merge(spark, root,
        src.withColumn("cents", col("cents") + 1), keys = Seq("o_orderkey"))
    }
    println(f"narrow merge, clustered: $mClus%.1f s")
    spark.stop()
  }
}
