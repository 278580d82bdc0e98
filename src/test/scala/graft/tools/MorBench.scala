package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Merge-on-read vs copy-on-write delete measurement for SCALING.md
  * (dev tool, like SkipBench): the sf1 orders table (15M rows) lands
  * clustered (48 contiguous o_orderkey ranges), then two delete shapes
  * run BOTH ways from the same snapshot (restore() rewinds between
  * runs, so every variant sees identical bytes):
  *
  *   point   — a 1/1280 keyspace band: stats prune the COW rewrite to
  *             ~1 file, the best case for copy-on-write
  *   scatter — o_custkey % 9973 == 7 (~0.01% of rows, every file):
  *             stats cannot prune a modulo, so COW rewrites the WHOLE
  *             table while MOR writes a KB-scale position list
  *
  * plus the read-side cost: the same full-table aggregate with two
  * stacked deletion vectors applied vs after materializeDeletes. All
  * variants must agree on row counts (asserted). Wall-clocks land in
  * SCALING.md "Merge-on-read deletes, measured".
  *
  * Test/runMain graft.tools.MorBench [sfDir]
  */
object MorBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/tmp/sf1")
    val work = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val spark = graft.LocalSpark.builder(32)
      .appName("graft-mor-bench")
      .config("spark.sql.warehouse.dir", s"$work/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val orders = graft.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        graft.queries.CoreQueries.cents(col("o_totalprice")).as("cents"))
    val qs = orders.stat.approxQuantile("o_orderkey",
      Array(0.40, 0.40 + 1.0 / 1280), 0.001)
    val predPoint = col("o_orderkey") >= lit(qs(0).toLong) &&
      col("o_orderkey") < lit(qs(1).toLong)
    val predScatter = col("o_custkey") % 9973 === 7

    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def count(df: DataFrame): Long = df.count()

    val root = s"$work/vt"
    VersionedTable.create(spark, root, orders
      .repartitionByRange(48, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey")))
    val n0 = count(VersionedTable.read(spark, root))
    val nPoint = count(orders.filter(predPoint))
    val nScatter = count(orders.filter(predScatter))
    println(f"base $n0%d rows; point band $nPoint%d rows, " +
      f"scatter ${nScatter}%d rows across all files")

    def filesOf(v: Long): Set[String] =
      VersionedTable.fileList(spark, root, v).toSet
    // write amplification: bytes of data files a commit ADDED — the
    // number that scales with table size under COW and with match
    // count under MOR
    def bytesAdded(from: Long, to: Long): Long =
      (filesOf(to) -- filesOf(from)).toSeq
        .map(rel => new java.io.File(s"$root/$rel").length()).sum

    // --- copy-on-write, from v1 ---
    val (_, tCowPoint) = time {
      VersionedTable.deleteWhere(spark, root, predPoint) // v2
    }
    val rewrittenPoint = (filesOf(1L) -- filesOf(2L)).size
    require(count(VersionedTable.read(spark, root)) == n0 - nPoint)
    VersionedTable.restore(spark, root, 1L) // v3 ≡ v1
    val (_, tCowScatter) = time {
      VersionedTable.deleteWhere(spark, root, predScatter) // v4
    }
    val rewrittenScatter = (filesOf(1L) -- filesOf(4L)).size
    require(count(VersionedTable.read(spark, root)) == n0 - nScatter)
    println(f"COW: point $tCowPoint%.1f s ($rewrittenPoint files, " +
      f"${bytesAdded(1L, 2L) / 1024}%d KB written), " +
      f"scatter $tCowScatter%.1f s ($rewrittenScatter files, " +
      f"${bytesAdded(1L, 4L) / 1024}%d KB written)")

    // --- merge-on-read, from the same snapshot ---
    VersionedTable.restore(spark, root, 1L) // v5 ≡ v1
    val (_, tMorPoint) = time {
      VersionedTable.deleteWhereMor(spark, root, predPoint) // v6
    }
    require(count(VersionedTable.read(spark, root)) == n0 - nPoint)
    val (_, tMorScatter) = time {
      VersionedTable.deleteWhereMor(spark, root, predScatter) // v7
    }
    require(count(VersionedTable.read(spark, root)) ==
      n0 - nPoint - nScatter)
    val dvBytes = {
      val f = new java.io.File(s"$root/deletes")
      def size(d: java.io.File): Long =
        d.listFiles().map(c => if (c.isDirectory) size(c) else c.length()).sum
      size(f)
    }
    println(f"MOR: point $tMorPoint%.1f s, scatter $tMorScatter%.1f s " +
      f"(0 files rewritten, ${dvBytes / 1024}%d KB of DVs written " +
      "total)")

    // --- read-side cost of unmaterialized deletes ---
    def scanAgg(): Long = {
      val r = VersionedTable.read(spark, root)
        .agg(sum("cents")).collect()(0)
      r.getLong(0)
    }
    val withDv = (1 to 3).map(_ => time(scanAgg())).map(_._2).sorted
    val sumWithDv = scanAgg()
    val (_, tMat) = time {
      VersionedTable.materializeDeletes(spark, root,
        targetPartitions = 48, sortCols = Seq("o_orderkey"))
    }
    val clean = (1 to 3).map(_ => time(scanAgg())).map(_._2).sorted
    require(scanAgg() == sumWithDv, "materialize changed the answer")
    println(f"read full-table agg: with 2 DVs ${withDv(1)}%.2f s, " +
      f"after materializeDeletes ($tMat%.1f s) ${clean(1)}%.2f s")

    spark.stop()
  }
}
