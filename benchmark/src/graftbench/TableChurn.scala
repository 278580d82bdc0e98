package graftbench

import java.io.File

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{MaterializedView, VersionedTable}

/** `table_churn`: one versioned table under a fixed sequence of
  * mutations and reads. The write latency is the MERGE upsert (the
  * copy-on-write commit path); the read latency is a key-range
  * `readWhere` snapshot read, collected. The sequence is pairs of merge
  * and read; the other kinds (append, updateWhere, readAsOf,
  * deleteWhere, readChanges, deleteWhereMor, MaterializedView.refresh,
  * maintain) run once each, spread evenly between the pairs. Every op is
  * replayed on a driver-side model; reads, time travel, change feeds
  * and the view are compared against it. */
final class TableChurn(ctx: Ctx) extends Workload {
  import TableChurn._

  private val spark = ctx.spark
  private val tr = ctx.tracer
  val writeKind = "merge"
  val readKind = "read_where"

  /** Pairs of one merge and one read. */
  private val pairs = math.max(1, (ctx.seconds * PairsPerSecond).round.toInt)

  private val main = new State(ctx.path("tables/churn"), ctx.path("tables/churn_mv"),
    ctx.seed)
  private var done = 0

  def generate(): Unit = main.create(InitialRows)

  def warmup(): Unit = {
    val w = new State(ctx.path("warm/churn"), ctx.path("warm/churn_mv"),
      ctx.seed + 1)
    w.create(WarmRows)
    w.sequence(1).foreach { op =>
      val t0 = System.nanoTime()
      op.run()
      op.after()
      System.err.println(f"warm-up ${op.kind} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    ctx.failures.headOption.foreach(f =>
      throw new IllegalStateException(s"warm-up check failed: $f"))
    deleteRecursively(new File(ctx.path("warm")))
  }

  lazy val ops: IndexedSeq[Op] =
    main.sequence(pairs).map(op => op.copy(run = () => { op.run(); done += 1 }))

  def unitsDone: Double = done.toDouble

  def check(): Seq[String] = {
    val got = VersionedTable.read(spark, main.root).collect().map(rowOf).toMap
    val want = main.model
    if (got == want) Seq.empty
    else Seq(s"final table: ${got.size} rows, replay ${want.size} (" +
      s"${(got.toSet diff want.toSet).take(3)} vs ${(want.toSet diff got.toSet).take(3)})")
  }

  def storedRoots: Seq[String] = Seq(main.root, main.mvRoot)
  def liveRows: Long = main.model.size.toLong

  override def layerMetrics(spans: Seq[Span], jobsIn: Span => Int): Map[String, Double] =
    Map("sources.live_files_end" -> VersionedTable.fileCount(spark, main.root).toDouble,
      "sources.versions_end" ->
        VersionedTable.currentVersion(spark, main.root).getOrElse(0L).toDouble)

  /** One table, its view, and the driver-side replay of the table. */
  private final class State(val root: String, val mvRoot: String, seed: Long) {
    var model: TreeMap[Long, Rec] = TreeMap.empty
    /** Model snapshot and commit instant of each version. */
    val snapshots = mutable.Map.empty[Long, (TreeMap[Long, Rec], Long)]
    var nextKey = 0L

    private def version: Long = VersionedTable.currentVersion(spark, root).get

    private def record(): Unit = {
      val v = version
      if (!snapshots.contains(v)) snapshots(v) = (model, System.currentTimeMillis())
    }

    def create(n: Int): Unit = {
      val rnd = new Random(seed)
      model = TreeMap.from((0L until n).map(k => k -> randomRec(rnd, k, 0)))
      nextKey = n.toLong
      VersionedTable.create(spark, root,
        frame(model.toSeq).repartitionByRange(InitialFiles, col("key")))
      MaterializedView.create(spark, root, mvRoot, keys = Seq("grp"),
        sums = Seq("val"), minmax = Seq("key"))
      record()
    }

    private def rndFor(i: Int) = new Random(seed * 1000003L + i)

    /** The fixed op sequence: `n` pairs, other kind `k` after pair
      * (k + 1) n / 8 - 1, so the other kinds spread evenly. */
    def sequence(n: Int): IndexedSeq[Op] = {
      val after = OtherKinds.indices.groupBy(k =>
        math.max(0, (k + 1) * n / OtherKinds.size - 1))
      val kinds = (0 until n).flatMap(p => Seq(-2, -1) ++ after.getOrElse(p, Seq.empty))
      kinds.zipWithIndex.map {
        case (-2, i) => merge(i)
        case (-1, i) => readWhere(i)
        case (k, i) => other(k, i)
      }
    }

    /** The key range of `width` keys op `i` works on; `recent` keeps it
      * among the newest keys. Positions follow a golden-ratio sequence
      * from a fixed phase, so the ranges spread evenly over the key space
      * and are the same for every seed: a read's cost depends on the files
      * its range falls in, and only the data should differ by seed. */
    private def range(i: Int, width: Int, recent: Boolean): (Long, Long) = {
      val span = if (recent) math.min(nextKey, RecentWindow.toLong) else nextKey
      val u = (0.5 + i * 0.6180339887498949) % 1.0
      val lo = nextKey - span + (u * math.max(1L, span - width)).toLong
      (lo, lo + width - 1)
    }

    private def between(lo: Long, hi: Long): Column = col("key").between(lo, hi)

    private def touch(op: String, userRows: Int)(commit: => Unit): Unit = {
      // only a traced run lists the files around the commit
      val before = if (tr.active) Some(tr.overhead((files(), version))) else None
      tr.span(s"sources.$op")(commit)
      before.foreach { case (b, v0) => tr.overhead {
        val after = files()
        val written = after.filter { case (p, _) => !b.contains(p) }.values.sum
        tr.sample("sources.bytes_written_per_user_byte",
          written.toDouble / math.max(1, userRows * RowBytes))
        if (op != "append") {
          val v1 = version
          val removed = VersionedTable.fileList(spark, root, v0).toSet --
            VersionedTable.fileList(spark, root, v1)
          if (v1 > v0) tr.sample("sources.files_rewritten_per_commit", removed.size)
        }
      }}
    }

    private def files(): Map[String, Long] = {
      def walk(f: File): Seq[(String, Long)] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f.getPath -> f.length)
      walk(new File(root)).toMap
    }

    def merge(i: Int): Op = Op("merge", () => {
      val rnd = rndFor(i)
      val updates = rnd.shuffle((math.max(0L, nextKey - RecentWindow) until nextKey)
        .filter(model.contains)).take(MergeUpdates)
      val inserts = nextKey until nextKey + MergeInserts
      val batch = (updates ++ inserts).map(k => k -> randomRec(rnd, k, i))
      touch("merge", batch.size) {
        VersionedTable.merge(spark, root, frame(batch), Seq("key"), cdf = true)
      }
      nextKey += MergeInserts
      model = model ++ batch
    }, () => record())

    def readWhere(i: Int): Op = {
      var lo, hi = 0L
      var got: Map[Long, Rec] = Map.empty
      Op("read_where", () => {
        val (a, b) = range(i, ReadWidth, recent = false)
        lo = a; hi = b
        got = tr.span("sources.read_where")(
          VersionedTable.readWhere(spark, root, between(a, b)).collect())
          .map(rowOf).toMap
      }, () => {
        ctx.expect(got == model.range(lo, hi + 1),
          s"readWhere [$lo, $hi]: ${got.size} rows, model ${model.range(lo, hi + 1).size}")
        if (tr.active) {
          val (kept, total) = VersionedTable.pruneProfile(spark, root, between(lo, hi))
          tr.sample("sources.files_scanned_per_read", kept)
          tr.sample("sources.files_pruned_ratio", 1.0 - kept.toDouble / math.max(1, total))
        }
      })
    }

    def other(kind: Int, i: Int): Op = OtherKinds(kind) match {
      case "append" => Op("append", () => {
        val rnd = rndFor(i)
        val rows = (nextKey until nextKey + AppendRows).map(k => k -> randomRec(rnd, k, i))
        touch("append", rows.size)(VersionedTable.append(spark, root, frame(rows)))
        nextKey += AppendRows
        model = model ++ rows
      }, () => record())

      case "update" => Op("update", () => {
        val (lo, hi) = range(i, UpdateWidth, recent = true)
        val hit = model.range(lo, hi + 1)
        touch("update", hit.size) {
          VersionedTable.updateWhere(spark, root, between(lo, hi),
            Map("val" -> (col("val") + lit(1L)), "note" -> lit(s"u$i")), cdf = true)
        }
        model = model ++ hit.map { case (k, r) => k -> r.copy(v = r.v + 1, note = s"u$i") }
      }, () => record())

      case "delete" => Op("delete", () => {
        val (lo, hi) = range(i, DeleteWidth, recent = true)
        val hit = model.range(lo, hi + 1)
        touch("delete", hit.size)(
          VersionedTable.deleteWhere(spark, root, between(lo, hi), cdf = true))
        model = model -- hit.keys
      }, () => record())

      case "delete_mor" => Op("delete_mor", () => {
        val (lo, hi) = range(i, DeleteWidth, recent = false)
        val hit = model.range(lo, hi + 1)
        touch("delete_mor", hit.size)(
          VersionedTable.deleteWhereMor(spark, root, between(lo, hi), cdf = true))
        model = model -- hit.keys
      }, () => record())

      case "read_as_of" =>
        var target = 0L
        var got: Map[Long, Rec] = Map.empty
        Op("read_as_of", () => {
          target = version - AsOfBack
          val ts = snapshots(target)._2
          got = tr.span("sources.read_as_of")(
            VersionedTable.readAsOf(spark, root, ts).collect()).map(rowOf).toMap
        }, () => ctx.expect(got == snapshots(target)._1,
          s"readAsOf v$target: ${got.size} rows, replay ${snapshots(target)._1.size}"))

      case "read_changes" =>
        var from, to = 0L
        var feed: Seq[(String, (Long, Rec))] = Seq.empty
        Op("read_changes", () => {
          to = version
          from = to - ChangesBack
          feed = tr.span("sources.read_changes")(
            VersionedTable.readChanges(spark, root, from, Some(to)).collect())
            .map(r => r.getAs[String]("_change_type") -> rowOf(r)).toSeq
        }, () => {
          // the feed applied to the FROM replay must give the TO replay
          val counts = mutable.Map.empty[(Long, Rec), Int]
          snapshots(from)._1.foreach(kv => counts(kv) = 1)
          feed.foreach { case (t, kv) =>
            counts(kv) = counts.getOrElse(kv, 0) + (if (t == "insert") 1 else -1)
          }
          val applied = counts.filter(_._2 != 0)
          ctx.expect(applied.values.forall(_ == 1) &&
            applied.keySet == snapshots(to)._1.toSet,
            s"readChanges ($from, $to]: applied feed differs from replay")
        })

      case "mv_refresh" => Op("mv_refresh", () => {
        tr.span("sources.mv_refresh")(MaterializedView.refresh(spark, root, mvRoot))
      }, () => {
        val got = MaterializedView.read(spark, mvRoot).collect().map(r =>
          r.getAs[Int]("grp") -> (r.getAs[Long]("cnt"), r.getAs[Long]("sum_val"),
            r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).toMap
        val want = model.toSeq.groupBy(_._2.grp).map { case (g, rs) =>
          g -> (rs.size.toLong, rs.map(_._2.v).sum, rs.map(_._1).min, rs.map(_._1).max)
        }
        ctx.expect(got == want, s"view: ${got.size} groups, replay ${want.size}" +
          s" (first diff ${(got.toSet diff want.toSet).headOption})")
        if (tr.active) {
          val (kept, total) = MaterializedView.rescanProfile(spark, mvRoot)
          tr.sample("sources.mv_rescan_ratio",
            if (total > 0) kept.toDouble / total else 0.0)
        }
      })

      case "maintain" => Op("maintain", () => {
        tr.span("sources.maintain")(VersionedTable.maintain(spark, root,
          smallFileBytes = SmallFileBytes, targetPartitions = CompactFiles,
          sortCols = Seq("key"), keepVersions = KeepVersions))
      }, () => {
        record()
        val kept = VersionedTable.versions(spark, root).toSet
        snapshots.keys.filterNot(kept).foreach(snapshots.remove)
      })
    }
  }

  private def frame(rows: Seq[(Long, Rec)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, r) => Row(k, r.grp, r.v, r.note) }: _*),
      Schema)
}

object TableChurn {
  final case class Rec(grp: Int, v: Long, note: String)

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("grp", IntegerType),
    StructField("val", LongType), StructField("note", StringType)))

  val OtherKinds: IndexedSeq[String] = IndexedSeq("append", "update",
    "read_as_of", "delete", "read_changes", "delete_mor", "mv_refresh",
    "maintain")

  /** The table of the probe that set the run rules (README.md). */
  val InitialRows = 200000
  val WarmRows = 1000
  /** 25,000 rows a file. */
  val InitialFiles = 8
  val GroupWidth = 500
  /** Merges update keys among the newest 1% of the table. */
  val RecentWindow = 2000
  /** Every op touches 0.1% of the table, the size of a TPC-H refresh
    * set (SF * 1,500 of SF * 1,500,000 orders): a merge updates 150
    * recent keys and inserts 50. */
  val MergeUpdates = 150
  val MergeInserts = 50
  val AppendRows = 200
  val UpdateWidth = 200
  val DeleteWidth = 200
  val ReadWidth = 200
  val AsOfBack = 2L
  val ChangesBack = 3L
  val SmallFileBytes: Long = 16L * 1024
  val CompactFiles = 2
  val KeepVersions = 10
  /** 10 pairs at the default 30 s: 10 merges, 10 reads. */
  val PairsPerSecond = 10.0 / 30
  /** Logical bytes of one row: key, grp, val and a note of ~6 chars. */
  val RowBytes = 26

  /** A row of key `k`: its group is a key range, so a base clustered
    * by key is clustered by group too and the view's rescan can prune. */
  def randomRec(rnd: Random, k: Long, i: Int): Rec =
    Rec((k / GroupWidth).toInt, rnd.nextInt(1000000).toLong, s"n$i-${rnd.nextInt(100)}")

  def rowOf(r: Row): (Long, Rec) =
    r.getAs[Long]("key") -> Rec(r.getAs[Int]("grp"), r.getAs[Long]("val"),
      r.getAs[String]("note"))

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
