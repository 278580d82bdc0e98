package graft.sources

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ACID contract of the versioned-manifest copy-on-write table —
  * above all CRASH SAFETY: a torn write at any pre-publish point must
  * leave the visible snapshot bit-identical, because the manifest
  * rename is the only state transition. */
class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_vt").toString + "/t"

  private def dim(rows: (Int, String, Long)*): DataFrame =
    rows.toSeq.toDF("k", "name", "amt")

  private def rowsOf(df: DataFrame): Set[(Int, String, Long)] =
    df.select("k", "name", "amt").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("create + read round-trips at version 1") {
    val root = freshRoot()
    val v = VersionedTable.create(spark, root,
      dim((1, "a", 10L), (2, "b", 20L)))
    assert(v == 1L)
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      Set((1, "a", 10L), (2, "b", 20L)))
  }

  test("replace: CREATE OR REPLACE — fresh meta and schema, history " +
      "time-travels, change feeds refuse to cross") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)),
      meta = Map("gen" -> "1", "old_key" -> "x"))
    VersionedTable.append(spark, root, dim((2, "b", 20L)))
    // replace with a DIFFERENT schema and wholly new meta
    val v = VersionedTable.replace(spark, root,
      Seq((7L, 0.5)).toDF("id", "score"), meta = Map("gen" -> "2"))
    assert(v == 3L)
    val now = VersionedTable.read(spark, root)
    assert(now.columns.toSeq == Seq("id", "score") && now.count() == 1)
    val meta = VersionedTable.metaOf(spark, root)
    assert(meta("gen") == "2" && !meta.contains("old_key"),
      "replace must RESET the meta, not merge stale keys")
    // prior generations stay time-travelable
    assert(rowsOf(VersionedTable.read(spark, root, Some(2L))) ==
      Set((1, "a", 10L), (2, "b", 20L)))
    // a feed crossing the replace refuses loudly — a replace is a new
    // table generation, not a delta
    val e = intercept[IllegalStateException](
      VersionedTable.readChanges(spark, root, 1L).collect())
    assert(e.getMessage.contains("without change capture"))
    // a fresh consumer attaching AT the replace reads it as inserts
    assert(VersionedTable.readChanges(spark, root, 3L).isEmpty)
  }

  test("merge updates matched, inserts unmatched, and time travel keeps v1") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    val v = VersionedTable.merge(spark, root,
      dim((2, "b2", 22L), (3, "c", 30L)), keys = Seq("k"))
    assert(v == 2L)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      Set((1, "a", 10L), (2, "b2", 22L), (3, "c", 30L)))
    // the old snapshot is immutable — readers pinned to v1 see v1
    assert(rowsOf(VersionedTable.read(spark, root, Some(1L))) ==
      Set((1, "a", 10L), (2, "b", 20L)))
  }

  test("copy-on-write is file-granular: untouched files are carried, not rewritten") {
    val root = freshRoot()
    // two files with disjoint key ranges (repartitionByRange + one
    // row group each)
    val base = dim((1 to 40).map(i => (i, s"n$i", i.toLong)): _*)
      .repartitionByRange(2, col("k"))
    VersionedTable.create(spark, root, base)
    def filesOf(df: DataFrame): Set[String] =
      df.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
    val v1Files = filesOf(VersionedTable.read(spark, root, Some(1L)))
    assert(v1Files.size == 2)
    // touch ONE key → exactly one of the two files may be rewritten
    VersionedTable.merge(spark, root, dim((1, "updated", 999L)), Seq("k"))
    val v2Files = filesOf(VersionedTable.read(spark, root))
    assert((v1Files intersect v2Files).size == 1,
      s"expected exactly one carried file, got ${v1Files intersect v2Files}")
    assert(rowsOf(VersionedTable.read(spark, root))
      .contains((1, "updated", 999L)))
  }

  test("a torn pre-publish write never corrupts the visible snapshot") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    val before = rowsOf(VersionedTable.read(spark, root))
    // crash simulation 1: orphan data dir (committer died after
    // writing data files, before any manifest activity)
    dim((9, "garbage", 0L)).write
      .parquet(s"$root/data/orphan-${java.util.UUID.randomUUID()}")
    // crash simulation 2: torn manifest temp (died mid-write — note
    // HALF a manifest: magic line but no schema, an unparseable torso)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/_manifests/.tmp-crashed"),
      "graft-versioned-table v1\nschema={".getBytes("UTF-8"))
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(rowsOf(VersionedTable.read(spark, root)) == before)
    // and the table still accepts commits
    VersionedTable.merge(spark, root, dim((2, "b", 20L)), Seq("k"))
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      before + ((2, "b", 20L)))
  }

  test("concurrent commit loses the CAS and recover() clears a dead lock") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    // another committer reserved v2 (or died holding the lock)
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      s"$root/_manifests/v${"%020d".format(2)}.lock"))
    intercept[VersionedTable.CommitConflict] {
      VersionedTable.merge(spark, root, dim((1, "x", 1L)), Seq("k"))
    }
    // the failed attempt must not have changed anything
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "a", 10L)))
    VersionedTable.recover(spark, root)
    VersionedTable.merge(spark, root, dim((1, "x", 1L)), Seq("k"))
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "x", 1L)))
  }

  test("delete-matched merge shrinks the table") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    VersionedTable.merge(spark, root, dim((1, "a", 10L)), Seq("k"),
      insertUnmatched = false, deleteMatched = true)
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((2, "b", 20L)))
    // the Delta clause combination: delete matched AND insert unmatched
    VersionedTable.merge(spark, root, dim((2, "x", 0L), (9, "i", 90L)),
      Seq("k"), insertUnmatched = true, deleteMatched = true)
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((9, "i", 90L)))
    // a misspelled SET column refuses instead of silently no-opping
    val err = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, dim((9, "j", 91L)), Seq("k"),
        setCols = Some(Seq("naem")))
    }
    assert(err.getMessage.contains("unknown column"), err.getMessage)
  }

  test("scdType2Commit expires changed rows and inserts fresh versions") {
    val root = freshRoot()
    val t0 = Seq((1, "a", "2026-01-01", null.asInstanceOf[String], true),
        (2, "b", "2026-01-01", null.asInstanceOf[String], true))
      .toDF("k", "name", "valid_from", "valid_to", "is_current")
    VersionedTable.create(spark, root, t0)
    VersionedTable.scdType2Commit(spark, root,
      Seq((1, "a2"), (3, "c")).toDF("k", "name"),
      keys = Seq("k"), trackedCols = Seq("name"), runStamp = "2026-02-01")
    val got = VersionedTable.read(spark, root)
      .select("k", "name", "valid_to", "is_current").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (1, "a", "2026-02-01", false),   // expired
      (1, "a2", null, true),           // replacement
      (2, "b", null, true),            // untouched
      (3, "c", null, true)))           // brand-new key
  }

  test("vacuum drops old versions and their unreferenced files only") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    VersionedTable.merge(spark, root, dim((1, "a2", 11L)), Seq("k"))
    VersionedTable.vacuum(spark, root, keepFrom = 2L)
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "a2", 11L)))
    intercept[Exception] { VersionedTable.read(spark, root, Some(1L)) }
  }

  test("streamingUpsert is exactly-once under at-least-once replay") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    val v2 = VersionedTable.streamingUpsert(spark, root,
      dim((1, "a2", 11L), (3, "c", 30L)), Seq("k"), "q", batchId = 0L)
    assert(v2 == 2L)
    val after0 = rowsOf(VersionedTable.read(spark, root))
    assert(after0 == Set((1, "a2", 11L), (2, "b", 20L), (3, "c", 30L)))
    // crash-replay of the SAME batch: no new version, no double-apply
    val replay = VersionedTable.streamingUpsert(spark, root,
      dim((1, "a2", 11L), (3, "c", 30L)), Seq("k"), "q", batchId = 0L)
    assert(replay == 2L)
    assert(rowsOf(VersionedTable.read(spark, root)) == after0)
    // next batch applies; a LATE replay of batch 0 after it is skipped
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((2, "b2", 21L)), Seq("k"), "q", batchId = 1L) == 3L)
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((1, "STALE", 99L)), Seq("k"), "q", batchId = 0L) == 3L)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      Set((1, "a2", 11L), (2, "b2", 21L), (3, "c", 30L)))
    // a DIFFERENT query's batch 0 is independent state
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((4, "d", 40L)), Seq("k"), "q2", batchId = 0L) == 4L)
    // and the watermark meta survives non-streaming commits in between
    VersionedTable.merge(spark, root, dim((5, "e", 50L)), Seq("k"))
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((1, "STALE2", 98L)), Seq("k"), "q", batchId = 1L) == 5L)
  }

  test("compact rewrites small files, preserves rows, keeps time travel") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    VersionedTable.streamingUpsert(spark, root, dim((2, "b", 20L)),
      Seq("k"), "q", 0L)
    VersionedTable.append(spark, root, dim((3, "c", 30L)))
    VersionedTable.append(spark, root, dim((4, "d", 40L)))
    val all = Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L), (4, "d", 40L))
    assert(rowsOf(VersionedTable.read(spark, root)) == all)
    def nFiles(v: Long) = VersionedTable.read(spark, root, Some(v))
      .select(input_file_name()).distinct().count()
    val before = nFiles(4L)
    assert(before >= 4L)
    val v5 = VersionedTable.compact(spark, root, smallFileBytes = 1 << 20)
    assert(v5 == 5L)
    assert(nFiles(5L) == 1L)
    assert(rowsOf(VersionedTable.read(spark, root)) == all)
    // pre-compact version still reads the old layout
    assert(nFiles(4L) == before)
    assert(rowsOf(VersionedTable.read(spark, root, Some(4L))) == all)
    // compacting an already-compact table is a no-op version-wise
    assert(VersionedTable.compact(spark, root, 1 << 20) == 5L)
    // the streaming watermark rode through: batch 0 still deduped
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((9, "STALE", 9L)), Seq("k"), "q", 0L) == 5L)
  }

  test("two concurrent streaming writers both land via CAS retry") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((0, "seed", 0L)))
    val nBatches = 4
    // two writers, disjoint key ranges, racing every batch: losers of
    // the version CAS must retry against the fresh snapshot and land
    val writers = Seq("wa" -> 100, "wb" -> 200).map { case (q, off) =>
      new Thread(() => {
        (0 until nBatches).foreach { b =>
          VersionedTable.streamingUpsert(spark, root,
            dim((off + b, s"$q$b", b.toLong)), Seq("k"), q, b.toLong)
        }
      })
    }
    writers.foreach(_.start()); writers.foreach(_.join())
    // every batch from both writers committed exactly once
    assert(VersionedTable.currentVersion(spark, root)
      .contains(1L + 2 * nBatches))
    val got = rowsOf(VersionedTable.read(spark, root))
    val want = Set((0, "seed", 0L)) ++
      (0 until nBatches).flatMap(b =>
        Seq((100 + b, s"wa$b", b.toLong), (200 + b, s"wb$b", b.toLong)))
    assert(got == want)
    // and both watermarks survived the interleaving: stale replays skip
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((999, "STALE", 9L)), Seq("k"), "wa", 0L) == 1L + 2 * nBatches)
    assert(VersionedTable.streamingUpsert(spark, root,
      dim((999, "STALE", 9L)), Seq("k"), "wb", nBatches - 1L) ==
      1L + 2 * nBatches)
  }

  test("readAppendsSince tails appends exactly and refuses rewrites") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    VersionedTable.append(spark, root, dim((2, "b", 20L)))
    VersionedTable.append(spark, root, dim((3, "c", 30L)))
    assert(rowsOf(VersionedTable.readAppendsSince(spark, root, 1L)) ==
      Set((2, "b", 20L), (3, "c", 30L)))
    assert(rowsOf(VersionedTable.readAppendsSince(spark, root, 2L)) ==
      Set((3, "c", 30L)))
    assert(VersionedTable.readAppendsSince(spark, root, 3L).isEmpty)
    // bounded upper end
    assert(rowsOf(VersionedTable.readAppendsSince(spark, root, 1L,
      toVersion = Some(2L))) == Set((2, "b", 20L)))
    // a rewrite in the range poisons the file diff: refuse, loudly
    VersionedTable.merge(spark, root, dim((1, "a2", 11L)), Seq("k"))
    intercept[IllegalStateException] {
      VersionedTable.readAppendsSince(spark, root, 1L)
    }
    // but a range strictly after the rewrite is clean again
    VersionedTable.append(spark, root, dim((4, "d", 40L)))
    assert(rowsOf(VersionedTable.readAppendsSince(spark, root, 4L)) ==
      Set((4, "d", 40L)))
  }

  test("model check: random op sequences match an in-memory reference") {
    // the table under ANY interleaving of its operations must equal a
    // trivial Map model — the strongest cheap contract for a storage
    // layer (op semantics compose, snapshots never tear, meta rides)
    val rnd = new scala.util.Random(2026)
    (1 to 5).foreach { trial =>
      val root = freshRoot()
      var model = Map[Int, (String, Long)](1 -> ("init", 1L))
      VersionedTable.create(spark, root, dim((1, "init", 1L)))
      var batchId = Map[String, Long]().withDefaultValue(-1L)
      (1 to 12).foreach { step =>
        def freshRows(n: Int): Seq[(Int, String, Long)] =
          (1 to n).map(_ => (rnd.nextInt(30),
            s"t${trial}s$step", rnd.nextInt(100).toLong))
            .groupBy(_._1).map(_._2.head).toSeq // key-unique
        rnd.nextInt(5) match {
          case 0 => // append brand-new keys only (append = no upsert)
            val rows = freshRows(3).map { case (k, n, a) =>
              (k + 1000 * step, n, a) }
            VersionedTable.append(spark, root, dim(rows: _*))
            model ++= rows.map { case (k, n, a) => k -> ((n, a)) }
          case 1 =>
            val rows = freshRows(4)
            VersionedTable.merge(spark, root, dim(rows: _*), Seq("k"))
            model ++= rows.map { case (k, n, a) => k -> ((n, a)) }
          case 2 =>
            val q = s"w${rnd.nextInt(2)}"
            val replay = rnd.nextBoolean() && batchId(q) >= 0
            val id = if (replay) batchId(q) else batchId(q) + 1
            val rows = freshRows(3)
            VersionedTable.streamingUpsert(spark, root, dim(rows: _*),
              Seq("k"), q, id)
            if (!replay) { // replayed batches must not apply
              batchId += q -> id
              model ++= rows.map { case (k, n, a) => k -> ((n, a)) }
            }
          case 3 =>
            VersionedTable.compact(spark, root, smallFileBytes = 1 << 20)
          case 4 =>
            val cur = VersionedTable.currentVersion(spark, root).get
            VersionedTable.vacuum(spark, root,
              keepFrom = (cur - rnd.nextInt(3)) max 1, orphanGraceMs = 0)
        }
        val got = rowsOf(VersionedTable.read(spark, root))
        val want = model.map { case (k, (n, a)) => (k, n, a) }.toSet
        assert(got == want, s"trial $trial step $step diverged")
      }
    }
  }

  test("four concurrent writers: every commit lands exactly once via OCC retry") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((0, "seed", 0L)))
    val writers = 4
    val commitsEach = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (1 to writers).map { w =>
      scala.concurrent.Future {
        (1 to commitsEach).foreach { c =>
          val key = w * 100 + c
          var done = false
          while (!done) {
            try {
              VersionedTable.merge(spark, root,
                dim((key, s"w$w-c$c", key.toLong)), Seq("k"))
              done = true
            } catch { case _: VersionedTable.CommitConflict => }
          }
        }
      }
    }
    import scala.concurrent.duration._
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), 10.minutes)
    pool.shutdown()
    // every writer's every key landed exactly once; version count is
    // exactly 1 + writers*commitsEach (no lost updates, no duplicates)
    val got = rowsOf(VersionedTable.read(spark, root))
    val want = (for (w <- 1 to writers; c <- 1 to commitsEach)
      yield (w * 100 + c, s"w$w-c$c", (w * 100 + c).toLong)).toSet +
      ((0, "seed", 0L))
    assert(got == want, s"diverged: missing ${want -- got}")
    assert(VersionedTable.currentVersion(spark, root)
      .contains(1L + writers * commitsEach))
  }

  test("vacuum sweeps torn-write orphan dirs past the grace window") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    // simulate a torn write: a data dir no manifest ever referenced
    val orphan = new java.io.File(s"$root/data/orphan-fake-uuid")
    orphan.mkdirs()
    val junk = new java.io.File(orphan, "part-00000.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    // inside the grace window: a mid-flight commit must NOT be eaten
    VersionedTable.vacuum(spark, root, keepFrom = 1L,
      orphanGraceMs = 3600L * 1000)
    assert(junk.exists())
    // past the grace window: swept
    VersionedTable.vacuum(spark, root, keepFrom = 1L, orphanGraceMs = -1000L)
    assert(!orphan.exists())
    // the referenced data survived both sweeps
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "a", 10L)))
  }

  // ---- data skipping ------------------------------------------------------

  /** Range-clustered table: one commit per key band, two files each —
    * the layout data skipping exploits. */
  private def bandedTable(root: String, bands: Int, perBand: Int): Unit = {
    def band(b: Int): DataFrame =
      dim((0 until perBand).map(i =>
        (b * 1000 + i, s"b${b}r$i", (b * 1000 + i).toLong)): _*)
        .repartitionByRange(2, col("k"))
    VersionedTable.create(spark, root, band(0))
    (1 until bands).foreach(b => VersionedTable.append(spark, root, band(b)))
  }

  test("readWhere prunes files by manifest stats and matches a full filter") {
    val root = freshRoot()
    bandedTable(root, bands = 5, perBand = 20) // 10 files, k in 5 bands
    val pred = col("k") >= 2000 && col("k") < 3000
    val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
    assert(total == 10 && kept == 2,
      s"expected 2/10 files kept for one band, got $kept/$total")
    val viaSkip = rowsOf(VersionedTable.readWhere(spark, root, pred))
    val viaScan = rowsOf(VersionedTable.read(spark, root).filter(pred))
    assert(viaSkip == viaScan && viaSkip.size == 20)
    // both skipping layers are active: the manifest pruned the file
    // list AND the residual predicate reached the parquet scan as
    // PushedFilters (row-group/page pruning inside surviving files)
    val plan = VersionedTable.readWhere(spark, root, pred)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(k,2000)"),
      s"residual filter must reach the scan:\n$plan")
  }

  test("disjunction pruning: an OR-of-BETWEENs keeps only the covered " +
      "bands; an unjudgeable arm keeps everything (conservative)") {
    val root = freshRoot()
    bandedTable(root, bands = 5, perBand = 20) // 10 files, 5 k-bands
    // the IdPredicate shape: two covering intervals over bands 0 and 3
    val pred = (col("k") >= 0 && col("k") < 1000) ||
      (col("k") >= 3000 && col("k") < 4000)
    val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
    assert(total == 10 && kept == 4,
      s"expected 4/10 files for two bands, got $kept/$total")
    val viaSkip = rowsOf(VersionedTable.readWhere(spark, root, pred))
    val viaScan = rowsOf(VersionedTable.read(spark, root).filter(pred))
    assert(viaSkip == viaScan && viaSkip.size == 40)
    // an OR arm the pruner cannot judge makes the whole disjunction
    // unjudgeable for that file — kept, never wrongly dropped
    val mixed = (col("k") >= 0 && col("k") < 1000) ||
      coalesce(col("amt"), lit(0L)) > lit(1000000L)
    assert(VersionedTable.pruneProfile(spark, root, mixed)._1 == 10)
    assert(rowsOf(VersionedTable.readWhere(spark, root, mixed)) ==
      rowsOf(VersionedTable.read(spark, root).filter(mixed)))
  }

  test("keyRangePrune falls back to scanning on a source key dtype mismatch") {
    val root = freshRoot()
    bandedTable(root, bands = 3, perBand = 10) // 6 files, k is INT
    val m = VersionedTable.readManifest(spark, root, 3L)
    // long-typed feed keys against the int dimension: no pruning,
    // but the merge itself must still be exact
    val longSrc = Seq(2001L, 2003L).toDF("k")
    assert(VersionedTable.keyRangePrune(spark, m, longSrc, Seq("k")).size == 6)
    val before = rowsOf(VersionedTable.read(spark, root))
    VersionedTable.merge(spark, root,
      Seq((2001, "upd", 0L)).toDF("k", "name", "amt"), Seq("k"))
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      before - ((2001, "b2r1", 2001L)) + ((2001, "upd", 0L)))
  }

  test("compact(sortCols) keeps a clustered layout prunable") {
    val root = freshRoot()
    bandedTable(root, bands = 4, perBand = 10) // 8 small files, banded
    val pred = col("k") >= 2000 && col("k") < 3000
    val v = VersionedTable.compact(spark, root, smallFileBytes = 1L << 20,
      targetPartitions = 4, sortCols = Seq("k"))
    assert(v == 5L)
    val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
    assert(total == 4 && kept <= 2,
      s"sorted compaction must stay prunable, got $kept/$total")
    assert(VersionedTable.read(spark, root).count() == 40)
  }

  test("pruning is conservative across predicate shapes: readWhere == filter") {
    val root = freshRoot()
    val rows = (1 to 60).map { i =>
      (i, if (i % 7 == 0) null else s"n${i % 10}",
        if (i % 5 == 0) None else Some(i.toLong))
    }
    val df = rows.toDF("k", "name", "amt").repartitionByRange(4, col("k"))
    VersionedTable.create(spark, root, df)
    def rowsN(d: DataFrame): Set[(Int, String, Any)] =
      d.collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    val preds = Seq(
      col("k") === 17,
      col("k") === lit(17L),              // widened literal (int col vs long)
      lit(40) <= col("k"),                // mirrored side
      col("k").isin(3, 33, 999),
      col("name") === "n3",
      col("name").isNull,
      col("name").isNotNull && col("k") < 10,
      col("amt") > 50L,
      col("amt").isNull,
      coalesce(col("amt"), lit(0L)) > 55L, // unrecognized conjunct: no prune
      col("k") > 1000,                     // prunes EVERYTHING
      expr("k BETWEEN 20 AND 30"),
      expr("k NOT BETWEEN 20 AND 30")
    )
    preds.foreach { p =>
      val skip = rowsN(VersionedTable.readWhere(spark, root, p))
      val full = rowsN(VersionedTable.read(spark, root).filter(p))
      assert(skip == full, s"readWhere diverged for predicate $p")
    }
    // and the everything-pruned case really scanned nothing
    assert(VersionedTable.pruneProfile(spark, root, col("k") > 1000)._1 == 0)
    // BETWEEN prunes exactly like its >= AND <= form
    val between = VersionedTable.pruneProfile(spark, root,
      expr("k BETWEEN 20 AND 30"))
    assert(between == VersionedTable.pruneProfile(spark, root,
      expr("k >= 20 AND k <= 30")))
    assert(between._1 < between._2, s"BETWEEN must prune: $between")
  }

  test("a write whose first partition is empty records exact row counts") {
    // partition 0 holds no row (a partition-id filter stays above the
    // shuffle), and Spark still writes an empty part file for it
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 10000).map(i => (i, s"n$i", i.toLong)): _*)
        .repartition(2).filter(spark_partition_id() =!= 0))
    assert(VersionedTable.rowCount(spark, root) ==
      VersionedTable.read(spark, root).count())
    assert(VersionedTable.readManifest(spark, root, 1L).files
      .forall(e => e.rows > 0 && e.stats.nonEmpty))
    // an empty frame: no file is listed, the schema survives
    val empty = freshRoot()
    VersionedTable.create(spark, empty, dim().filter(lit(false)))
    val back = VersionedTable.read(spark, empty)
    assert(back.isEmpty && VersionedTable.rowCount(spark, empty) == 0L)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      dim().schema.map(f => f.name -> f.dataType))
  }

  test("fuzz: readWhere == full filter over random data and predicates") {
    val rnd = new scala.util.Random(1234)
    val root = freshRoot()
    val weird = Seq("", "~", "a\tb", "ünïcødé", "😀", "￿", "z,=%")
    val rows = (1 to 240).map { i =>
      (if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(200) - 100),
        if (rnd.nextInt(8) == 0) None
        else Some(weird(rnd.nextInt(weird.size)) + rnd.nextInt(5)),
        if (rnd.nextInt(6) == 0) None
        else Some(rnd.nextDouble() * 2000 - 1000))
    }
    VersionedTable.create(spark, root,
      rows.toDF("k", "name", "v").repartitionByRange(6, col("k")))
    def randPred(): org.apache.spark.sql.Column = {
      def leaf(): org.apache.spark.sql.Column = rnd.nextInt(8) match {
        case 0 => col("k") === (rnd.nextInt(200) - 100)
        case 1 => col("k") > (rnd.nextInt(200) - 100)
        case 2 => col("k") <= lit((rnd.nextInt(200) - 100).toLong)
        case 3 => col("name") === (weird(rnd.nextInt(weird.size)) +
          rnd.nextInt(5))
        case 4 => col("name").isNull
        case 5 => col("v") >= (rnd.nextDouble() * 2000 - 1000)
        case 6 => col("k").isin(
          Seq.fill(3)(rnd.nextInt(200) - 100).map(Integer.valueOf): _*)
        case 7 => col("v").isNotNull
      }
      (1 to 1 + rnd.nextInt(2)).map(_ => leaf()).reduce(_ && _)
    }
    (1 to 40).foreach { trial =>
      val p = randPred()
      val skip = VersionedTable.readWhere(spark, root, p)
        .collect().map(_.toString).sorted.toSeq
      val full = VersionedTable.read(spark, root).filter(p)
        .collect().map(_.toString).sorted.toSeq
      assert(skip == full, s"trial $trial diverged for predicate $p")
    }
  }

  test("deleteWhere and updateWhere rewrite only stats-overlapping files") {
    val root = freshRoot()
    bandedTable(root, bands = 4, perBand = 10) // 8 files
    def filesOf(df: DataFrame): Set[String] =
      df.select(input_file_name()).distinct()
        .collect().map(_.getString(0)).toSet
    val before = filesOf(VersionedTable.read(spark, root))
    assert(before.size == 8)
    // delete one band: its 2 files go, 6 carried byte-identical
    VersionedTable.deleteWhere(spark, root,
      col("k") >= 1000 && col("k") < 2000)
    val afterDel = filesOf(VersionedTable.read(spark, root))
    assert((before intersect afterDel).size == 6,
      "non-overlapping files must be carried, not rewritten")
    assert(VersionedTable.read(spark, root).count() == 30)
    assert(VersionedTable.read(spark, root)
      .filter(col("k") >= 1000 && col("k") < 2000).isEmpty)
    // update one band: only that band's files are replaced
    val v = VersionedTable.updateWhere(spark, root,
      col("k") >= 3000, Map("name" -> lit("touched")))
    val afterUpd = filesOf(VersionedTable.read(spark, root))
    assert((afterDel intersect afterUpd).size == afterDel.size - 2)
    assert(rowsOf(VersionedTable.read(spark, root)
      .filter(col("k") >= 3000)).forall(_._2 == "touched"))
    // rows outside the predicate kept their values
    assert(rowsOf(VersionedTable.read(spark, root)
      .filter(col("k") < 1000)).forall(_._2.startsWith("b0r")))
    // a provably-no-match mutation commits nothing
    assert(VersionedTable.deleteWhere(spark, root, col("k") > 50000) == v)
    // time travel still sees the pre-delete band (snapshot isolation)
    assert(VersionedTable.read(spark, root, Some(4L))
      .filter(col("k") >= 1000 && col("k") < 2000).count() == 10)
  }

  test("merge key-range pruning: candidates shrink to overlapping files") {
    val root = freshRoot()
    bandedTable(root, bands = 5, perBand = 10) // 10 files
    val m = VersionedTable.readManifest(spark, root, 5L)
    // source keys confined to band 2 → only band 2's files are candidates
    val src = dim((2003, "x", 1L), (2007, "y", 2L)).select(col("k"))
    val cand = VersionedTable.keyRangePrune(spark, m, src, Seq("k"))
    assert(cand.size == 2, s"expected 2 candidate files, got ${cand.size}")
    // an all-null key source matches nothing range-wise and the table
    // has no null keys → zero candidates
    val nullSrc = Seq(Tuple1(Option.empty[Int])).toDF("k")
    assert(VersionedTable.keyRangePrune(spark, m, nullSrc, Seq("k")).isEmpty)
    // an EMPTY source (sum(null-count) aggregates to NULL): zero
    // candidates, and the merge still commits — an empty streaming
    // batch must record its batch id without scanning anything
    assert(VersionedTable.keyRangePrune(spark, m,
      nullSrc.limit(0), Seq("k")).isEmpty)
    val preRows = rowsOf(VersionedTable.read(spark, root))
    val vEmpty = VersionedTable.merge(spark, root,
      dim().limit(0), Seq("k"))
    assert(vEmpty == 6L &&
      rowsOf(VersionedTable.read(spark, root)) == preRows)
    // and the merge result over the pruned path is still exact
    VersionedTable.merge(spark, root, dim((2003, "upd", 99L), (9999, "new", 1L)),
      Seq("k"))
    val got = rowsOf(VersionedTable.read(spark, root))
    assert(got.contains((2003, "upd", 99L)) && got.contains((9999, "new", 1L))
      && got.size == 51)
  }

  test("clusterBy makes skipping effective and preserves contents + history") {
    val root = freshRoot()
    // interleaved layout: every file spans the whole key range, so
    // stats can prune NOTHING
    val base = dim((1 to 80).map(i => (i, s"n$i", i.toLong)): _*)
      .repartition(4)
    VersionedTable.create(spark, root, base)
    val pred = col("k") >= 20 && col("k") < 30
    val (k0, t0) = VersionedTable.pruneProfile(spark, root, pred)
    assert(k0 == t0, "interleaved files must all stay candidates")
    val pre = rowsOf(VersionedTable.read(spark, root))
    val v = VersionedTable.clusterBy(spark, root, Seq("k"),
      targetPartitions = 4)
    assert(v == 2L)
    val (k1, t1) = VersionedTable.pruneProfile(spark, root, pred)
    assert(t1 == 4 && k1 <= 2, s"clustered prune got $k1/$t1")
    assert(rowsOf(VersionedTable.read(spark, root)) == pre)
    assert(rowsOf(VersionedTable.readWhere(spark, root, pred)) ==
      pre.filter(r => r._1 >= 20 && r._1 < 30))
    // the unclustered layout still time-travels
    assert(rowsOf(VersionedTable.read(spark, root, Some(1L))) == pre)
  }

  test("readChanges: applying the feed to the FROM snapshot reproduces TO") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
    // v2: cdf merge — updates k=2, inserts k=9
    VersionedTable.merge(spark, root, dim((2, "b2", 22L), (9, "i", 90L)),
      keys = Seq("k"), cdf = true)
    // v3: plain append (insert derivation, no change files)
    VersionedTable.append(spark, root, dim((4, "d", 40L)))
    // v4: cdf ranged delete
    VersionedTable.deleteWhere(spark, root, col("k") <= 2, cdf = true)
    // v5: layout-only compact must contribute nothing and not refuse
    VersionedTable.compact(spark, root, smallFileBytes = 1L << 20)
    val feed = VersionedTable.readChanges(spark, root, 1L)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
    // update = delete+insert pair at the same version
    assert(feed.count(t => t._1 == 2 && t._4 == "delete" && t._5 == 2L) == 1)
    assert(feed.contains((2, "b2", 22L, "insert", 2L)))
    assert(feed.contains((9, "i", 90L, "insert", 2L)))
    assert(feed.contains((4, "d", 40L, "insert", 3L)))
    assert(feed.count(_._5 == 4L) == 2 &&
      feed.filter(_._5 == 4L).forall(_._4 == "delete"))
    // multiset replay: v1 minus deletes plus inserts == v5
    val v1 = rowsOf(VersionedTable.read(spark, root, Some(1L)))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val applied = feed.foldLeft(v1) { case (acc, (k, n, a, t, _)) =>
      val row = (k, n, a)
      acc + (row -> (acc.getOrElse(row, 0) + (if (t == "insert") 1 else -1)))
    }.filter(_._2 > 0)
    val now = rowsOf(VersionedTable.read(spark, root))
      .toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(applied == now, s"feed replay diverged: $applied vs $now")
    // bounded range excludes later commits
    assert(VersionedTable.readChanges(spark, root, 1L, Some(2L))
      .count() == 3)
    // a no-op CDF upsert (identical rows) records zero changes
    val vNoop = VersionedTable.streamingUpsert(spark, root,
      dim((4, "d", 40L)), Seq("k"), "q", 0L, cdf = true)
    assert(VersionedTable.readChanges(spark, root, vNoop - 1).isEmpty)
  }

  test("model check: CDF replay reproduces the snapshot under random op sequences") {
    val rnd = new scala.util.Random(43)
    (1 to 3).foreach { trial =>
      val root = freshRoot()
      VersionedTable.create(spark, root,
        dim((1 to 5).map(i => (i, s"t${trial}i$i", i.toLong)): _*))
      var batchId = -1L
      (1 to 10).foreach { step =>
        def freshRows(n: Int): Seq[(Int, String, Long)] =
          (1 to n).map(_ => (rnd.nextInt(40),
            s"t${trial}s$step", rnd.nextInt(100).toLong))
            .groupBy(_._1).map(_._2.head).toSeq
        rnd.nextInt(6) match {
          case 0 => VersionedTable.append(spark, root,
            dim(freshRows(3).map { case (k, n, a) =>
              (k + 1000 * step, n, a) }: _*))
          case 1 => VersionedTable.merge(spark, root,
            dim(freshRows(4): _*), Seq("k"), cdf = true)
          case 2 =>
            batchId += 1
            VersionedTable.streamingUpsert(spark, root,
              dim(freshRows(3): _*), Seq("k"), "w", batchId, cdf = true)
          case 3 => VersionedTable.deleteWhere(spark, root,
            col("k") % 7 === rnd.nextInt(7), cdf = true)
          case 4 => VersionedTable.compact(spark, root,
            smallFileBytes = 1L << 20)
          case 5 => VersionedTable.updateWhere(spark, root,
            col("k") < rnd.nextInt(20),
            Map("amt" -> (col("amt") + 1L)), cdf = true)
        }
        // invariant after EVERY step: v1 + inserts - deletes == current
        val ch = VersionedTable.readChanges(spark, root, 1L)
        val ins = ch.filter(col("_change_type") === "insert")
          .select("k", "name", "amt")
        val del = ch.filter(col("_change_type") === "delete")
          .select("k", "name", "amt")
        val replayed = VersionedTable.read(spark, root, Some(1L))
          .unionByName(ins).exceptAll(del)
        val cur = VersionedTable.read(spark, root)
        assert(replayed.exceptAll(cur).isEmpty &&
          cur.exceptAll(replayed).isEmpty,
          s"trial $trial step $step: CDF replay diverged")
      }
    }
  }

  test("streamingApply is atomic and exactly-once for delete+upsert pairs") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
    val ins = dim((2, "b2", 22L), (9, "i", 90L))
    val delKeys = Seq(Tuple1(3)).toDF("k")
    val v = VersionedTable.streamingApply(spark, root, ins, delKeys,
      Seq("k"), "repl", batchId = 7L)
    val want = Set((1, "a", 10L), (2, "b2", 22L), (9, "i", 90L))
    assert(rowsOf(VersionedTable.read(spark, root)) == want)
    // full replay: NEITHER half re-applies (same version, same rows)
    assert(VersionedTable.streamingApply(spark, root, ins, delKeys,
      Seq("k"), "repl", batchId = 7L) == v)
    assert(rowsOf(VersionedTable.read(spark, root)) == want)
    // the hazard the atomic form closes: if key 3 were re-inserted by a
    // later batch, a replayed stale DELETE must not resurrect —
    // batch 8 re-inserts 3, then a replay of batch 7 arrives late
    VersionedTable.streamingApply(spark, root, dim((3, "c2", 33L)),
      delKeys.limit(0), Seq("k"), "repl", batchId = 8L)
    VersionedTable.streamingApply(spark, root, ins, delKeys,
      Seq("k"), "repl", batchId = 7L)
    assert(rowsOf(VersionedTable.read(spark, root))
      .contains((3, "c2", 33L)), "stale replayed delete must be a no-op")
    // delete+re-insert of the SAME key in ONE batch: sequential
    // semantics — the insert must land (review finding: an anti-join
    // against the pre-image snapshot silently dropped it)
    VersionedTable.streamingApply(spark, root, dim((2, "b3", 99L)),
      Seq(Tuple1(2)).toDF("k"), Seq("k"), "repl", batchId = 9L)
    assert(rowsOf(VersionedTable.read(spark, root))
      .contains((2, "b3", 99L)),
      "same-batch delete+insert must keep the insert")
  }

  test("string pruning compares in Spark's UTF-8 order, not UTF-16") {
    val root = freshRoot()
    // "￿" > "😀" in UTF-16 code units but < in UTF-8 bytes — the
    // order Spark computed the stats in; a UTF-16 comparator would
    // wrongly prune this file for the equality below
    VersionedTable.create(spark, root,
      Seq((1, "￿", 1L), (2, "😀", 2L))
        .toDF("k", "name", "amt").coalesce(1))
    assert(VersionedTable.readWhere(spark, root, col("name") === "￿")
      .count() == 1, "supplementary-plane max must not prune U+FFFF")
    assert(VersionedTable.pruneProfile(spark, root,
      col("name") === "￿")._1 == 1)
  }

  test("NULL business keys merge once: match updates, insert suppressed") {
    val root = freshRoot()
    val withNull = Seq((Option(1), "a", 10L), (Option.empty[Int], "n", 0L))
      .toDF("k", "name", "amt")
    VersionedTable.create(spark, root, withNull)
    VersionedTable.merge(spark, root,
      Seq((Option.empty[Int], "n2", 5L)).toDF("k", "name", "amt"),
      keys = Seq("k"))
    val got = VersionedTable.read(spark, root).collect()
      .map(r => (if (r.isNullAt(0)) -1 else r.getInt(0),
        r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1, "a", 10L), (-1, "n2", 5L)),
      s"NULL key must update in place, not duplicate: $got")
  }

  test("readChanges refuses a non-CDF rewrite; vacuum sweeps change files") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    VersionedTable.merge(spark, root, dim((1, "a2", 11L)), Seq("k"),
      cdf = true)
    VersionedTable.merge(spark, root, dim((2, "b2", 21L)), Seq("k")) // no cdf
    val err = intercept[IllegalStateException] {
      VersionedTable.readChanges(spark, root, 1L)
    }
    assert(err.getMessage.contains("without"), err.getMessage)
    // the CDF-covered prefix still reads
    assert(VersionedTable.readChanges(spark, root, 1L, Some(2L))
      .count() == 2)
    // vacuum below v3 drops v2's change files with it
    val changesDir = new java.io.File(s"$root/changes")
    assert(changesDir.listFiles().nonEmpty)
    VersionedTable.vacuum(spark, root, keepFrom = 3L, orphanGraceMs = -1000L)
    assert(!changesDir.exists() || changesDir.listFiles().isEmpty)
  }

  test("appendEvolve widens the schema; old files read NULL; history keeps shapes") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1, "a"), (2, "b")).toDF("k", "name"))
    // new column arrives; an existing column is absent from the feed
    val v2 = VersionedTable.appendEvolve(spark, root,
      Seq((3, 30L), (4, 40L)).toDF("k", "amt"))
    assert(v2 == 2L)
    val cur = VersionedTable.read(spark, root)
    assert(cur.columns.toSeq == Seq("k", "name", "amt"))
    val got = cur.collect().map(r => (r.getInt(0),
      if (r.isNullAt(1)) null else r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1, "a", -1L), (2, "b", -1L),
      (3, null, 30L), (4, null, 40L)))
    // pre-evolution version keeps its own (narrower) schema
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq ==
      Seq("k", "name"))
    // old files have no stats for the new column → never pruned on it,
    // and the filter still computes correctly over their NULLs
    assert(VersionedTable.readWhere(spark, root, col("amt") > 35L)
      .collect().map(_.getInt(0)).toSeq == Seq(4))
    // type mismatch on a shared column refuses loudly
    val err = intercept[IllegalArgumentException] {
      VersionedTable.appendEvolve(spark, root,
        Seq(("5", 50L)).toDF("k", "amt"))
    }
    assert(err.getMessage.contains("type"), err.getMessage)
    // merges keep working against the evolved schema
    VersionedTable.merge(spark, root,
      Seq((1, "a2", Some(11L)), (9, "i", None)).toDF("k", "name", "amt"),
      keys = Seq("k"))
    val after = VersionedTable.read(spark, root)
      .filter(col("k").isin(1, 9)).collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(after == Set((1, "a2", 11L), (9, "i", -1L)))
  }

  test("clusterByZorder makes BOTH dimensions prunable; 1-D sort does not") {
    val root = freshRoot()
    // two independent uniform dims over a 64x64 grid, interleaved files
    val rows = for (i <- 1 to 1024) yield
      (i * 37 % 4096, s"r$i", (i * 61 % 4096).toLong)
    VersionedTable.create(spark, root, dim(rows: _*).repartition(8))
    val predK = col("k") >= 1024 && col("k") < 2048   // 1/4 of k-space
    val predA = col("amt") >= 1024L && col("amt") < 2048L // 1/4 of amt
    // lexicographic clustering on k: k prunes, amt cannot
    VersionedTable.clusterBy(spark, root, Seq("k"), targetPartitions = 16)
    val (kLex, tLex) = VersionedTable.pruneProfile(spark, root, predK)
    val (aLex, _) = VersionedTable.pruneProfile(spark, root, predA)
    assert(tLex == 16 && kLex <= 5, s"k must prune under k-sort: $kLex/$tLex")
    assert(aLex == tLex, "amt spans every file under a k-only sort")
    // Z-order on (k, amt): BOTH prune
    VersionedTable.clusterByZorderN(spark, root, Seq("k", "amt"),
      targetPartitions = 16)
    val (kZ, tZ) = VersionedTable.pruneProfile(spark, root, predK)
    val (aZ, _) = VersionedTable.pruneProfile(spark, root, predA)
    // a quarter-band on either dim must clear a meaningful file
    // fraction (Morton boxes straddling the band bound the constant:
    // 9/16 and 8/16 observed on this 64-rows-per-file grid — the
    // qualitative contract is BOTH prune, vs amt's 16/16 under 1-D)
    assert(tZ == 16 && kZ <= tZ * 3 / 4 && aZ <= tZ * 3 / 4,
      s"both dims must prune under Z-order, got k=$kZ amt=$aZ of $tZ")
    // layout-only: contents identical, history intact
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      rowsOf(VersionedTable.read(spark, root, Some(1L))))
    // non-numeric column refuses
    val err = intercept[IllegalArgumentException] {
      VersionedTable.clusterByZorderN(spark, root, Seq("k", "name"), 4)
    }
    assert(err.getMessage.contains("numeric"), err.getMessage)
  }

  test("stats round-trip hostile values; legacy stats-less manifests still read") {
    val root = freshRoot()
    val rows = Seq(
      (1, "tab\there", 1L), (2, "comma,~tilde", 2L), (3, "=eq%enc\n?", 3L),
      (4, null, 4L), (5, "", 5L), (6, "ünïcødé", 6L))
    VersionedTable.create(spark, root,
      rows.toDF("k", "name", "amt").coalesce(1))
    val m = VersionedTable.readManifest(spark, root, 1L)
    assert(m.files.size == 1)
    val st = m.files.head.stats
    assert(st("name").min.contains("") && st("name").nulls == 1L)
    assert(st("k").min.contains("1") && st("k").max.contains("6"))
    // empty-string min must prune correctly and match the filter
    assert(rowsOf(VersionedTable.readWhere(spark, root, col("name") === "")) ==
      Set((5, "", 5L)))
    // strip the stats from the manifest on disk → legacy format: reads,
    // never prunes, still merges
    val mp = new java.io.File(s"$root/_manifests").listFiles()
      .filter(_.getName.endsWith(".manifest")).head.toPath
    val legacy = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .linesIterator.map(l =>
        if (l.startsWith("data/")) l.takeWhile(_ != '\t') else l)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(mp, legacy.getBytes("UTF-8"))
    // the raw rewrite bypassed Hadoop's LocalFS checksum shadow file
    new java.io.File(mp.getParent.toFile, "." + mp.getFileName + ".crc")
      .delete()
    assert(VersionedTable.readManifest(spark, root, 1L)
      .files.forall(e => e.rows == -1L && e.stats.isEmpty))
    val (kept, total) =
      VersionedTable.pruneProfile(spark, root, col("k") > 100)
    assert(kept == total, "legacy entries must never prune")
    VersionedTable.merge(spark, root, Seq((2, "upd", 22L)).toDF("k", "name", "amt"),
      Seq("k"))
    assert(rowsOf(VersionedTable.read(spark, root)).exists(
      t => t == ((2, "upd", 22L))))
  }

  test("checkpointed manifests: O(delta) commits, distributed prune, shared-cp vacuum") {
    val root = freshRoot()
    // 600 range-partitioned files crosses CpThreshold (512): the entry
    // list must move into a parquet checkpoint and the text manifest
    // must stay a handful of lines, not 600
    val base = spark.range(0, 6000).select(col("id").cast("int").as("k"),
      concat(lit("r"), col("id")).as("name"), col("id").as("amt"))
      .repartitionByRange(600, col("k"))
    VersionedTable.create(spark, root, base)
    def manifestLines(v: Long): Vector[String] = {
      val p = java.nio.file.Paths.get(root, "_manifests",
        f"v$v%020d.manifest")
      scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().toVector
    }
    val l1 = manifestLines(1)
    assert(l1.exists(_.startsWith("cp ")), "large table must checkpoint")
    assert(l1.size < 10,
      s"checkpointed manifest must be O(delta), got ${l1.size} lines")
    // distributed pruning over the checkpoint: one narrow band
    val pred = col("k") >= 1000 && col("k") < 1010
    val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
    assert(total >= 590 && kept <= 3,
      s"prune must keep ~1 of ~600 files, got $kept/$total")
    assert(VersionedTable.readWhere(spark, root, pred).count() == 10)
    // a 1-file append must REUSE the checkpoint: one add line
    VersionedTable.append(spark, root,
      Seq((90001, "app", 1L)).toDF("k", "name", "amt").repartition(1))
    val l2 = manifestLines(2)
    assert(l2.filter(_.startsWith("cp ")) == l1.filter(_.startsWith("cp ")),
      "append must reference the same checkpoint")
    assert(l2.count(_.startsWith("add ")) == 1 &&
      !l2.exists(_.startsWith("remove ")))
    // a banded delete rewrites ~1 file: few remove/add lines, same cp
    VersionedTable.deleteWhere(spark, root,
      col("k") >= 2000 && col("k") < 2010)
    val l3 = manifestLines(3)
    assert(l3.filter(_.startsWith("cp ")) == l1.filter(_.startsWith("cp ")))
    assert(l3.size < 40, s"delta commit must stay small, got ${l3.size}")
    assert(VersionedTable.read(spark, root).count() == 6000 + 1 - 10)
    // exactness across the cp path: filter == readWhere, time travel
    val scanned = VersionedTable.read(spark, root).filter(pred).count()
    assert(VersionedTable.readWhere(spark, root, pred).count() == scanned)
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 6000)
    // vacuum: dropped versions share the cp with the kept head — the
    // checkpoint must survive and the table must stay exact
    VersionedTable.vacuum(spark, root, keepFrom = 3L, orphanGraceMs = 0L)
    assert(VersionedTable.read(spark, root).count() == 5991)
    val (k2, t2) = VersionedTable.pruneProfile(spark, root, pred)
    assert(k2 == kept && t2 >= total - 5 && t2 <= total + 5,
      "pruning must survive vacuum on a shared checkpoint")
  }

  test("readAsOf resolves by commit stamp; restore moves history forward") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    val t1 = System.currentTimeMillis()
    Thread.sleep(15) // commit stamps are millis; separate the instants
    VersionedTable.append(spark, root, dim((2, "b", 20L)))
    val t2 = System.currentTimeMillis()
    Thread.sleep(15)
    VersionedTable.deleteWhere(spark, root, col("k") === 1)
    // timestamp time travel: each instant reads the snapshot then-current
    assert(rowsOf(VersionedTable.readAsOf(spark, root, t1)) ==
      Set((1, "a", 10L)))
    assert(rowsOf(VersionedTable.readAsOf(spark, root, t2)) ==
      Set((1, "a", 10L), (2, "b", 20L)))
    assert(rowsOf(VersionedTable.readAsOf(spark, root,
      System.currentTimeMillis())) == Set((2, "b", 20L)))
    intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, root, t1 - 3600_000L)
    }
    // restore: v4 = v1's content, zero data movement, history intact
    val v4 = VersionedTable.restore(spark, root, 1L)
    assert(v4 == 4L)
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "a", 10L)))
    assert(rowsOf(VersionedTable.read(spark, root, Some(3L))) ==
      Set((2, "b", 20L)), "restore must not erase intermediate history")
    // restore of a vacuumed version refuses loudly
    VersionedTable.vacuum(spark, root, keepFrom = 4L, orphanGraceMs = 0L)
    intercept[Exception] { VersionedTable.restore(spark, root, 2L) }
  }

  test("an IN list with a time-varying member never prunes") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1, java.sql.Date.valueOf("2000-01-01"))).toDF("k", "d"))
    VersionedTable.append(spark, root,
      Seq((2, java.sql.Date.valueOf(java.time.LocalDate.now())))
        .toDF("k", "d"))
    // the constant member matches NEITHER file; current_date() matches
    // file 2 only at execution time. Dropping the time-varying member
    // (the pre-fix flatMap) pruned BOTH files and lost row 2.
    val pred = col("d").isin(
      lit(java.sql.Date.valueOf("1990-01-01")), current_date())
    val (kept, total) = VersionedTable.pruneProfile(spark, root, pred)
    assert(total == 2 && kept == 2,
      s"time-varying IN member must keep every file, got $kept/$total")
    val viaSkip = VersionedTable.readWhere(spark, root, pred)
      .select("k").collect().map(_.getInt(0)).toSet
    val viaScan = VersionedTable.read(spark, root).filter(pred)
      .select("k").collect().map(_.getInt(0)).toSet
    assert(viaSkip == viaScan)
  }

  test("updateWhere refuses a non-value-preserving SET type") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, col("k") === 1,
        Map("amt" -> lit("not-a-number")))
    }
    assert(e.getMessage.contains("cast explicitly"))
    // an exact widening (int literal into the bigint column) still lands
    VersionedTable.updateWhere(spark, root, col("k") === 1,
      Map("amt" -> lit(5)))
    assert(rowsOf(VersionedTable.read(spark, root)) == Set((1, "a", 5L)))
  }

  // ---- deletion vectors (merge-on-read deletes) -------------------------

  private def manifestRels(root: String, v: Long): Set[String] =
    VersionedTable.readManifest(spark, root, v).files.map(_.rel).toSet

  test("deleteWhereMor removes rows without rewriting any data file") {
    val root = freshRoot()
    val base = dim((1 to 40).map(i => (i, s"n$i", i.toLong)): _*)
      .repartitionByRange(2, col("k"))
    VersionedTable.create(spark, root, base)
    val v = VersionedTable.deleteWhereMor(spark, root,
      col("k") % 10 === 3) // 4 rows, both files
    assert(v == 2L)
    // merge-on-read: the file LIST is unchanged — no rewrite happened
    assert(manifestRels(root, 2L) == manifestRels(root, 1L))
    val m = VersionedTable.readManifest(spark, root, 2L)
    assert(m.dvs.size == 2 && m.dvs.values.map(_._2).sum == 4L)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      (1 to 40).filterNot(_ % 10 == 3)
        .map(i => (i, s"n$i", i.toLong)).toSet)
    // time travel to the pre-delete version reads every row
    assert(VersionedTable.read(spark, root, Some(1L)).count() == 40)
    // readWhere composes skipping with the DV anti-join
    assert(rowsOf(VersionedTable.readWhere(spark, root,
      col("k") <= 5)) == Set(1, 2, 4, 5).map(i => (i, s"n$i", i.toLong)))
  }

  test("repeated MOR deletes accumulate positions; live rows only") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 10).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    VersionedTable.deleteWhereMor(spark, root, col("k") <= 3)
    // overlapping predicate: k<=5 re-matches already-dead rows 1..3 —
    // only the LIVE hits (4, 5) may count
    VersionedTable.deleteWhereMor(spark, root, col("k") <= 5)
    val m = VersionedTable.readManifest(spark, root, 3L)
    assert(m.dvs.values.map(_._2).sum == 5L, m.dvs)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      (6 to 10).map(i => (i, s"n$i", i.toLong)).toSet)
    // a fully-covered MOR delete then drops the file outright
    VersionedTable.deleteWhereMor(spark, root, lit(true))
    assert(manifestRels(root, 4L).isEmpty)
    assert(VersionedTable.readManifest(spark, root, 4L).dvs.isEmpty)
    assert(VersionedTable.read(spark, root).count() == 0)
  }

  test("a COW rewrite of a DV'd file materializes and retires its vector") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 10).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    VersionedTable.deleteWhereMor(spark, root, col("k") === 1)
    // merge touches the (single) DV'd file: the rewrite must apply the
    // vector (k=1 stays dead) and the new file carries no DV
    VersionedTable.merge(spark, root, dim((5, "m5", 55L)), Seq("k"))
    val m = VersionedTable.readManifest(spark, root, 3L)
    assert(m.dvs.isEmpty)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      ((2 to 10).toSet - 5).map(i => (i, s"n$i", i.toLong)) + ((5, "m5", 55L)))
  }

  test("materializeDeletes folds DVs into clean files; live rows unchanged") {
    val root = freshRoot()
    val base = dim((1 to 40).map(i => (i, s"n$i", i.toLong)): _*)
      .repartitionByRange(4, col("k"))
    VersionedTable.create(spark, root, base)
    VersionedTable.deleteWhereMor(spark, root, col("k") % 7 === 0)
    val live = rowsOf(VersionedTable.read(spark, root))
    val v = VersionedTable.materializeDeletes(spark, root,
      targetPartitions = 2, sortCols = Seq("k"))
    assert(v == 3L)
    assert(VersionedTable.readManifest(spark, root, 3L).dvs.isEmpty)
    assert(rowsOf(VersionedTable.read(spark, root)) == live)
    // layout-only: the change feed reads straight through it
    assert(VersionedTable.readChanges(spark, root, 2L).count() == 0)
    // idempotent on a DV-free table
    assert(VersionedTable.materializeDeletes(spark, root) == 3L)
  }

  test("MOR delete with cdf feeds readChanges; without it the feeds refuse") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 8).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    VersionedTable.deleteWhereMor(spark, root, col("k") <= 2, cdf = true)
    val ch = VersionedTable.readChanges(spark, root, 1L)
    assert(ch.filter(col("_change_type") === "delete").count() == 2)
    assert(ch.count() == 2)
    // CDF replay invariant: v1 minus deletes = current snapshot
    val v1 = rowsOf(VersionedTable.read(spark, root, Some(1L)))
    val dels = rowsOf(VersionedTable.readChanges(spark, root, 1L)
      .filter(col("_change_type") === "delete").drop("_change_type",
        "_commit_version"))
    assert(v1 -- dels == rowsOf(VersionedTable.read(spark, root)))
    // a non-CDF MOR delete is a rewrite the feeds cannot reconstruct
    VersionedTable.deleteWhereMor(spark, root, col("k") === 5)
    val e1 = intercept[IllegalStateException] {
      VersionedTable.readChanges(spark, root, 2L)
    }
    assert(e1.getMessage.contains("deletion vectors"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      VersionedTable.readAppendsSince(spark, root, 2L)
    }
    assert(e2.getMessage.contains("deletion vectors"), e2.getMessage)
  }

  test("vacuum keeps referenced DV dirs and sweeps retired ones") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 8).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    VersionedTable.deleteWhereMor(spark, root, col("k") === 1)
    val deletesDir = new java.io.File(s"$root/deletes")
    assert(deletesDir.listFiles().length == 1)
    // v2's dv is CURRENT — vacuuming v1 must not touch it
    VersionedTable.vacuum(spark, root, keepFrom = 2L, orphanGraceMs = -1000L)
    assert(deletesDir.listFiles().length == 1)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      (2 to 8).map(i => (i, s"n$i", i.toLong)).toSet)
    // materialize retires the dv; vacuuming below the new version
    // sweeps the now-unreferenced dir
    VersionedTable.materializeDeletes(spark, root)
    VersionedTable.vacuum(spark, root, keepFrom = 3L, orphanGraceMs = -1000L)
    assert(!deletesDir.exists() || deletesDir.listFiles().isEmpty)
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      (2 to 8).map(i => (i, s"n$i", i.toLong)).toSet)
  }

  test("vacuum survives a checkpoint shared by multiple dropped versions") {
    val root = freshRoot()
    // v1: 600 files -> checkpointed layout (cp-A)
    VersionedTable.create(spark, root,
      dim((1 to 1200).map(i => (i, s"n$i", i.toLong)): _*)
        .repartitionByRange(600, col("k")))
    // v2: delta commit AGAINST cp-A (same checkpoint, one add line)
    VersionedTable.append(spark, root, dim((1201, "x", 1L)))
    // v3: compaction shrinks below the threshold -> plain manifest,
    // cp-A now referenced ONLY by the to-be-dropped v1 and v2
    VersionedTable.compact(spark, root,
      smallFileBytes = 64L * 1024 * 1024, targetPartitions = 2)
    // dropping v1 must not delete cp-A before v2's lazy file list is
    // materialized — pre-fix this crashed mid-sweep and left the
    // table un-vacuumable
    VersionedTable.vacuum(spark, root, keepFrom = 3L,
      orphanGraceMs = -1000L)
    assert(VersionedTable.read(spark, root).count() == 1201)
    // both old manifests and the shared checkpoint are gone
    val mdir = new java.io.File(s"$root/_manifests")
    assert(!mdir.listFiles().exists(_.getName.startsWith("cp-")))
    assert(mdir.listFiles().count(_.getName.endsWith(".manifest")) == 1)
    // and vacuum stays runnable (the wedge is what the bug caused)
    VersionedTable.vacuum(spark, root, keepFrom = 3L,
      orphanGraceMs = -1000L)
    assert(VersionedTable.read(spark, root).count() == 1201)
  }

  test("shallow clone: zero-copy fork, divergent writes, vacuum never eats borrowed files") {
    val work = java.nio.file.Files.createTempDirectory("graft_clone").toString
    val (src, dst) = (s"$work/src", s"$work/dst")
    VersionedTable.create(spark, src,
      dim((1 to 20).map(i => (i, s"n$i", i.toLong)): _*)
        .repartitionByRange(2, col("k")))
    // a source-side DV must fork logically (live rows only)
    VersionedTable.deleteWhereMor(spark, src, col("k") === 20)
    VersionedTable.cloneTable(spark, src, dst)
    // ZERO copy: the clone owns no data yet
    val dstData = new java.io.File(s"$dst/data")
    assert(!dstData.exists() || dstData.listFiles().isEmpty)
    assert(rowsOf(VersionedTable.read(spark, dst)) ==
      rowsOf(VersionedTable.read(spark, src)))
    // divergent writes: clone mutates, source does not move
    VersionedTable.merge(spark, dst, dim((1, "clone", 111L)), Seq("k"))
    VersionedTable.deleteWhereMor(spark, dst, col("k") === 5)
    assert(rowsOf(VersionedTable.read(spark, src)) ==
      (1 to 19).map(i => (i, s"n$i", i.toLong)).toSet)
    assert(rowsOf(VersionedTable.read(spark, dst)) ==
      ((2 to 19).toSet - 5).map(i => (i, s"n$i", i.toLong)) +
        ((1, "clone", 111L)))
    // the merge rewrite landed as clone-OWNED data
    assert(dstData.listFiles().nonEmpty)
    // clone vacuum must never delete borrowed (absolute) refs
    VersionedTable.vacuum(spark, dst,
      keepFrom = VersionedTable.currentVersion(spark, dst).get,
      orphanGraceMs = -1000L)
    assert(rowsOf(VersionedTable.read(spark, src)) ==
      (1 to 19).map(i => (i, s"n$i", i.toLong)).toSet,
      "source must survive the clone's vacuum")
    // materialize via compact: every ref becomes clone-owned
    VersionedTable.compact(spark, dst, smallFileBytes = 64L * 1024 * 1024,
      targetPartitions = 1, sortCols = Seq("k"))
    val rels = VersionedTable.fileList(spark, dst,
      VersionedTable.currentVersion(spark, dst).get)
    assert(rels.forall(r => !new org.apache.hadoop.fs.Path(r).isAbsolute),
      s"compact must cut the borrow dependency: $rels")
    assert(rowsOf(VersionedTable.read(spark, dst)) ==
      ((2 to 19).toSet - 5).map(i => (i, s"n$i", i.toLong)) +
        ((1, "clone", 111L)))
  }

  test("feature composition: checkpointed manifest x rename x DV x constraint x maintain") {
    val root = freshRoot()
    // 600 files: crosses the checkpoint threshold
    val base = dim((1 to 3000).map(i => (i, s"n$i", i.toLong)): _*)
      .repartitionByRange(600, col("k"))
    VersionedTable.create(spark, root, base)
    VersionedTable.renameColumn(spark, root, "amt", "amount")   // v2
    VersionedTable.addConstraint(spark, root, "amount_pos",
      "amount > 0")                                             // v3
    // MOR delete through the checkpointed prune + renamed stats
    VersionedTable.deleteWhereMor(spark, root,
      col("amount") % 500 === 0)                                // v4
    assert(VersionedTable.read(spark, root).count() == 2994)
    // skipping: distributed checkpoint prune, logical name, DV applied
    val got = VersionedTable.readWhere(spark, root,
        col("amount") >= 495 && col("amount") <= 505)
      .select("k").as[Int].collect().toSet
    assert(got == ((495 to 505).toSet - 500), got)
    val (kept, total) = VersionedTable.pruneProfile(spark, root,
      col("amount") >= 495 && col("amount") <= 505)
    assert(total == 600 && kept <= 6, s"kept $kept/$total")
    // constraint still enforced under the new name + checkpointed base
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root,
        Seq((9999, "bad", -1L)).toDF("k", "name", "amount"))
    }
    // maintain: materialize DVs + compact the 600 small files
    VersionedTable.maintain(spark, root,
      smallFileBytes = 64L * 1024 * 1024, targetPartitions = 4,
      sortCols = Seq("k"), keepVersions = 2, orphanGraceMs = -1000L)
    assert(VersionedTable.read(spark, root).count() == 2994)
    assert(VersionedTable.deleteVectorProfile(spark,
      root, VersionedTable.currentVersion(spark, root).get).isEmpty)
    assert(VersionedTable.fileList(spark, root,
      VersionedTable.currentVersion(spark, root).get).size == 4)
    // constraints and the mapping survived the rewrites
    assert(VersionedTable.constraints(spark, root).keySet ==
      Set("amount_pos"))
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "name", "amount"))
  }

  test("maintain() folds DVs, compacts small files, and prunes history in one call") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 30).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    (31 to 35).foreach(i =>
      VersionedTable.append(spark, root, dim((i, s"n$i", i.toLong))))
    VersionedTable.deleteWhereMor(spark, root, col("k") % 7 === 0) // v7
    val live = rowsOf(VersionedTable.read(spark, root))
    val v = VersionedTable.maintain(spark, root,
      smallFileBytes = 64L * 1024 * 1024, targetPartitions = 1,
      sortCols = Seq("k"), keepVersions = 1, orphanGraceMs = -1000L)
    assert(VersionedTable.deleteVectorProfile(spark, root, v).isEmpty)
    assert(VersionedTable.fileList(spark, root, v).size == 1,
      "compaction must leave one right-sized file")
    assert(rowsOf(VersionedTable.read(spark, root)) == live)
    // history below current-1 vacuumed: v1 is gone, current still reads
    intercept[Exception] { VersionedTable.read(spark, root, Some(1L)) }
    assert(new java.io.File(s"$root/deletes").listFiles() == null ||
      new java.io.File(s"$root/deletes").listFiles().isEmpty)
  }

  test("two racing MOR deletes: one wins the CAS, the retry re-reads and accounts exactly") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 20).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    // writer B reserves v2 out from under writer A mid-flight
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      s"$root/_manifests/v${"%020d".format(2)}.lock"))
    intercept[VersionedTable.CommitConflict] {
      VersionedTable.deleteWhereMor(spark, root, col("k") <= 3)
    }
    // the loser changed NOTHING: no dv entry, no rows gone — only an
    // orphan deletes/ dir a vacuum sweep will take
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    assert(VersionedTable.read(spark, root).count() == 20)
    VersionedTable.recover(spark, root)
    // the retry (against the re-read snapshot) accounts exactly once
    VersionedTable.deleteWhereMor(spark, root, col("k") <= 3)
    assert(VersionedTable.deleteVectorProfile(spark, root, 2L)
      .values.sum == 3L)
    assert(VersionedTable.read(spark, root).count() == 17)
    // and the loser's orphan dv dir is vacuumable
    VersionedTable.vacuum(spark, root, keepFrom = 2L, orphanGraceMs = -1000L)
    assert(VersionedTable.read(spark, root).count() == 17)
    val dvDirs = new java.io.File(s"$root/deletes").listFiles()
    assert(dvDirs.length == 1, s"orphan dv dir must be swept: ${dvDirs.toSeq}")
  }

  test("clusterByZorderN makes all three dimensions prunable") {
    val root = freshRoot()
    // three independent dimensions over 4096 rows (seeded Random —
    // an LCG's low bits would be a linear lattice, not independent)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 4096).map(i =>
      (i, rnd.nextInt(4096), rnd.nextInt(4096)))
    VersionedTable.create(spark, root,
      rows.toDF("a", "b", "c").repartition(64))
    // interleaved layout: a narrow band on any dim keeps every file
    def keptFor(col0: String): Int =
      VersionedTable.pruneProfile(spark, root,
        col(col0) >= 100 && col(col0) < 356)._1
    // (>= 56: a 64-row random file can miss the narrow band by luck)
    assert(Seq("a", "b", "c").forall(keptFor(_) >= 56))
    VersionedTable.clusterByZorderN(spark, root, Seq("a", "b", "c"), 64)
    // after the 3-D Morton sort every dimension prunes: 64 files give
    // ~2 bits of resolution per dim (64^(1/3) = 4 ranges), degraded on
    // the fastest-interleaved bits when the sampled range boundaries
    // straddle cells — so every dim must at least halve (its top bit
    // always resolves) and the slowest-varying dims reach quarter
    // resolution
    val kept = Seq("a", "b", "c").map(c => c -> keptFor(c))
    kept.foreach { case (c, k) =>
      assert(k <= 36, s"dim $c kept $k/64")
    }
    assert(kept.map(_._2).min <= 24,
      s"the slow-bit dims must reach quarter resolution: $kept")
    // content unchanged
    assert(VersionedTable.read(spark, root).count() == 4096)
    assert(VersionedTable.read(spark, root)
      .agg(sum(col("a") + col("b") + col("c"))).head.getLong(0) ==
      rows.map(r => r._1.toLong + r._2 + r._3).sum)
    intercept[IllegalArgumentException] {
      VersionedTable.clusterByZorderN(spark, root, Seq("a"), 4)
    }
  }

  test("renameColumn is metadata-only; skipping, merge, and DVs follow") {
    val root = freshRoot()
    val base = dim((1 to 40).map(i => (i, s"n$i", i.toLong)): _*)
      .repartitionByRange(4, col("k"))
    VersionedTable.create(spark, root, base)
    VersionedTable.renameColumn(spark, root, "amt", "amount") // v2
    // metadata-only: not a single data file moved
    assert(VersionedTable.fileList(spark, root, 2L).toSet ==
      VersionedTable.fileList(spark, root, 1L).toSet)
    val r = VersionedTable.read(spark, root)
    assert(r.columns.toSeq == Seq("k", "name", "amount"))
    assert(r.select("k", "name", "amount").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2))).toSet ==
      (1 to 40).map(i => (i, s"n$i", i.toLong)).toSet)
    // time travel reads the OLD shape
    assert(VersionedTable.read(spark, root, Some(1L)).columns.toSeq ==
      Seq("k", "name", "amt"))
    // stats (keyed by the frozen physical name) still prune through
    // the logical rename — on k AND on the renamed column itself
    val (kept, total) = VersionedTable.pruneProfile(spark, root,
      col("amount") <= 10)
    assert(total == 4 && kept < 4, s"prune $kept/$total")
    assert(rowsOf(VersionedTable.readWhere(spark, root, col("k") <= 5)
      .withColumnRenamed("amount", "amt")) ==
      (1 to 5).map(i => (i, s"n$i", i.toLong)).toSet)
    // merge keyed on the renamed table writes + reads correctly
    VersionedTable.merge(spark, root,
      Seq((3, "m3", 33L)).toDF("k", "name", "amount"), Seq("k"))
    assert(VersionedTable.read(spark, root)
      .filter(col("k") === 3).select("amount").as[Long].head() == 33L)
    // MOR delete on the renamed column
    VersionedTable.deleteWhereMor(spark, root, col("amount") === 40L)
    assert(VersionedTable.read(spark, root).count() == 39)
  }

  test("dropColumn retires the physical name; re-add reads NULL, not old bytes") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1, "a", 10L), (2, "b", 20L)).coalesce(1))
    VersionedTable.dropColumn(spark, root, "amt") // v2
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("k", "name"))
    // re-adding a column NAMED amt must not resurrect the old values
    VersionedTable.appendEvolve(spark, root,
      Seq((3, "c", 99L)).toDF("k", "name", "amt")) // v3
    val rows = VersionedTable.read(spark, root)
      .select("k", "amt").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(rows == Map(1 -> None, 2 -> None, 3 -> Some(99L)), rows)
    // time travel still reads the original column
    assert(VersionedTable.read(spark, root, Some(1L))
      .select("amt").as[Long].collect().toSet == Set(10L, 20L))
    // a constraint pins its column against rename/drop
    VersionedTable.addConstraint(spark, root, "k_nn", "k IS NOT NULL")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, root, "k", "id")
    }
    assert(e.getMessage.contains("k_nn"), e.getMessage)
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumn(spark, root, "k")
    }
  }

  test("CDF matches columns by physical identity across a rename") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L)))
    VersionedTable.merge(spark, root, dim((2, "b", 20L)), Seq("k"),
      cdf = true) // v2: insert captured under old names
    VersionedTable.renameColumn(spark, root, "amt", "amount") // v3
    VersionedTable.merge(spark, root,
      Seq((3, "c", 30L)).toDF("k", "name", "amount"), Seq("k"),
      cdf = true) // v4
    val ch = VersionedTable.readChanges(spark, root, 1L)
    assert(ch.columns.toSeq ==
      Seq("k", "name", "amount", "_change_type", "_commit_version"))
    // v2's change rows (captured as "amt") surface under "amount"
    val v2ins = ch.filter(col("_commit_version") === 2 &&
      col("_change_type") === "insert")
      .select("k", "amount").as[(Int, Long)].collect().toSet
    assert(v2ins == Set((2, 20L)), v2ins)
  }

  test("CHECK constraints: validated on add, enforced on every write path") {
    val root = freshRoot()
    VersionedTable.create(spark, root, dim((1, "a", 10L), (2, "b", 20L)))
    // adding a constraint the existing data violates refuses, commits
    // nothing
    val e0 = intercept[IllegalArgumentException] {
      VersionedTable.addConstraint(spark, root, "amt_big", "amt > 15")
    }
    assert(e0.getMessage.contains("amt_big"), e0.getMessage)
    assert(VersionedTable.currentVersion(spark, root).contains(1L))
    // unknown column refuses at add time, not at first write
    intercept[Exception] {
      VersionedTable.addConstraint(spark, root, "bad", "no_such_col > 0")
    }
    VersionedTable.addConstraint(spark, root, "amt_pos", "amt >= 0") // v2
    VersionedTable.addConstraint(spark, root, "name_nn",
      "name IS NOT NULL") // v3
    assert(VersionedTable.constraints(spark, root) ==
      Map("amt_pos" -> "amt >= 0", "name_nn" -> "name IS NOT NULL"))
    // append: valid passes, violating refuses atomically
    VersionedTable.append(spark, root, dim((3, "c", 30L))) // v4
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root, dim((4, "d", -5L)))
    }
    assert(e1.getMessage.contains("amt_pos"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root,
        Seq((5, null.asInstanceOf[String], 1L)).toDF("k", "name", "amt"))
    }
    assert(e2.getMessage.contains("name_nn"), e2.getMessage)
    // merge and updateWhere rewrites are validated too
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, dim((1, "a2", -1L)), Seq("k"))
    }
    assert(e3.getMessage.contains("amt_pos"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, root, col("k") === 2,
        Map("amt" -> lit(-7L)))
    }
    assert(e4.getMessage.contains("amt_pos"), e4.getMessage)
    assert(VersionedTable.currentVersion(spark, root).contains(4L))
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      Set((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)))
    // NULL passes ANSI CHECK (amt_pos over a NULL amt is not FALSE)
    VersionedTable.append(spark, root,
      Seq((6, "f", null.asInstanceOf[java.lang.Long]))
        .toDF("k", "name", "amt")) // v5
    // drop: the formerly-violating write now lands
    VersionedTable.dropConstraint(spark, root, "amt_pos") // v6
    VersionedTable.append(spark, root, dim((4, "d", -5L))) // v7
    assert(VersionedTable.constraints(spark, root).keySet == Set("name_nn"))
    // time travel sees the constraints of the pinned snapshot
    assert(VersionedTable.constraints(spark, root, Some(5L)).keySet ==
      Set("amt_pos", "name_nn"))
  }

  test("restore carries deletion vectors; append preserves them") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      dim((1 to 6).map(i => (i, s"n$i", i.toLong)): _*).coalesce(1))
    VersionedTable.deleteWhereMor(spark, root, col("k") === 2) // v2
    VersionedTable.append(spark, root, dim((7, "n7", 7L)))     // v3
    // append carried the DV forward
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      ((1 to 7).toSet - 2).map(i => (i, s"n$i", i.toLong)))
    VersionedTable.materializeDeletes(spark, root)             // v4
    VersionedTable.restore(spark, root, 2L)                    // v5 ≡ v2
    assert(rowsOf(VersionedTable.read(spark, root)) ==
      ((1 to 6).toSet - 2).map(i => (i, s"n$i", i.toLong)))
    assert(VersionedTable.readManifest(spark, root, 5L).dvs.nonEmpty)
  }

  test("driver file-list bound: a 50k-entry manifest plans in O(files)") {
    // The one deliberate driver-held structure in the format is the
    // snapshot's file-entry list (same stance as Delta's commit
    // planning). This pins its SIZE and shows planning primitives
    // stay file-count-bounded at 50k files — a ~50 TB table at 1 GB
    // files — without writing 50k real files: the manifest machinery
    // never opens data files, so synthetic entries exercise exactly
    // the planning path (checkpoint write/read, stats pruning).
    val root = freshRoot()
    VersionedTable.create(spark, root, Seq((0L, 0L)).toDF("k", "v"))
    val m1 = VersionedTable.readManifest(spark, root, 1L)
    val n = 50000
    // k-clustered: file i covers k ∈ [i·1000, i·1000+999]
    val entries = (0 until n).map { i =>
      VersionedTable.FileEntry(f"part-synth-$i%05d-c000.snappy.parquet",
        1000L, Map(
          "k" -> VersionedTable.ColStats(Some((i * 1000L).toString),
            Some((i * 1000L + 999L).toString), 0L),
          "v" -> VersionedTable.ColStats(Some("0"), Some("999999"), 0L)))
    }
    VersionedTable.commit(spark, root, Some(m1), m1.schema, entries,
      meta = m1.meta, op = "SYNTH")
    val m = VersionedTable.readManifest(spark, root, 2L)
    assert(m.fileCount == n.toLong)
    // the full list materializes on the driver (readCheckpoint's
    // collect — THE bounded spot); measure both forms of its cost
    val files = m.files
    assert(files.size == n)
    val heapBytes = org.apache.spark.util.SizeEstimator.estimate(files)
    val cpDir = new java.io.File(root,
      m.cp.getOrElse(fail("50k entries must land in a parquet checkpoint")))
    val diskBytes = cpDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    info(f"file-entry list: heap ${heapBytes / n}%d B/entry " +
      f"(${heapBytes / 1024 / 1024}%d MiB total), checkpoint " +
      f"${diskBytes.toDouble / n}%.1f B/entry on disk")
    // generous ceilings: a 1M-file table stays under ~1 GiB of driver
    // heap at this rate — the documented budget in SCALING.md
    assert(heapBytes / n < 1024, s"heap per entry grew: ${heapBytes / n} B")
    assert(diskBytes / n < 256, s"disk per entry grew: ${diskBytes / n} B")
    // planning over the synthetic snapshot: a 1000-key range prunes
    // 50k entries to ~1 file via manifest stats alone — no data file
    // is opened (none exists), proving the planner reads only entries
    val t0 = System.nanoTime()
    val (kept, total) = VersionedTable.pruneProfile(spark, root,
      col("k") >= 1234000L && col("k") <= 1234999L, Some(2L))
    val ms = (System.nanoTime() - t0) / 1e6
    info(f"stats prune over 50k entries: kept $kept/$total in $ms%.0f ms")
    assert(total == n && kept == 1)
    // and the commit path itself carries 50k entries: append one real
    // file on top of the synthetic snapshot (appends never open base
    // files), then confirm the next manifest still holds them all
    VersionedTable.append(spark, root, Seq((999L, 1L)).toDF("k", "v"))
    assert(VersionedTable.readManifest(spark, root, 3L).fileCount ==
      n.toLong + 1L)
  }
}
