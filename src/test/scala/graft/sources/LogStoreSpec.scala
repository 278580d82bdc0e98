package graft.sources

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.TestSpark
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The object-store portability proof for VersionedTable's commit
  * protocol (r13 verdict item 1): on a store with NO atomic rename
  * and NO create-exclusive — only a conditional put — the protocol
  * must still yield exactly one winner per version and never a torn
  * manifest. The spec first demonstrates the two failures the naive
  * client translations produce on such a store (lost update via the
  * exists-then-put TOCTOU; a reader-visible tear via blind-put
  * publish), then proves the conditional-put client immune to both,
  * and finally drives full VersionedTable commit cycles — including
  * racing writers — through the shim. */
class LogStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_ls").toString

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def dim(rows: (Int, String, Long)*): DataFrame =
    rows.toSeq.toDF("k", "name", "amt")

  // ---- the failures the shim exists to prevent --------------------------

  test("naive exists-then-put reservation admits two winners (lost update)") {
    val dir = freshDir()
    val fs = fsOf(dir)
    val naive = new NaiveObjectStoreLogStore()
    val lock = new Path(dir, "v1.lock")
    // deterministic TOCTOU: both threads pass the exists() check
    // before either writes — the interleave hook parks the first
    // thread inside the window until the second arrives
    val inWindow = new CountDownLatch(2)
    naive.interleaveHook = () => {
      inWindow.countDown()
      inWindow.await(5, TimeUnit.SECONDS)
      ()
    }
    try {
      val pool = Executors.newFixedThreadPool(2)
      val wins =
        try {
          val fa = pool.submit(() => naive.createExclusive(fs, lock))
          val fb = pool.submit(() => naive.createExclusive(fs, lock))
          Seq(fa.get(10, TimeUnit.SECONDS), fb.get(10, TimeUnit.SECONDS))
        } finally pool.shutdown()
      assert(wins == Seq(true, true),
        "both committers believe they reserved the slot — the lost " +
          "update a real object store produces without conditional puts")
    } finally naive.interleaveHook = () => ()
  }

  test("naive blind-put publish leaves a reader-visible torn manifest") {
    val dir = freshDir()
    val fs = fsOf(dir)
    val bytes = ("graft-versioned-table v1\n" + "x" * 4096).getBytes("UTF-8")
    val naive = new NaiveObjectStoreLogStore(tearPublishAfter = 10)
    val dst = new Path(dir, "v1.manifest")
    intercept[java.io.IOException] { naive.publish(fs, dst, bytes) }
    // the crash left a PARTIAL object that readers now see as the
    // manifest — exactly what atomic publish must make impossible
    assert(fs.exists(dst) && fs.getFileStatus(dst).getLen == 10)
  }

  // ---- the conditional-put client is immune to both ----------------------

  test("conditional put: N racing creators of one path see exactly one winner") {
    val dir = freshDir()
    val fs = fsOf(dir)
    val shim = new ConditionalPutLogStore(new SimulatedObjectStore)
    val path = new Path(dir, "v7.lock")
    val n = 16
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val futures = (1 to n).map { _ =>
      pool.submit(() => { start.await(); shim.createExclusive(fs, path) })
    }
    start.countDown()
    val wins = futures.map(_.get(30, TimeUnit.SECONDS))
    pool.shutdown()
    assert(wins.count(identity) == 1, s"winners: ${wins.count(identity)}")
  }

  test("conditional-put publish never overwrites and is complete-or-absent") {
    val dir = freshDir()
    val fs = fsOf(dir)
    val shim = new ConditionalPutLogStore(new SimulatedObjectStore)
    val dst = new Path(dir, "v1.manifest")
    val first = "first-complete-content".getBytes("UTF-8")
    assert(shim.publish(fs, dst, first))
    assert(!shim.publish(fs, dst, "usurper".getBytes("UTF-8")))
    val got = new Array[Byte](first.length)
    val in = fs.open(dst)
    try in.readFully(got) finally in.close()
    assert(fs.getFileStatus(dst).getLen == first.length &&
      java.util.Arrays.equals(got, first))
  }

  // ---- VersionedTable through the shim ------------------------------------

  private def withShim[A](root: String)(body: => A): A = {
    LogStore.register(root, new ConditionalPutLogStore(new SimulatedObjectStore))
    try body finally LogStore.unregister(root)
  }

  test("racing VersionedTable commits on the shim: one winner, loser conflicts") {
    val root = freshDir() + "/t"
    withShim(root) {
      VersionedTable.create(spark, root, dim((1, "a", 10L)))
      // both writers hold base=1 and race for version 2
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(2)
      def attempt(tag: String) = pool.submit(() =>
        try { start.await(); VersionedTable.append(spark, root,
          dim((2, tag, 20L))); "win" }
        catch { case _: VersionedTable.CommitConflict => "conflict" })
      val a = attempt("a"); val b = attempt("b")
      start.countDown()
      val outcomes = Seq(a.get(120, TimeUnit.SECONDS),
        b.get(120, TimeUnit.SECONDS)).sorted
      pool.shutdown()
      // local[32] scheduling may serialize the two appends (both then
      // observe fresh bases and win legitimate successive versions) —
      // what must NEVER happen is two winners of the SAME version or
      // a torn state, which the version count pins below
      val vs = VersionedTable.currentVersion(spark, root).get
      val rows = VersionedTable.read(spark, root).count()
      assert(outcomes.count(_ == "win") == vs - 1,
        s"outcomes $outcomes vs versions $vs")
      assert(rows == 1 + outcomes.count(_ == "win"))
    }
  }

  test("multi-writer stress on the shim: every version lands exactly once") {
    val root = freshDir() + "/t"
    withShim(root) {
      VersionedTable.create(spark, root, dim((0, "base", 0L)))
      val writers = 4
      val commitsEach = 3
      val pool = Executors.newFixedThreadPool(writers)
      val start = new CountDownLatch(1)
      val futures = (1 to writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            start.await()
            var done = 0
            while (done < commitsEach) {
              try {
                VersionedTable.append(spark, root,
                  dim((w * 100 + done, s"w$w-$done", w.toLong)))
                done += 1
              } catch { case _: VersionedTable.CommitConflict => () }
            }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(600, TimeUnit.SECONDS))
      pool.shutdown()
      val total = 1 + writers * commitsEach
      assert(VersionedTable.currentVersion(spark, root).contains(total.toLong))
      assert(VersionedTable.read(spark, root).count() == total.toLong)
      // every intermediate version still time-travels: manifests are
      // complete (no tears) and strictly one per slot
      (1 to total).foreach { v =>
        assert(VersionedTable.read(spark, root, Some(v.toLong)).count() == v.toLong)
      }
    }
  }

  test("longest-prefix routing picks the most specific store") {
    val a = new ConditionalPutLogStore(new SimulatedObjectStore)
    val b = new ConditionalPutLogStore(new SimulatedObjectStore)
    LogStore.register("/bucket", a)
    LogStore.register("/bucket/inner", b)
    try {
      assert(LogStore.forPath("/bucket/other/t") eq a)
      assert(LogStore.forPath("/bucket/inner/t") eq b)
      assert(LogStore.forPath("/bucket/inner") eq b) // exact root
      assert(LogStore.forPath("/elsewhere/t") eq HadoopLogStore)
      // path-BOUNDARY match: a sibling sharing a name prefix must not
      // be captured ("/bucket/inner2" is not under "/bucket/inner")
      assert(LogStore.forPath("/bucket/inner2/t") eq a)
      assert(LogStore.forPath("/bucketful/t") eq HadoopLogStore)
    } finally { LogStore.unregister("/bucket"); LogStore.unregister("/bucket/inner") }
  }
}

/** The WRONG object-store client — the naive translation everyone
  * writes first: create-exclusive as exists-check-then-put (a TOCTOU
  * race: two committers both pass the check and both "reserve" the
  * slot → lost update) and publish as a blind put (readers can observe
  * a torn manifest; a crash mid-put leaves the tear permanently).
  * Exists ONLY so LogStoreSpec can demonstrate both failures
  * deterministically; nothing routes here. */
final class NaiveObjectStoreLogStore(tearPublishAfter: Int = -1)
    extends LogStore {

  /** Runs between the TOCTOU check and the write, so a spec can park
    * a committer inside the window. */
  @volatile var interleaveHook: () => Unit = () => ()

  /** An object store's overwriting PUT, whose partial progress IS
    * visible to readers (the failure model where a reader observes an
    * incomplete object between a non-atomic copy+delete "rename"
    * pair). `failAfter` injects a crash mid-write, leaving the tear on
    * disk. */
  private def blindPut(fs: FileSystem, path: Path, bytes: Array[Byte],
      failAfter: Int = -1): Unit = {
    val out = fs.create(path, /*overwrite=*/ true)
    try {
      if (failAfter >= 0 && failAfter < bytes.length) {
        out.write(bytes, 0, failAfter)
        out.flush()
        // the "process" dies here: the truncated object is what the
        // store now serves to every reader
        throw new java.io.IOException(
          s"injected crash after $failAfter/${bytes.length} bytes")
      }
      out.write(bytes); out.flush()
    } finally out.close()
  }

  override def createExclusive(fs: FileSystem, path: Path): Boolean =
    if (fs.exists(path)) false
    else {
      interleaveHook() // the TOCTOU window, made schedulable
      blindPut(fs, path, Array.emptyByteArray)
      true
    }

  override def publish(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    blindPut(fs, dst, bytes, failAfter = tearPublishAfter)
    true
  }
}
