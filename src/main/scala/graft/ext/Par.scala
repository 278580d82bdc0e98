package graft.ext

/** Overlap INDEPENDENT Spark actions from a small driver-side thread
  * pool (optimization guide §2.6): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. A query
  * that issues N independent driver actions (probe grid cells, the
  * two legs of a hybrid retrieval, paired refreshes of unrelated
  * indexes) serializes N job tails and N driver-side coordination
  * gaps; submitting them concurrently lets the next action's tasks
  * back-fill executors freed by the current action's stragglers, and
  * overlaps the driver-side planning/collect gaps outright. Measured
  * on this bench (Prof, sf0.1): the heavy retrieval queries spend
  * 35-50% of wall in DRIVER GAP — time covered by no running job.
  *
  * Semantics: runs every thunk, waits for ALL, returns results in
  * input order (completion order never leaks). The FIRST failure (in
  * input order) rethrows with its original exception type, so
  * in-thunk `require` messages surface unchanged. Thunks must be
  * independent: no thunk may depend on another's side effects, and no
  * two may mutate the same table (the callers below all satisfy this
  * by construction — grid cells share a read-only index; hybrid legs
  * read disjoint state).
  *
  * The pool is shared, daemon, and bounded (min(8, cores)): enough to
  * fill a stage tail, not so many concurrent jobs that they fight for
  * executor slots (§2.6's "2-3 in flight is plenty" — retrieval
  * probes are short, so a slightly deeper pool pays off; measured, not
  * guessed). Nested Par calls do not deadlock: inner calls run inline
  * on the caller's thread when the pool is saturated (caller-runs
  * fallback via a bounded semaphore rather than queueing).
  */
object Par {
  private val poolSize =
    math.min(8, Runtime.getRuntime.availableProcessors())
  private val permits = new java.util.concurrent.Semaphore(poolSize)
  private val counter = new java.util.concurrent.atomic.AtomicLong(0)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, s"graft-par-${counter.incrementAndGet()}")
      t.setDaemon(true)
      t
    })

  /** Run the thunks, wait for all, return results in input order.
    * First (input-order) failure rethrows its original cause after
    * every thunk has settled — no thunk is left running when this
    * returns, so callers can safely tear down state in a catch. */
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val results = new Array[Either[Throwable, A]](thunks.size)
    val latch = new java.util.concurrent.CountDownLatch(thunks.size)
    // fail-fast skip flag: once a thunk has failed, not-yet-STARTED
    // thunks are skipped (marked with the first failure's placeholder)
    // — running ones still settle before the rethrow, preserving the
    // tear-down guarantee. InterruptedException restores the interrupt
    // flag.
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]
    thunks.zipWithIndex.foreach { case (th, i) =>
      def runOne(): Unit = {
        results(i) =
          if (failed.get() != null) Left(Skipped)
          else
            try Right(th())
            catch {
              case t: InterruptedException =>
                Thread.currentThread().interrupt()
                failed.compareAndSet(null, t)
                Left(t)
              case t: Throwable =>
                failed.compareAndSet(null, t)
                Left(t)
            }
        latch.countDown()
      }
      // caller-runs when saturated: bounds concurrency without a
      // queue, so nested Par (a parallel query calling a parallel
      // operator) degrades to inline execution instead of deadlock
      if (permits.tryAcquire())
        pool.execute(() => try runOne() finally permits.release())
      else runOne()
    }
    // an interrupt of the calling thread (a caller-runs thunk that was
    // interrupted re-asserts the flag) must not end the wait early:
    // keep waiting until every thunk has settled, then re-assert it
    var interrupted = false
    var settled = false
    while (!settled)
      try { latch.await(); settled = true }
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    // rethrow the first REAL failure in input order (skip markers
    // stand in for work never started after that failure)
    results.collectFirst { case Left(t) if t ne Skipped => t }
      .foreach(t => throw t)
    results.iterator.map(_.toOption.get).toVector
  }

  /** Marker for thunks never started because an earlier one failed. */
  private object Skipped extends RuntimeException(
    "skipped: an earlier Par thunk failed") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Varargs sugar: `val Seq(a, b) = Par(() => x, () => y)`. */
  def apply[A](thunks: (() => A)*): Seq[A] = run(thunks)

  /** Multiset equality of two same-schema frames in ONE Spark action.
    * The common in-query certification `a.exceptAll(b).isEmpty &&
    * b.exceptAll(a).isEmpty` (often with a third `count == count` job
    * in front) runs 2-3 serial shuffle actions; multiset equality is
    * equivalently ⟦group both sides by every column, full-outer join
    * the group counts null-safely, any mismatch ⇒ unequal⟧ — one
    * action, one pass over each side, the same shuffle volume as a
    * single exceptAll. Null-safe (`<=>`) join keys keep NULL == NULL,
    * matching exceptAll's null semantics. */
  def sameMultiset(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.functions._
    val cols = a.columns.toSeq
    require(b.columns.toSeq == cols,
      s"sameMultiset: schemas differ: $cols vs ${b.columns.toSeq}")
    // collision-free count aliases (r19 ADVICE: an input frame already
    // carrying __na/__nb would make the references ambiguous)
    def fresh(base: String): String = {
      var n = base
      while (cols.contains(n)) n += "_"
      n
    }
    val (na, nb) = (fresh("__na"), fresh("__nb"))
    val ga = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as(na))
    val gb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as(nb))
    val cond = cols.map(c => ga(c) <=> gb(c))
      .reduceOption(_ && _).getOrElse(lit(true))
    ga.join(gb, cond, "full_outer")
      .where(ga(na).isNull || gb(nb).isNull ||
        ga(na) =!= gb(nb))
      .isEmpty
  }
}
