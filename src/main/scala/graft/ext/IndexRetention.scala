package graft.ext

import org.apache.spark.sql.SparkSession

import graft.sources.VersionedTable

/** Coordinated corpus-retention policy for maintained indexes — the
  * r17 verdict's "vacuum/retention is a refusal, not a policy": a
  * corpus vacuumed past any index's watermark makes that index
  * unservable (the PQ re-rank reads the corpus AT the watermark, the
  * next refresh needs the change feed FROM it) — the hazard refuses
  * loudly (IndexOpsSpec), but until now the operator computed safe
  * retention by hand across N indexes and as-of horizons.
  *
  * [[safeVacuum]] is that computation: min over every index's
  * [[IvfIndex.retentionWatermark]]/[[Bm25Index.retentionWatermark]]
  * (live watermark, plus the version serving an as-of horizon) and
  * the horizon itself, then [[VersionedTable.vacuum]] strictly below
  * it. Pure metadata walks; vacuuming past a live watermark is
  * impossible BY CONSTRUCTION rather than merely detected after the
  * fact. */
object IndexRetention {

  /** Vacuum `corpusRoot` below the oldest version any of the given
    * indexes — or an as-of `horizon` — still needs. Every index must
    * actually maintain from THIS corpus (pinned against the manifest
    * meta — a mismatched index would compute retention for the wrong
    * table). `horizon` keeps all corpus versions ≥ it answerable
    * as-of (and the index versions serving them re-rankable). Returns
    * the `keepFrom` version handed to [[VersionedTable.vacuum]]. */
  def safeVacuum(spark: SparkSession, corpusRoot: String,
      ivfIndexes: Seq[String] = Seq.empty,
      bm25Indexes: Seq[String] = Seq.empty,
      asOfHorizon: Option[Long] = None,
      orphanGraceMs: Long = 24L * 3600 * 1000): Long = {
    val cur = VersionedTable.headVersion(spark, corpusRoot)
    ivfIndexes.foreach { p =>
      require(IvfIndex.corpusOf(spark, p) == corpusRoot,
        s"$p maintains from ${IvfIndex.corpusOf(spark, p)}, " +
          s"not $corpusRoot — refusing to compute retention for it")
    }
    bm25Indexes.foreach { r =>
      require(Bm25Index.corpusOf(spark, r) == corpusRoot,
        s"$r maintains from ${Bm25Index.corpusOf(spark, r)}, " +
          s"not $corpusRoot — refusing to compute retention for it")
    }
    val needs =
      ivfIndexes.map(IvfIndex.retentionWatermark(spark, _, asOfHorizon)) ++
      bm25Indexes.map(Bm25Index.retentionWatermark(spark, _, asOfHorizon)) ++
      asOfHorizon.toSeq
    val keepFrom = math.min(cur, if (needs.isEmpty) cur else needs.min)
    VersionedTable.vacuum(spark, corpusRoot, keepFrom, orphanGraceMs)
    keepFrom
  }

  /** One-call maintenance for a corpus and EVERY index over it — the
    * scheduler entry point (what a
    * [[graft.streaming.Streams.maintainOnChanges]] callback or a cron
    * cycle runs): maintain each index (refresh from the change feed +
    * drift-gated rebuild on either signal + file-count-gated
    * clustering-preserving compaction — the existing audited
    * autopilots), THEN vacuum the corpus under the coordinated
    * retention floor the just-advanced watermarks allow
    * ([[safeVacuum]]) — maintenance first, so a healthy cycle always
    * moves the floor forward instead of holding history for lagging
    * indexes. `indexVacuum = true` closes the loop on the INDEX side
    * too ([[IvfIndex.vacuumHistory]]/[[Bm25Index.vacuumHistory]] at
    * the same horizon): without it every refresh/rebuild/fold accretes
    * an index version forever. Returns the `keepFrom` used (None with
    * `vacuum = false`). Policy knobs, not new mechanisms. */
  def maintainAll(spark: SparkSession, corpusRoot: String,
      ivfIndexes: Seq[String] = Seq.empty,
      bm25Indexes: Seq[String] = Seq.empty,
      asOfHorizon: Option[Long] = None,
      tolerance: Double = 0.05, pqErrFactor: Double = 2.0,
      trainIters: Int = 0,
      compactAboveFiles: Int = Int.MaxValue,
      smallFileBytes: Long = 8L * 1024 * 1024,
      vacuum: Boolean = true,
      indexVacuum: Boolean = false,
      orphanGraceMs: Long = 24L * 3600 * 1000): Option[Long] =
    maintainAllSeam(spark, corpusRoot, ivfIndexes, bm25Indexes,
      asOfHorizon, tolerance, pqErrFactor, trainIters,
      compactAboveFiles, smallFileBytes, vacuum, indexVacuum,
      orphanGraceMs, () => ())

  /** Test seam: `beforeVacuum` runs between the maintenance loop and
    * the vacuum-floor computation — the window a CONCURRENT
    * maintainAll cycle or an operator-issued rebuild lands in. The
    * race is benign BY CONSTRUCTION, and the crossed-writer spec
    * (IndexOpsSpec) pins it: [[safeVacuum]] recomputes every
    * retention watermark from the indexes' CURRENT manifests at call
    * time (never from state captured before the window), so a writer
    * landing in the window can only move watermarks FORWARD — the
    * floor stays monotone and a version still serving the horizon is
    * kept by the recomputed walk, not by luck of scheduling.
    * Production callers use [[maintainAll]]. */
  private[graft] def maintainAllSeam(spark: SparkSession,
      corpusRoot: String,
      ivfIndexes: Seq[String], bm25Indexes: Seq[String],
      asOfHorizon: Option[Long],
      tolerance: Double, pqErrFactor: Double,
      trainIters: Int,
      compactAboveFiles: Int,
      smallFileBytes: Long,
      vacuum: Boolean,
      indexVacuum: Boolean,
      orphanGraceMs: Long,
      beforeVacuum: () => Unit): Option[Long] = {
    ivfIndexes.foreach(p => IvfIndex.maintain(spark, p, tolerance,
      trainIters, compactAboveFiles, smallFileBytes, pqErrFactor))
    bm25Indexes.foreach(r => Bm25Index.maintain(spark, r,
      compactAboveFiles, smallFileBytes))
    beforeVacuum()
    val kept =
      if (vacuum)
        Some(safeVacuum(spark, corpusRoot, ivfIndexes, bm25Indexes,
          asOfHorizon, orphanGraceMs))
      else None
    if (indexVacuum) {
      ivfIndexes.foreach(p =>
        IvfIndex.vacuumHistory(spark, p, asOfHorizon, orphanGraceMs))
      bm25Indexes.foreach(r =>
        Bm25Index.vacuumHistory(spark, r, asOfHorizon, orphanGraceMs))
    }
    kept
  }
}
