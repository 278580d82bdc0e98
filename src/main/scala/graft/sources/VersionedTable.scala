package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An in-repo ACID table: versioned-manifest copy-on-write parquet —
  * the storage layer the reference reaches for Delta for
  * (/root/reference/mapping/enhanced_json_mapper.py:2042-2074 writes
  * `format("delta")` and merges on Databricks). This build ships no
  * Delta jar, so the same guarantees are built from first principles,
  * the way the public table formats (Delta's transaction log, Iceberg's
  * snapshot manifests) do it:
  *
  *  - **Data files are immutable.** Every commit writes NEW parquet
  *    files under `data/<commit-uuid>/`; nothing is ever modified in
  *    place. A mutation rewrites only the files that contain matched
  *    keys (file-granular copy-on-write) and carries every other file
  *    into the next manifest untouched — at 100 TB a merge touching
  *    0.1% of keys rewrites ~0.1% of files, not the table.
  *  - **A snapshot is a manifest.** `_manifests/v<N>.manifest` lists
  *    the data files (plus the schema) that make up version N. Readers
  *    resolve the highest published manifest ONCE and then read a
  *    frozen file list — a concurrent commit cannot tear a scan.
  *  - **Commit = atomic manifest publish.** The manifest is written to
  *    a dot-temp name and atomically renamed into place; a crash at
  *    ANY earlier point leaves only invisible garbage (orphan data
  *    dirs, dot-temp manifests) and the previous snapshot intact.
  *    VersionedTableSpec simulates the torn-write points.
  *  - **Optimistic concurrency.** A committer reserves exactly
  *    `base+1` via atomic create-exclusive on a `.lock` file; losing
  *    the race throws [[VersionedTable.CommitConflict]] — re-read,
  *    recompute, retry (the Delta/Iceberg OCC loop). The lock
  *    PERSISTS after publish as the version's reservation tombstone
  *    (deleting it would reopen the race for a committer still
  *    holding the old base — proven by the two-writer race spec);
  *    vacuum sweeps tombstones with their versions. A committer that
  *    crashed after reserving leaves an orphan lock; [[recover]]
  *    clears it once the holder is known dead. A multi-writer
  *    production deployment would put the reservation in a catalog
  *    service or a conditional put — the single creation point to
  *    swap, exactly like the reference swaps in Databricks' Delta.
  *
  * **Storage contract (read before pointing this at an object
  * store).** Correctness rests on exactly two filesystem primitives:
  * (1) ATOMIC RENAME for the manifest publish — the renamed file must
  * appear complete or not at all, never partially; (2) ATOMIC
  * CREATE-EXCLUSIVE ("put-if-absent") for the version lock — two
  * concurrent creators of the same path must see exactly one winner.
  * HDFS and POSIX local filesystems guarantee both. Plain S3
  * guarantees NEITHER (rename is copy+delete; puts overwrite
  * blindly), so running there requires swapping the two primitives
  * for a conditional put (S3 now supports If-None-Match) or an
  * external catalog/DynamoDB-style lock — the same single integration
  * point Delta's LogStore abstracts. Both primitives live behind
  * exactly that seam here: [[LogStore]] (HadoopLogStore default;
  * register a [[ConditionalPutLogStore]]-shaped client per table-root
  * prefix for object stores — LogStoreSpec proves exactly-one-winner
  * on a simulated non-atomic store, and q173 runs a full
  * merge/delete/vacuum cycle through the shim under the oracle gate).
  * Everything else (immutable data files, parquet checkpoints,
  * vacuum) is plain read/write/list and ports unchanged.
  *
  * **File-count scale.** Above [[VersionedTable.CpThreshold]] files
  * the entry list lives in a parquet CHECKPOINT referenced by the
  * text manifest, commits append only add/remove delta lines
  * (O(changed files) bytes), and `readWhere` evaluates data-skipping
  * stats as a distributed filter over the checkpoint — so at ~1M
  * files neither the per-commit manifest write nor the prune-time
  * stats pass is driver-bound. Mutation paths still materialize the
  * file list once on the driver to compute carries (Delta does the
  * same for conflict checking); MEASURED at ~560 heap bytes/entry
  * with two stat columns (VersionedTableSpec's 50k-entry synthetic
  * manifest: 26 MiB at 50k files, ~21 B/entry at rest in the parquet
  * checkpoint) — ~560 MB at 1M files, within a production driver's
  * budget, and the spec pins the per-entry ceiling so growth is a
  * test failure, not a surprise.
  */
object VersionedTable {

  final class CommitConflict(msg: String)
    extends RuntimeException(msg)

  /** A guarded streaming commit found the table's meta diverged from
    * what the writer READ when it computed its batch — the batch was
    * built on a stale snapshot and must be recomputed from the current
    * state, not retried as-is (retrying the same frozen delta is
    * exactly the lost-update the guard exists to stop). Distinct from
    * [[CommitConflict]], which [[streamingApply]] retries with the
    * SAME payload (safe only when the payload is still valid against
    * the new base). */
  final class StaleRefresh(msg: String)
    extends RuntimeException(msg)

  private val Magic = "graft-versioned-table v1"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestDir(root: String) = new Path(root, "_manifests")
  private def manifestPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%020d.manifest")
  private def lockPath(root: String, v: Long) =
    new Path(manifestDir(root), f"v$v%020d.lock")

  private val ManifestRe = """v(\d{20})\.manifest""".r

  /** Reserved meta key: wall-clock commit instant (epoch millis),
    * stamped by every commit — the [[readAsOf]] resolution index. */
  private val CommitTsKey = "_ts"

  /** Reserved meta key: the OPERATION that produced the version
    * (Delta DESCRIBE HISTORY's operation column) — stamped fresh by
    * every commit, surfaced by [[describeHistory]]. */
  private val OpKey = "_op"

  /** Highest published version, or None for a non-table path. One
    * directory listing — the only metadata read a snapshot needs. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  private def noTable(root: String): String = s"$root: no versioned table"

  /** Highest published version of `root`; refuses a non-table path. */
  def headVersion(spark: SparkSession, root: String): Long =
    currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(noTable(root)))

  /** The manifest of `root` at `version` (default: the head). */
  private[sources] def snapshot(spark: SparkSession, root: String,
      version: Option[Long] = None): Manifest =
    readManifest(spark, root, version.getOrElse(headVersion(spark, root)))

  /** The user-visible manifest meta of `root` at `version` (default
    * current) — the public face of the key-value state commits carry
    * (watermarks, view definitions, audit counters). Reserved
    * bookkeeping keys (`_ts`, `_op`, stream batch ids) ride along
    * unfiltered; callers match on their own keys. */
  def metaOf(spark: SparkSession, root: String,
      version: Option[Long] = None): Map[String, String] =
    snapshot(spark, root, version).meta

  /** Live data-file count of a version's manifest — the signal a
    * compaction policy watches (metadata only; exact without
    * materializing a checkpointed file list). */
  def fileCount(spark: SparkSession, root: String,
      version: Option[Long] = None): Long =
    snapshot(spark, root, version).fileCount

  /** Total LIVE rows from the manifest's per-file counts minus
    * deletion-vector rows — metadata only, no scan; −1 when any file
    * predates row stats. A layout-policy signal (compaction partition
    * sizing), not an answer source: exact by commit() bookkeeping but
    * callers needing an auditable count should count rows. */
  def rowCount(spark: SparkSession, root: String,
      version: Option[Long] = None): Long = {
    val m = snapshot(spark, root, version)
    if (m.files.exists(_.rows < 0)) -1L
    else m.files.map(_.rows).sum - m.dvs.values.map(_._2).sum
  }

  /** The retained manifests of `root`, newest first, each read only
    * when reached. */
  private def history(spark: SparkSession, root: String): Iterator[Manifest] = {
    val retained = versions(spark, root).reverse
    require(retained.nonEmpty, noTable(root))
    retained.iterator.map(v => readManifest(spark, root, v))
  }

  /** Every RETAINED manifest version of `root`, ascending — after a
    * [[vacuum]] the low end starts at the retention floor, not 1. One
    * directory listing (the [[currentVersion]] cost). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName).collect {
      case ManifestRe(d) => d.toLong
    }.sorted.toSeq
  }

  /** Latest version of `root` whose `key` manifest meta is ≤ `target`
    * — the watermark walk behind every as-of index/view read (a
    * derived table records the SOURCE version each commit applied;
    * mapping a source version back to the derived table's consistent
    * snapshot is this walk). Metadata reads only, O(versions walked);
    * monotone watermarks (the streaming-commit invariant) make the
    * first hit the right one. Refuses LOUDLY when the walk would fall
    * off the low end — the derived table never reflected that source
    * state, or its history below the retention floor was [[vacuum]]ed
    * (the walk must name that, not die on a missing manifest file). */
  def versionAtMeta(spark: SparkSession, root: String, key: String,
      target: Long): Long = {
    val vs = versions(spark, root)
    if (vs.isEmpty) throw new IllegalArgumentException(noTable(root))
    val floor = vs.head
    var v = vs.last
    while (v > floor && metaOf(spark, root, Some(v))(key).toLong > target)
      v -= 1
    require(metaOf(spark, root, Some(v))(key).toLong <= target,
      s"$root has no RETAINED version at or before watermark $target" +
        (if (floor > 1) s" — history below version $floor was vacuumed"
         else ""))
    v
  }

  /** Per-file column statistics carried in the manifest — the data-
    * skipping index (Delta's `stats` JSON, Iceberg's manifest-entry
    * bounds). min/max are CANONICAL-encoded strings ([[canonCol]]
    * domain: integrals/date/timestamp as epoch-scaled longs, floats
    * as doubles, strings/booleans/decimals as themselves); `None`
    * min/max means the file holds no non-null value for the column. */
  final case class ColStats(min: Option[String], max: Option[String],
      nulls: Long)

  /** One manifest data-file entry: root-relative path, row count
    * (-1 = unknown, a pre-stats legacy entry), per-column stats. */
  final case class FileEntry(rel: String, rows: Long,
      stats: Map[String, ColStats])

  /** One version's metadata. Two physical layouts share this view:
    *
    *  - SMALL tables: every [[FileEntry]] is a line in the text
    *    manifest (`adds` holds them all, `cp` is None).
    *  - LARGE tables (≥ [[CpThreshold]] files): the entry list lives
    *    in a PARQUET CHECKPOINT under `_manifests/cp-<uuid>/` and the
    *    text manifest carries only `cp <rel> <count>` plus the
    *    commit's `add`/`remove` delta lines — the Delta-Lake
    *    checkpoint + incremental-log design. Successive commits reuse
    *    the same checkpoint until the delta grows past ~¼ of the
    *    table, so COMMIT WORK IS O(changed files), not O(table files),
    *    and a 1M-file table never rewrites a 1M-line list per commit.
    *
    * `files` materializes the effective entry list lazily (checkpoint
    * minus `removes` plus `adds`) — mutation paths that genuinely need
    * the full list pay for it; the pruning read path never calls it on
    * a checkpointed table (see [[prunedEntriesOf]]). */
  private[sources] final class Manifest(
      val version: Long, val schema: StructType,
      // row-level change capture for THIS commit (Delta CDF design):
      //   cdfNone = true        → rewrite with provably zero row changes
      //                           (compact/clusterBy layout rewrites)
      //   changeFiles nonEmpty  → explicit change parquet under changes/
      //   both empty            → append-only commit (changes derivable
      //                           from the file diff) or a legacy/non-CDF
      //                           rewrite (readChanges refuses)
      val meta: Map[String, String],
      val changeFiles: Seq[String], val cdfNone: Boolean,
      // merge-on-read DELETION VECTORS (Delta DVs / Iceberg position
      // deletes): data-file rel -> (dv dir rel, deleted-row count). A
      // file with an entry here is scanned MINUS the (file, pos) rows
      // its dv dir records — the 100 TB point-delete path that never
      // rewrites a file. Per-file stats stay valid as supersets of the
      // live rows (pruning is conservative either way).
      val dvs: Map[String, (String, Long)],
      val cp: Option[String], val cpCount: Long,
      val adds: Seq[FileEntry], val removes: Set[String],
      loader: () => Seq[FileEntry]) {
    lazy val files: Seq[FileEntry] = loader()
    /** Exact file count without materializing a checkpointed list —
      * commit() keeps `removes` ⊆ checkpoint and disjoint from `adds`,
      * so the arithmetic is exact. */
    def fileCount: Long =
      if (cp.isDefined) cpCount - removes.size + adds.size
      else adds.size
  }

  private[sources] def readManifest(spark: SparkSession, root: String,
      v: Long): Manifest = {
    val p = manifestPath(root, v)
    val in = fs(spark, p).open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    require(lines.headOption.contains(Magic),
      s"$p is not a ${Magic} manifest")
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(lines(1).stripPrefix("schema=")).asInstanceOf[StructType]
    // `meta k=v` lines ride between the schema and the file list —
    // table-level key-values that must move ATOMICALLY with the data
    // (streaming batch watermarks); `cdf ...` lines carry this commit's
    // change-capture record; `cp`/`add`/`remove` lines carry the
    // checkpointed layout; relative file paths never start with any of
    // these prefixes (they start with "data/")
    val body = lines.drop(2).filter(_.nonEmpty)
    val tags = Seq("meta ", "cdf ", "dv ", "cp ", "add ", "remove ")
    def tagged(tag: String): Seq[String] =
      body.filter(_.startsWith(tag)).map(_.stripPrefix(tag))
    val fileLines = body.filterNot(l => tags.exists(l.startsWith))
    val meta = tagged("meta ").map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"$p: bad meta line 'meta $kv'")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val cdfVals = tagged("cdf ")
    val dvs = tagged("dv ").map { l =>
      val Array(fr, dr, n) = l.split(' ')
      dec(fr) -> (dec(dr), n.toLong)
    }.toMap
    val cpLines = tagged("cp ")
    require(cpLines.size <= 1, s"$p: multiple cp lines")
    val cpRef = cpLines.headOption.map { l =>
      val Array(rel, n) = l.split(' ')
      (rel, n.toLong)
    }
    val (addLines, removes) = (tagged("add "), tagged("remove ").toSet)
    require(cpRef.isDefined || (addLines.isEmpty && removes.isEmpty),
      s"$p: add/remove lines without a cp line")
    val adds = (if (cpRef.isDefined) addLines else fileLines).map(parseEntry)
    val loader: () => Seq[FileEntry] = cpRef match {
      case None => () => adds
      case Some((rel, _)) => () =>
        readCheckpoint(spark, root, rel)
          .filterNot(e => removes.contains(e.rel)) ++ adds
    }
    new Manifest(v, schema, meta,
      changeFiles = cdfVals.filterNot(_ == "none"),
      cdfNone = cdfVals.contains("none"), dvs = dvs,
      cp = cpRef.map(_._1), cpCount = cpRef.map(_._2).getOrElse(0L),
      adds = adds, removes = removes, loader = loader)
  }

  // ---- parquet manifest checkpoints (file-count scale) ------------------

  /** File count at which a commit moves the entry list into a parquet
    * checkpoint. Below it the text manifest IS the list (simple,
    * human-readable, zero extra reads); above it the text manifest
    * stays O(delta) per commit. */
  private val CpThreshold = 512

  private implicit lazy val fileEntryEnc: org.apache.spark.sql.Encoder[FileEntry] =
    org.apache.spark.sql.Encoders.product[FileEntry]

  private def writeCheckpoint(spark: SparkSession, root: String,
      files: Seq[FileEntry]): String = {
    val rel = s"_manifests/cp-${java.util.UUID.randomUUID()}"
    // written BEFORE the commit lock, like data files: a torn commit
    // leaves an unreferenced cp dir for vacuum's orphan sweep
    spark.createDataset(files).repartition(1)
      .write.parquet(new Path(root, rel).toString)
    rel
  }

  private def checkpointDs(spark: SparkSession, root: String,
      rel: String): org.apache.spark.sql.Dataset[FileEntry] =
    spark.read.parquet(new Path(root, rel).toString).as[FileEntry]

  private def readCheckpoint(spark: SparkSession, root: String,
      rel: String): Seq[FileEntry] =
    checkpointDs(spark, root, rel).collect().toSeq

  // ---- file-entry (de)serialization -------------------------------------
  // Line format (tab-separated; URL-encoding keeps values tab/comma-free):
  //   rel                                  (legacy: no stats)
  //   rel \t #rows=N \t col=min,max,nulls ...   ("~" = absent min/max)
  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def entryLine(e: FileEntry): String =
    if (e.rows < 0 && e.stats.isEmpty) e.rel
    else {
      val sb = new StringBuilder(e.rel)
      sb.append("\t#rows=").append(e.rows)
      e.stats.toSeq.sortBy(_._1).foreach { case (n, cs) =>
        sb.append('\t').append(enc(n)).append('=')
          .append(cs.min.map(enc).getOrElse("~")).append(',')
          .append(cs.max.map(enc).getOrElse("~")).append(',')
          .append(cs.nulls)
      }
      sb.toString
    }

  private def parseEntry(line: String): FileEntry = {
    val parts = line.split('\t')
    if (parts.length == 1) FileEntry(line, -1L, Map.empty)
    else {
      val rows = parts(1).stripPrefix("#rows=").toLong
      val stats = parts.drop(2).map { p =>
        val i = p.indexOf('=')
        require(i > 0, s"bad stats field '$p'")
        val Array(mn, mx, nl) = p.drop(i + 1).split(",", -1)
        dec(p.take(i)) -> ColStats(
          if (mn == "~") None else Some(dec(mn)),
          if (mx == "~") None else Some(dec(mx)), nl.toLong)
      }.toMap
      FileEntry(parts(0), rows, stats)
    }
  }

  /** Publish `files` (+ `meta`) as the version after `base` — the
    * manifest the caller built the commit on, `None` to create version
    * 1. Atomic: create-exclusive lock reservation (CAS — loser gets
    * [[CommitConflict]]), then write-temp + rename. */
  // private[sources] so the driver-bound spec can publish a SYNTHETIC
  // 50k-entry manifest and measure planning cost without writing 50k
  // real files; MaterializedView's schema-evolving rewrite commits here
  private[sources] def commit(spark: SparkSession, root: String,
      base: Option[Manifest], schema: StructType, files: Seq[FileEntry],
      meta: Map[String, String] = Map.empty,
      changeFiles: Seq[String] = Seq.empty,
      cdfNone: Boolean = false,
      dvs: Map[String, (String, Long)] = Map.empty,
      op: String = "WRITE"): Long = {
    // validate inputs BEFORE reserving the version: a require firing
    // after the lock is taken would strand an orphan reservation that
    // blocks every writer until a manual recover()
    meta.foreach { case (k, v) =>
      require(!k.contains('=') && !(k + v).exists(c => c == '\n' || c == '\r'),
        s"bad meta entry '$k'='$v'")
    }
    // Entry-list representation, decided (and any checkpoint written)
    // BEFORE the lock: plain lines below CpThreshold; otherwise reuse
    // the base checkpoint with add/remove delta lines, rewriting a
    // fresh checkpoint only when the accumulated delta passes ~¼ of
    // the table. A torn commit strands at most an unreferenced cp dir
    // (vacuum's orphan sweep takes it, like data dirs).
    final case class Rep(cp: Option[(String, Long)],
        adds: Seq[FileEntry], removes: Seq[String])
    val rep: Rep =
      if (files.size < CpThreshold) Rep(None, files, Nil)
      else base.filter(_.cp.isDefined).flatMap { bm =>
        val baseFiles = bm.files
        val baseByRel = baseFiles.iterator.map(e => e.rel -> e).toMap
        val newRels = files.iterator.map(_.rel).toSet
        // changed entries (same rel, different stats — impossible for
        // our immutable data files, handled defensively) count as
        // remove + add
        val added = files.filter(e => baseByRel.get(e.rel).forall(_ != e))
        val addedRels = added.iterator.map(_.rel).toSet
        val removedRels = baseFiles.iterator.map(_.rel).filter(r =>
          !newRels.contains(r) || addedRels.contains(r)).toSet
        val baseAddRels = bm.adds.iterator.map(_.rel).toSet
        val newAdds =
          bm.adds.filterNot(e => removedRels.contains(e.rel)) ++ added
        // remove lines only for rels living in the checkpoint — keeps
        // Manifest.fileCount arithmetic exact
        val newRemoves =
          bm.removes ++ removedRels.filterNot(baseAddRels.contains)
        if (newAdds.size + newRemoves.size > files.size / 4 + 64) None
        else Some(Rep(Some((bm.cp.get, bm.cpCount)), newAdds,
          newRemoves.toSeq.sorted))
      }.getOrElse(
        Rep(Some((writeCheckpoint(spark, root, files), files.size)), Nil, Nil))
    val next = base.fold(0L)(_.version) + 1
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    // Both atomicity-bearing calls below go through the LogStore seam
    // (see LogStore.scala): HadoopLogStore on HDFS/POSIX, a
    // conditional-put client on object stores.
    val store = LogStore.forPath(root)
    val lock = lockPath(root, next)
    if (!store.createExclusive(f, lock)) throw new CommitConflict(
      s"version $next of $root is already reserved or published — " +
        "re-read the table, recompute against the new snapshot, and " +
        "retry (or run recover() if a committer died mid-commit)")
    // second-chance staleness check AFTER the reservation: if vacuum
    // dropped old versions, their lock tombstones went with them, and a
    // writer still holding a pre-vacuum base could re-acquire a retired
    // slot — its commit would land BEHIND currentVersion and be
    // silently invisible (a lost update). The just-created lock stays
    // behind as a fresh tombstone for the retired slot, re-closing it.
    currentVersion(spark, root).foreach { cur =>
      if (cur >= next) throw new CommitConflict(
        s"version $next of $root is retired (current is $cur) — the " +
          "base snapshot predates vacuumed history; re-read and retry")
    }
    // The manifest is bounded in memory — plain entry lines below
    // CpThreshold, checkpoint reference + add/remove deltas above —
    // so it is assembled as bytes and handed to the store's atomic
    // publish in one call (temp+rename on HDFS/POSIX, a single
    // conditional put on object stores; a multi-call streaming write
    // could never be complete-or-absent on the latter).
    val w = new java.lang.StringBuilder
    w.append(Magic).append('\n')
    w.append("schema=").append(schema.json).append('\n')
    // a carried _ts/_op (from m.meta propagation) is overwritten
    // with THIS commit's instant and operation
    val stamped = meta +
      (CommitTsKey -> System.currentTimeMillis.toString) + (OpKey -> op)
    stamped.toSeq.sortBy(_._1).foreach { case (k, v) =>
      w.append(s"meta $k=$v\n")
    }
    if (cdfNone) w.append("cdf none\n")
    else changeFiles.foreach(c => w.append(s"cdf $c\n"))
    // dv lines are per-version state (the FULL map each commit, like
    // Delta's per-AddFile deletionVector field) — O(files-with-DVs)
    // per commit; materializeDeletes / any rewrite clears them
    dvs.toSeq.sortBy(_._1).foreach { case (fr, (dr, n)) =>
      w.append(s"dv ${enc(fr)} ${enc(dr)} $n\n")
    }
    rep.cp match {
      case Some((rel, n)) =>
        w.append(s"cp $rel $n\n")
        rep.removes.foreach(r => w.append(s"remove $r\n"))
        rep.adds.foreach(e => w.append("add " + entryLine(e) + "\n"))
      case None =>
        rep.adds.foreach(e => w.append(entryLine(e) + "\n"))
    }
    // atomic publish: the manifest appears complete or not at all.
    // The lock is NOT deleted — it persists as the version's
    // reservation tombstone. Deleting it after publish reopens the
    // race: a concurrent committer that read the OLD current version
    // could then create-exclusive the same lock and collide with the
    // published manifest (a lost update — caught by the two-writer
    // race spec). Tombstones are swept with their version by vacuum.
    if (!store.publish(f, manifestPath(root, next),
        w.toString.getBytes("UTF-8")))
      throw new java.io.IOException(s"publish of v$next manifest failed")
    next
  }

  /** Clear the orphan lock a crashed committer left at current+1 —
    * call only when the holder is known dead (production: a catalog
    * service with leases makes this automatic). */
  def recover(spark: SparkSession, root: String): Unit = {
    val cur = currentVersion(spark, root).getOrElse(0L)
    val lock = lockPath(root, cur + 1)
    val f = fs(spark, lock)
    if (f.exists(lock) && !f.exists(manifestPath(root, cur + 1)))
      f.delete(lock, false)
  }

  // ---- column mapping: rename/drop without rewriting data ---------------
  //
  // Delta's column-mapping design, name-mode: a column's PHYSICAL
  // parquet name is frozen at the moment it is first written; its
  // LOGICAL name lives in manifest meta (`_phys.<logical>=<physical>`,
  // identity when absent). RENAME is then a metadata-only commit (the
  // logical key moves, the physical stays), DROP removes the logical
  // field and retires its physical name (`_physdrop.<physical>=1`
  // keeps it from ever being reused — re-adding a same-named column
  // must not resurrect old bytes), and every scan reads the physical
  // schema and aliases back. Stats stay keyed by physical name, so a
  // rename invalidates NOTHING — no manifest rewrite, checkpoint
  // reuse intact, O(1) metadata commit at any file count.

  private val PhysKeyPrefix = "_phys."
  private val PhysDropPrefix = "_physdrop."

  /** logical → physical for this version's meta (identity default). */
  private def physMapOf(meta: Map[String, String]): Map[String, String] =
    meta.collect { case (k, v) if k.startsWith(PhysKeyPrefix) =>
      k.stripPrefix(PhysKeyPrefix) -> v
    }

  private def physOf(phys: Map[String, String])(logical: String): String =
    phys.getOrElse(logical, logical)

  /** Every physical name that may exist in some live-or-historic data
    * file: current columns' physicals plus retired (dropped) ones. */
  private def usedPhysicals(schema: StructType,
      meta: Map[String, String]): Set[String] = {
    val phys = physMapOf(meta)
    schema.fieldNames.map(physOf(phys)).toSet ++
      meta.keysIterator.filter(_.startsWith(PhysDropPrefix))
        .map(_.stripPrefix(PhysDropPrefix))
  }

  /** The physical shape of `schema` under a mapping — what the parquet
    * files actually contain. */
  private def physSchema(schema: StructType,
      phys: Map[String, String]): StructType =
    StructType(schema.fields.map(f => f.copy(name = physOf(phys)(f.name))))

  // ---- per-file column stats (the data-skipping index) ------------------

  /** Stats cover at most this many leading supported columns — bounds
    * manifest size the way Delta's `dataSkippingNumIndexedCols` does. */
  private val StatsMaxCols = 32

  private def statsSupported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType => true
    case _: DecimalType => true
    case _ => false // incl. TIMESTAMP_NTZ: no canonical epoch expr; such
                    // columns simply never prune (conservative, correct)
  }

  /** Canonical ordering-preserving projection per dtype: the domain
    * min/max are computed and compared in. Dates → epoch days,
    * timestamps → epoch micros (matching Catalyst's internal literal
    * encodings), integrals widen to long, floats to double. */
  private def canonCol(name: String, dt: DataType): Column = dt match {
    case DateType => unix_date(col(name))
    case TimestampType => unix_micros(col(name))
    case ByteType | ShortType | IntegerType | LongType =>
      col(name).cast("long")
    case FloatType => col(name).cast("double")
    case _ => col(name)
  }

  private def statEncode(v: Any): String = v match {
    case null => "~"
    case d: java.math.BigDecimal => d.toString
    case x => x.toString
  }

  /** Write `df` into new immutable files under data/<uuid>/ and return
    * their manifest entries, in ONE Spark action: the write itself.
    * Runs BEFORE any manifest is touched — a crash leaves an invisible
    * orphan dir. Row counts and per-column stats come from each file's
    * parquet footer ([[footerStats]]): the bounds the parquet writer
    * collected while writing, the way Delta collects stats inside the
    * transaction instead of re-reading what it wrote. A column whose
    * footer holds no min/max (NaN-bearing floats, strings past
    * parquet-mr's 4 KB stats limit) gets no stats and never prunes.
    * TIMESTAMP columns are the exception: Spark writes them as INT96
    * by default, whose footers carry no bounds, so a table with one
    * reads their stats back with a group-by-file aggregate narrowed to
    * those columns ([[timestampStats]]) — the one extra action, and
    * only for such tables (switching the session to TIMESTAMP_MICROS
    * would change the file format of every table instead). Zero-row
    * files (Spark writes an empty input as one empty file) are deleted
    * and left out of the entries; a write with no rows at all leaves no
    * directory behind. */
  // private[sources]: MaterializedView's schema-evolving rewrite
  // (addSums) writes its widened state through the same path
  private[sources] def writeData(spark: SparkSession, root: String,
      df0: DataFrame,
      phys: Map[String, String] = Map.empty): Seq[FileEntry] = {
    // files are written under PHYSICAL names (stable forever); stats
    // end up keyed physical too — exactly what the pruner expects
    val df =
      if (phys.isEmpty) df0
      else df0.select(df0.schema.fieldNames.toIndexedSeq.map(n =>
        col(graft.dag.DataFlowExec.bq(n)).as(physOf(phys)(n))): _*)
    val sub = s"data/${java.util.UUID.randomUUID()}"
    val abs = new Path(root, sub)
    df.write.parquet(abs.toString)
    val fields = df.schema.fields.toSeq
      .filter(sf => statsSupported(sf.dataType)).take(StatsMaxCols)
    val footed = writtenFiles(spark, root, sub)
    val tsFields = fields.filter(_.dataType == TimestampType)
    val tsByName: Map[String, Map[String, ColStats]] =
      if (tsFields.isEmpty || footed.isEmpty) Map.empty
      else timestampStats(spark, abs, tsFields)
    footed.map { case (rel, blocks) =>
      val rows = blocks.map(_.getRowCount).sum
      val ts =
        if (tsFields.isEmpty) Map.empty[String, ColStats]
        else tsByName.getOrElse(new Path(rel).getName,
          throw new IllegalStateException(
            s"${new Path(root, rel)} holds $rows row(s) the stats " +
              "aggregate never saw"))
      FileEntry(rel, rows, footerStats(blocks, fields) ++ ts)
    }
  }

  private type Blocks = Seq[org.apache.parquet.hadoop.metadata.BlockMetaData]

  /** The parquet files Spark wrote under `sub` that hold rows, each
    * with its footer's row groups. Zero-row files are deleted, and the
    * whole directory when no file holds a row. */
  private def writtenFiles(spark: SparkSession, root: String,
      sub: String): Seq[(String, Blocks)] = {
    import scala.jdk.CollectionConverters._
    val abs = new Path(root, sub)
    val f = fs(spark, abs)
    val conf = spark.sessionState.newHadoopConf()
    val all = f.listStatus(abs).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq.map { n =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(abs, n), conf))
        val blocks: Blocks =
          try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
        (s"$sub/$n", blocks)
      }
    val (kept, empty) = all.partition(_._2.exists(_.getRowCount > 0))
    if (kept.isEmpty) f.delete(abs, true)
    else empty.foreach(e => f.delete(new Path(root, e._1), false))
    kept
  }

  /** Per-column stats of one file from its footer's row groups, in the
    * canonical forms [[canonCol]]/[[statEncode]] give: int32 widens to
    * long for byte/short/int, a date stays epoch days, a float becomes
    * a double, a decimal a `BigDecimal` at its scale, a string comes
    * from its UTF-8 bytes (parquet orders them unsigned, as Spark
    * does). A column is left out (never prunes) unless every row group
    * either has min/max or holds only nulls — a row group with values
    * but no bounds (parquet-mr drops NaN bounds) says nothing. */
  private def footerStats(blocks: Blocks,
      fields: Seq[StructField]): Map[String, ColStats] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.column.statistics.Statistics
    val chunks = blocks.map { b =>
      b.getColumns.asScala.collect {
        case c if c.getPath.size == 1 => c.getPath.toArray()(0) -> c
      }.toMap
    }
    fields.filter(_.dataType != TimestampType).flatMap { sf =>
      val groups: Seq[Option[Statistics[_]]] =
        blocks.zip(chunks).map { case (b, cs) =>
          cs.get(sf.name).map(_.getStatistics).filter { s =>
            s != null && s.isNumNullsSet &&
              (s.hasNonNullValue || s.getNumNulls == b.getRowCount)
          }
        }
      if (groups.isEmpty || groups.contains(None)) None
      else {
        val all = groups.flatten
        val merged = all.head.copy()
        all.tail.foreach(s => merged.mergeStatistics(s))
        val bounds =
          if (!merged.hasNonNullValue) Some((None, None))
          else for {
            mn <- footerCanon(merged.genericGetMin, sf.dataType)
            mx <- footerCanon(merged.genericGetMax, sf.dataType)
          } yield (Some(mn), Some(mx))
        bounds.map { case (mn, mx) =>
          sf.name -> ColStats(mn, mx, merged.getNumNulls)
        }
      }
    }.toMap
  }

  /** A footer min/max in the canonical string form; None for a value
    * the pruner must not trust (NaN). */
  private def footerCanon(v: Any, dt: DataType): Option[String] =
    (dt, v) match {
      case (FloatType, x: java.lang.Float) =>
        Some(x.toDouble).filterNot(_.isNaN).map(_.toString)
      case (DoubleType, x: java.lang.Double) =>
        Some(x.doubleValue).filterNot(_.isNaN).map(_.toString)
      case (d: DecimalType, x: java.lang.Number) =>
        Some(java.math.BigDecimal.valueOf(x.longValue, d.scale).toString)
      case (d: DecimalType, x: org.apache.parquet.io.api.Binary) =>
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(x.getBytes), d.scale).toString)
      case (StringType, x: org.apache.parquet.io.api.Binary) =>
        Some(x.toStringUsingUTF8)
      case (ByteType | ShortType | IntegerType | LongType | DateType,
          x: java.lang.Number) => Some(x.longValue.toString)
      case (BooleanType, x: java.lang.Boolean) => Some(x.toString)
      case _ => None
    }

  /** Per-file stats of the TIMESTAMP columns `tsFields` by file name:
    * one group-by-file aggregate over the just-written `abs`, because
    * INT96 timestamps carry no footer bounds. */
  private def timestampStats(spark: SparkSession, abs: Path,
      tsFields: Seq[StructField]): Map[String, Map[String, ColStats]] = {
    val aggs = tsFields.flatMap { sf =>
      val c = canonCol(sf.name, TimestampType)
      Seq(min(c), max(c), sum(when(col(sf.name).isNull, 1L).otherwise(0L)))
    }
    spark.read.schema(StructType(tsFields)).parquet(abs.toString)
      .groupBy(input_file_name().as("__vt_file"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        new Path(r.getString(0)).getName -> tsFields.zipWithIndex.map {
          case (sf, i) =>
            sf.name -> ColStats(Option(r.get(1 + i * 3)).map(statEncode),
              Option(r.get(2 + i * 3)).map(statEncode), r.getLong(3 + i * 3))
        }.toMap
      }.toMap
  }

  /** Write a commit's row-level change set (table columns +
    * `_change_type`) under changes/<uuid>/ and return the rel paths of
    * its non-empty files — none for an empty change set, whose files
    * are dropped by their footers' row counts. Like data files:
    * written BEFORE the manifest publish, so a torn write leaves only
    * an orphan dir ([[vacuum]] sweeps it). */
  private[sources] def writeChangeData(spark: SparkSession, root: String,
      df: DataFrame): Seq[String] = {
    val sub = s"changes/${java.util.UUID.randomUUID()}"
    df.write.parquet(new Path(root, sub).toString)
    writtenFiles(spark, root, sub).map(_._1)
  }

  /** Row-level change set of a copy-on-write rewrite as a multiset
    * diff: rows of the rewritten files that did not survive →
    * `delete`, rows of the replacement that were not there before →
    * `insert`. An update is a delete+insert pair of the same key; a
    * rewrite that reproduces a row byte-identically emits nothing for
    * it — the minimal true row delta, computed on REWRITE-bounded data
    * (never the table). Delta's CDF refines this with
    * update_pre/postimage labels; consumers that need the pairing
    * join delete×insert on the key. */
  // private[sources] so a spec can pin it against exceptAll at a
  // multiplicity no array-building replication would survive
  private[sources] def changeDiff(before: DataFrame,
      after: DataFrame): DataFrame = {
    // ONE pass over both sides (guide §2.1/§2.3): tag-and-count both
    // multisets in a single aggregate instead of two exceptAll subplans
    // (Spark plans each exceptAll as its own union+aggregate+replicate,
    // so the old form scanned BOTH inputs twice and shuffled twice).
    // Same multiset out: groupBy's null/NaN key equality matches
    // exceptAll's, and |nb−na| copies of each row replicate through
    // `repeat_rows` ([[graft.functions.RepeatRows]]), which streams the
    // copies instead of building an array of them.
    val cols = before.columns.toSeq
    def fresh(base: String): String = {
      var n = base
      while (cols.contains(n)) n += "_"
      n
    }
    val (nb, na) = (fresh("__cd_nb"), fresh("__cd_na"))
    val counts = before.withColumn(nb, lit(1L)).withColumn(na, lit(0L))
      .unionByName(after.withColumn(nb, lit(0L)).withColumn(na, lit(1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col(nb)).as(nb), sum(col(na)).as(na))
      .filter(col(nb) =!= col(na))
    counts.select(call_function("repeat_rows",
        (greatest(col(nb) - col(na), col(na) - col(nb)) +: cols.map(col) :+
          when(col(nb) > col(na), lit("delete")).otherwise(lit("insert"))): _*)
      .as(cols :+ "_change_type"))
  }

  /** Loud type guard for every write path that aligns by NAME: a
    * source column whose type differs from the table schema would
    * write parquet files the manifest schema cannot read back (the
    * commit "succeeds", every later scan throws) — or, through a merge
    * rewrite's when/otherwise coercion, silently widen pre-existing
    * rows. Same stance as [[appendEvolve]]'s shared-column check. */
  /** `dt` with every nesting level nullable — the canonical form
    * manifests store ([[create]]). Parquet readback is always nullable
    * (element/value presence is per-file, not per-schema), so a
    * stored `containsNull = false` array would make every
    * copy-on-write cast refuse on its own data; normalizing at create
    * (the Delta stance) keeps casts and conformance checks about
    * TYPES, never about in-memory nullability flags. */
  private def nullableOf(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(nullableOf(et), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullableOf(k), nullableOf(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = nullableOf(f.dataType), nullable = true)))
    case other => other
  }

  private[sources] def nullableSchema(schema: StructType): StructType =
    nullableOf(schema).asInstanceOf[StructType]

  private def requireConforms(df: DataFrame, schema: StructType,
      context: String): Unit = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    schema.fields.foreach { f =>
      types.get(f.name).foreach { dt =>
        require(nullableOf(dt) == nullableOf(f.dataType),
          s"$context: column '${f.name}' is ${f.dataType.catalogString} " +
            s"in the table but ${dt.catalogString} in the source — cast " +
            "explicitly (types never coerce silently into a snapshot)")
      }
    }
  }

  // ---- CHECK / NOT NULL constraints -------------------------------------
  //
  // Constraints ride the manifest meta (`_check.<name>=<sql>`), so they
  // move atomically with the data, version with the table (time travel
  // sees the constraints of its snapshot), and replicate with meta
  // propagation. Enforcement is Delta's: every commit's NEW rows are
  // validated (ANSI CHECK semantics — NULL passes, FALSE refuses) by
  // ONE fused set of counts over the commit-bounded delta, never the
  // table — tapped onto the write's own action ([[writeChecked]]);
  // existing data is validated once, at addConstraint time.

  private val CheckKeyPrefix = "_check."

  /** The table's CHECK constraints at version `v` (name → SQL). */
  def constraints(spark: SparkSession, root: String,
      v: Option[Long] = None): Map[String, String] =
    snapshot(spark, root, v).meta.collect {
      case (k, sql) if k.startsWith(CheckKeyPrefix) =>
        k.stripPrefix(CheckKeyPrefix) -> sql
    }

  private def constraintChecks(meta: Map[String, String],
      schema: StructType): Seq[(String, Column)] =
    meta.toSeq.collect {
      case (k, sql) if k.startsWith(CheckKeyPrefix) =>
        k.stripPrefix(CheckKeyPrefix) -> expr(sql)
    }.sortBy(_._1)

  /** Per constraint, the count of rows it refuses, named after it. */
  private def violationCounts(checks: Seq[(String, Column)]): Seq[Column] =
    checks.map { case (name, c) =>
      sum(when(coalesce(c.cast("boolean"), lit(true)) === false, 1L)
        .otherwise(0L)).as(name)
    }

  /** Refuse, naming the first violated constraint and its row count;
    * `bad(name)` is that constraint's count (NULL over no rows). */
  private def refuseViolations(checks: Seq[(String, Column)],
      bad: String => Any, meta: Map[String, String],
      context: String): Unit =
    checks.foreach { case (name, _) =>
      val n = Option(bad(name)).fold(0L)(_.asInstanceOf[Long])
      require(n == 0L,
        s"$context: $n row(s) violate CHECK constraint '$name' " +
          s"(${meta(CheckKeyPrefix + name)}) — nothing was committed")
    }

  /** Refuse loudly if any row of `df` violates a `_check.*` constraint
    * in `meta` — one aggregate, all constraints fused (the
    * Expectations single-pass style). No-op when no constraints exist. */
  private def requireConstraints(df: DataFrame, meta: Map[String, String],
      schema: StructType, context: String): Unit = {
    val checks = constraintChecks(meta, schema)
    if (checks.isEmpty) return
    val aggs = violationCounts(checks)
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    refuseViolations(checks, n => r.getAs[Any](n), meta, context)
  }

  /** [[writeData]] with the constraints in `meta` checked on the
    * write's own action: an `observe` tap counts each constraint's
    * violating rows as the files are written, read once the write has
    * returned. A violation refuses with [[requireConstraints]]'s
    * message and deletes the written directory, so nothing is
    * published. */
  private def writeChecked(spark: SparkSession, root: String,
      df: DataFrame, meta: Map[String, String], schema: StructType,
      context: String, phys: Map[String, String]): Seq[FileEntry] = {
    val checks = constraintChecks(meta, schema)
    if (checks.isEmpty) return writeData(spark, root, df, phys)
    val aggs = violationCounts(checks)
    val tap = org.apache.spark.sql.Observation()
    val entries = writeData(spark, root,
      df.observe(tap, aggs.head, aggs.tail: _*), phys)
    val counts = tap.get
    try refuseViolations(checks, counts, meta, context)
    catch { case e: IllegalArgumentException =>
      entries.headOption.foreach { e0 =>
        val dir = new Path(root, e0.rel).getParent
        fs(spark, dir).delete(dir, true)
      }
      throw e
    }
    entries
  }

  /** ALTER TABLE ADD CONSTRAINT (Delta CHECK constraints): validate
    * the CURRENT snapshot against `sql` (one scan; any violating row
    * refuses), then commit the constraint as table meta — files
    * unchanged, every subsequent write validates its new rows against
    * it. NOT NULL is the special case `col IS NOT NULL`. The SQL must
    * resolve against the table schema (checked loudly here, not at
    * first write). */
  def addConstraint(spark: SparkSession, root: String, name: String,
      sql: String): Long = {
    require(name.nonEmpty && !name.exists(c =>
        c == '=' || c == '\n' || c == '\r' || c.isWhitespace),
      s"bad constraint name '$name'")
    val m = snapshot(spark, root)
    require(!m.meta.contains(CheckKeyPrefix + name),
      s"constraint '$name' already exists — drop it first")
    // resolve against the schema without a job: analysis of a dummy
    // filter throws on unknown columns / unparseable SQL
    resolvedConjuncts(spark, m.schema, expr(sql))
    val candidate = m.meta + (CheckKeyPrefix + name -> sql)
    requireConstraints(scanLive(spark, root, m.schema, m.files, m.dvs,
        physMapOf(m.meta)),
      candidate, m.schema, s"addConstraint '$name'")
    commit(spark, root, Some(m), m.schema, m.files, candidate, dvs = m.dvs,
      op = "ADD CONSTRAINT")
  }

  /** ALTER TABLE DROP CONSTRAINT: meta-only commit. */
  def dropConstraint(spark: SparkSession, root: String,
      name: String): Long = {
    val m = snapshot(spark, root)
    require(m.meta.contains(CheckKeyPrefix + name),
      s"no constraint '$name' on $root")
    commit(spark, root, Some(m), m.schema, m.files,
      m.meta - (CheckKeyPrefix + name), dvs = m.dvs,
      op = "DROP CONSTRAINT")
  }

  /** Create the table at `root` with `df` as version 1. `meta`
    * entries (Delta table-properties shape) ride the first manifest
    * atomically — a consumer that needs its definition and its data
    * to appear together ([[MaterializedView]]) never observes one
    * without the other. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty): Long = {
    require(currentVersion(spark, root).isEmpty,
      s"$root already holds a versioned table")
    commit(spark, root, None, nullableSchema(df.schema),
      writeData(spark, root, df), meta = meta, op = "CREATE")
  }

  /** CREATE OR REPLACE semantics: the next version holds exactly `df`
    * with `meta` REPLACING the previous meta (a rebuild's watermark /
    * definition reset must not inherit stale keys), schema changes
    * allowed. Prior versions stay time-travelable until [[vacuum]];
    * change-feed consumers refuse to cross a replace, loudly (every
    * file is rewritten without row-level capture) — a replace is a
    * new table generation, not a delta. */
  def replace(spark: SparkSession, root: String, df: DataFrame,
      meta: Map[String, String] = Map.empty): Long = {
    val base = currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"$root: no versioned table to replace — use create"))
    commit(spark, root, Some(readManifest(spark, root, base)),
      nullableSchema(df.schema),
      writeData(spark, root, df), meta = meta, op = "REPLACE")
  }

  /** The snapshot a reader pins: resolve the manifest once, scan only
    * its files. `version = None` → latest; `Some(v)` → time travel. */
  def read(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val m = snapshot(spark, root, version)
    scanLive(spark, root, m.schema, m.files, m.dvs, physMapOf(m.meta))
  }

  /** Timestamp time travel (Delta `timestampAsOf`): the snapshot
    * current as of `tsMillis` — the highest version whose commit
    * stamp (`meta _ts`, written by every commit) is ≤ the asked
    * instant. Refuses an instant before the table existed. Resolution
    * is one manifest-dir listing plus one manifest HEADER read per
    * probed version, newest first — O(versions since ts), not
    * O(files). */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    history(spark, root)
      .find(_.meta.get(CommitTsKey).forall(_.toLong <= tsMillis)) match {
      case Some(m) =>
        scanLive(spark, root, m.schema, m.files, m.dvs, physMapOf(m.meta))
      case None => throw new IllegalArgumentException(
        s"$root: no version existed at timestamp $tsMillis " +
          "(before the table's first commit, or its history was vacuumed)")
    }

  /** RESTORE TO VERSION (Delta `RESTORE`): commit a NEW version whose
    * content is snapshot `v` — history moves forward, nothing is
    * erased, and time travel still reads every intermediate state.
    * Zero data movement: the new manifest re-references `v`'s files
    * (immutable, still on disk as long as vacuum keeps version `v`).
    * Refuses if `v`'s files were already vacuumed away. */
  def restore(spark: SparkSession, root: String, v: Long): Long = {
    val cur = snapshot(spark, root)
    val m = readManifest(spark, root, v) // throws if vacuumed
    val f = fs(spark, new Path(root))
    // existence via ONE listing per referenced data dir, not one
    // exists RPC per file — O(dirs), which survives 1M-file tables
    m.files.groupBy(e => new Path(root, e.rel).getParent)
      .foreach { case (dir, entries) =>
        val present: Set[String] =
          if (!f.exists(dir)) Set.empty
          else f.listStatus(dir).map(_.getPath.getName).toSet
        entries.foreach { e =>
          require(present.contains(new Path(e.rel).getName),
            s"restore: $root v$v references vacuumed file ${e.rel}")
        }
      }
    m.dvs.values.map(_._1).toSet[String].foreach { d =>
      require(f.exists(new Path(root, d)),
        s"restore: $root v$v references vacuumed deletion vector $d")
    }
    commit(spark, root, Some(cur), m.schema, m.files, m.meta, dvs = m.dvs,
      op = s"RESTORE v$v")
  }

  /** Scan exactly `entries` under the manifest schema (empty → empty):
    * files are read by their PHYSICAL column names and aliased back to
    * the logical schema (identity unless columns were renamed).
    * `withPos` adds each row's (rel, pos) identity as
    * `__vt_rel`/`__vt_pos`, taken from the file-source metadata. */
  private def scanEntries(spark: SparkSession, root: String,
      schema: StructType, entries: Seq[FileEntry],
      phys: Map[String, String] = Map.empty,
      withPos: Boolean = false): DataFrame = {
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (!withPos) schema
        else schema.add("__vt_rel", StringType).add("__vt_pos", LongType))
    val files = spark.read.schema(physSchema(schema, phys))
      .parquet(entries.map(e => new Path(root, e.rel).toString): _*)
    val scan =
      if (!withPos) files
      else files
        .withColumn("__vt_rel", relOfFilePath(col("_metadata.file_path")))
        .withColumn("__vt_pos", col("_metadata.row_index"))
    if (phys.isEmpty) scan
    else scan.select(schema.fields.toIndexedSeq.map(f =>
      col(graft.dag.DataFlowExec.bq(physOf(phys)(f.name))).as(f.name)) ++
      (if (withPos) Seq(col("__vt_rel"), col("__vt_pos")) else Nil): _*)
  }

  // ---- deletion vectors: merge-on-read row deletes ----------------------
  //
  // A deletion vector is a parquet dir under deletes/<uuid>/ holding
  // (file: data-file rel, pos: parquet row index) — the rows a reader
  // must subtract from that file's scan (Delta deletion vectors /
  // Iceberg position deletes). Row identity is `_metadata.row_index`,
  // the physical position in the immutable parquet file. DVs ride the
  // manifest per version, so time travel to a pre-delete version reads
  // the undeleted rows for free, and any COW rewrite of a file retires
  // its DV with it.

  /** Broadcast the DV side of the read anti-join below this many
    * deleted rows (manifest-recorded, so the decision costs no job);
    * above it the anti-join shuffles like any other. */
  private val DvBroadcastRows = 2L * 1000 * 1000

  /** Manifest rel of a scanned row's file, from the file-source
    * metadata path: data files live at data/<uuid>/<part>.parquet, so
    * the rel IS the last three path segments. */
  private def relOfFilePath(c: Column): Column =
    concat_ws("/", slice(split(c, "/"), -3, 3))

  /** The STABLE file identity deletion-vector rows are keyed by: the
    * last three path segments (`data/<uuid>/<part>.parquet`) — equal
    * to the manifest rel for owned files and to the tail of an
    * absolute BORROWED ref (shallow clone), and exactly what
    * [[relOfFilePath]] extracts at scan time. uuid dirs make cross-
    * table collisions structurally negligible. */
  private def dvFileId(rel: String): String = {
    val p = new Path(rel)
    s"${p.getParent.getParent.getName}/${p.getParent.getName}/${p.getName}"
  }

  /** The deletion-vector rows governing `entries`, plus their total
    * count. A dv DIR may hold positions for files whose authoritative
    * DV has since moved on (each MOR delete rewrites the touched
    * files' complete position sets into a fresh dir) — so each dir is
    * filtered to the files that point AT it. */
  private def dvRows(spark: SparkSession, root: String,
      entries: Seq[FileEntry],
      dvs: Map[String, (String, Long)]): Option[(DataFrame, Long)] = {
    val live = entries.flatMap(e =>
      dvs.get(e.rel).map { case (d, n) => (e.rel, d, n) })
    if (live.isEmpty) return None
    val frames = live.groupBy(_._2).toSeq.sortBy(_._1).map { case (dir, fs) =>
      spark.read.parquet(new Path(root, dir).toString)
        .filter(col("file").isin(fs.map(x => dvFileId(x._1)): _*))
    }
    Some((frames.reduce(_ unionByName _), live.map(_._3).sum))
  }

  /** Scan `entries` with each row's (rel, pos) identity as
    * `__vt_rel`/`__vt_pos`, deletion vectors applied — the discovery
    * scan of [[deleteWhereMor]]. */
  private def scanWithPos(spark: SparkSession, root: String,
      schema: StructType, entries: Seq[FileEntry],
      dvs: Map[String, (String, Long)],
      phys: Map[String, String] = Map.empty): DataFrame = {
    val scan = scanEntries(spark, root, schema, entries, phys, withPos = true)
    dvRows(spark, root, entries, dvs) match {
      case None => scan
      case Some((dv, nDel)) =>
        val dvSide0 = dv.select(col("file").as("__dv_rel"),
          col("pos").as("__dv_pos"))
        val dvSide =
          if (nDel <= DvBroadcastRows) broadcast(dvSide0) else dvSide0
        scan.join(dvSide,
          scan("__vt_rel") === dvSide("__dv_rel") &&
            scan("__vt_pos") === dvSide("__dv_pos"), "left_anti")
    }
  }

  /** Scan `entries` applying deletion vectors: DV-free files keep the
    * plain vectorized scan; DV'd files scan minus their recorded
    * positions via one left-anti join on (rel, row_index). The DV side
    * broadcasts when small (the common point-delete case) — the read
    * cost of an unmaterialized delete is one broadcast hash anti-join,
    * not a shuffle. */
  private def scanLive(spark: SparkSession, root: String,
      schema: StructType, entries: Seq[FileEntry],
      dvs: Map[String, (String, Long)],
      phys: Map[String, String] = Map.empty): DataFrame = {
    val (dvd, clean) = entries.partition(e => dvs.contains(e.rel))
    if (dvd.isEmpty) return scanEntries(spark, root, schema, entries, phys)
    val cols = schema.fieldNames.toIndexedSeq
      .map(n => col(graft.dag.DataFlowExec.bq(n)))
    val liveRows = scanWithPos(spark, root, schema, dvd, dvs, phys)
      .select(cols: _*)
    if (clean.isEmpty) liveRows
    else scanEntries(spark, root, schema, clean, phys).unionByName(liveRows)
  }

  // ---- data skipping: prune the file list from a predicate --------------
  //
  // `readWhere(root, pred)` resolves `pred` against the manifest schema
  // (one driver-side analysis of a dummy filter — no job), splits it
  // into conjuncts, and drops every file whose stats PROVE no row can
  // match (Delta data skipping / Iceberg manifest filtering). Pruning
  // is strictly conservative: an unrecognized conjunct, a stats-less
  // column, or an unparseable bound keeps the file, and the full
  // predicate is re-applied on the scan — correctness never depends on
  // the pruner. At 100 TB this is the difference between listing and
  // opening every file of a table and touching only the commits whose
  // ranges overlap the question.

  import org.apache.spark.sql.catalyst.{expressions => cexp}

  private def splitAnd(e: cexp.Expression): Seq[cexp.Expression] = e match {
    case cexp.And(l, r) => splitAnd(l) ++ splitAnd(r)
    case x => Seq(x)
  }

  /** Resolve a user predicate against `schema` without touching data:
    * analyze `emptyDF.filter(pred)` (the ANALYZED plan keeps the
    * Filter; the optimizer would fold it away over a LocalRelation)
    * and return its conjuncts with resolved attributes and
    * type-coerced literals. */
  private def resolvedConjuncts(spark: SparkSession, schema: StructType,
      pred: Column): Seq[cexp.Expression] = {
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    dummy.filter(pred).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        splitAnd(f.condition)
    }.flatten
  }

  /** Value-preserving widenings whose Cast may be stripped off the
    * attribute side of a comparison: the canonical domain compares
    * exact values, so only EXACT casts qualify (long→double is lossy
    * past 2^53 and excluded; date→timestamp changes the epoch scale). */
  private def exactWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | FloatType |
            DoubleType) => true
      case (ShortType, IntegerType | LongType | FloatType | DoubleType) =>
        true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale
      case (ByteType | ShortType | IntegerType | LongType, t: DecimalType) =>
        t.precision - t.scale >= 20
      case _ => false
    }

  private def attrNameOf(e: cexp.Expression): Option[String] = e match {
    case a: cexp.AttributeReference => Some(a.name)
    case c: cexp.Cast => c.child match {
      case a: cexp.AttributeReference
          if exactWidening(a.dataType, c.dataType) => Some(a.name)
      case _ => None
    }
    case _ => None
  }

  /** Evaluate a foldable (post-coercion) literal side to its internal
    * value + type. */
  private def litOf(e: cexp.Expression): Option[(Any, DataType)] = {
    // current_timestamp()/current_date() ARE foldable-evaluable here,
    // but prune-time and execution-time values differ (the re-applied
    // filter evaluates later) — folding them could prune files whose
    // rows satisfy the executed predicate. Time-varying terms never
    // prune.
    val timeVarying = e.exists {
      case _: cexp.CurrentTimestampLike | _: cexp.CurrentDate => true
      case _ => false
    }
    if (e.foldable && !timeVarying)
      Some((e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
        e.dataType))
    else None
  }

  /** Internal literal value → comparison domain: BigDecimal for every
    * numeric/date/timestamp (exact, no cross-width rounding), String,
    * or Boolean. None = not comparable (NaN/Inf, exotic type). */
  private def litDomain(v: Any, dt: DataType): Option[Any] = {
    if (v == null) return None
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType =>
        Some(new java.math.BigDecimal(v.asInstanceOf[Number].longValue()))
      case FloatType =>
        val d = v.asInstanceOf[Float].toDouble
        if (d.isNaN || d.isInfinite) None
        else Some(new java.math.BigDecimal(d))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None
        else Some(new java.math.BigDecimal(d))
      case _: DecimalType => v match {
        // internal (Catalyst literal) and external (collected Row) forms
        case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
        case d: java.math.BigDecimal => Some(d)
        case _ => None
      }
      case StringType => Some(v.toString)
      case BooleanType => Some(v.asInstanceOf[Boolean])
      case _ => None
    }
  }

  /** Canonical-encoded manifest stat → the same comparison domain,
    * driven by the COLUMN's schema type. */
  private def statDomain(s: String, dt: DataType): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | _: DecimalType =>
      Some(new java.math.BigDecimal(s))
    case FloatType | DoubleType =>
      val d = java.lang.Double.parseDouble(s)
      if (d.isNaN || d.isInfinite) None else Some(new java.math.BigDecimal(d))
    case StringType => Some(s)
    case BooleanType => Some(s.toBoolean)
    case _ => None
  }

  /** Spark orders strings by UTF-8 BYTES (UTF8String.compareTo), not
    * Java's UTF-16 code units — the two diverge for any string mixing
    * supplementary-plane characters (surrogate pairs sort HIGH in
    * UTF-16 but their UTF-8 bytes start 0xF0 < 0xEF..) with U+E000..
    * U+FFFF. min/max stats come from Spark, so pruning must compare
    * the way Spark ordered them or it wrongly drops matching files. */
  private def utf8Cmp(a: String, b: String): Int = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def domCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case (x: String, y: String) => Some(utf8Cmp(x, y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** Could a value in the file's [min, max] for a column (stats `cs`,
    * type `dt`) satisfy `col OP lit`? True on any doubt; a file with no
    * non-null value (no min) satisfies no comparison. One range test
    * per operator, `attr OP lit` form, read off the literal's order
    * against the file's bounds. */
  private def rangeMayMatch(cs: ColStats, dt: DataType,
      lit: (Any, DataType), op: String): Boolean = cs.min match {
    case None => false
    case Some(mnS) =>
      (for {
        lv <- litDomain(lit._1, lit._2)
        mn <- statDomain(mnS, dt)
        mx <- cs.max.flatMap(statDomain(_, dt))
        cMin <- domCmp(lv, mn)
        cMax <- domCmp(lv, mx)
      } yield op match {
        case "=" | "<=>" => cMin >= 0 && cMax <= 0
        case "<" => cMin > 0 // need min < lit
        case "<=" => cMin >= 0
        case ">" => cMax < 0 // need max > lit
        case ">=" => cMax <= 0
        case _ => true
      }).getOrElse(true)
  }

  /** `lit OP attr` read as `attr OP' lit`. */
  private def mirrored(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
    case sym => sym
  }

  /** Can `entry` possibly contain a row satisfying `conjunct`? True on
    * any doubt. `schema` supplies column types for stat decoding. */
  private def mayContain(entry: FileEntry, conjunct: cexp.Expression,
      schema: StructType,
      phys: Map[String, String] = Map.empty): Boolean = {
    // stats are keyed by PHYSICAL column name (frozen at write);
    // predicate attrs are logical — map through the column mapping
    def statsOf(name: String): Option[ColStats] =
      entry.stats.get(physOf(phys)(name))
    def inRange(name: String, lit: (Any, DataType), op: String): Boolean =
      (for {
        cs <- statsOf(name)
        dt <- schema.fields.find(_.name == name).map(_.dataType)
      } yield rangeMayMatch(cs, dt, lit, op)).getOrElse(true)
    conjunct match {
      case c: cexp.BinaryComparison =>
        val attrOpLit =
          (attrNameOf(c.left), litOf(c.right), attrNameOf(c.right),
            litOf(c.left)) match {
            case (Some(n), Some(v), _, _) => Some((n, c.symbol, v))
            case (_, _, Some(n), Some(v)) => Some((n, mirrored(c.symbol), v))
            case _ => None
          }
        attrOpLit match {
          case Some((n, "<=>", (null, _))) => // attr <=> NULL: needs a null
            statsOf(n).forall(_.nulls > 0)
          case Some((n, op, v)) => v._1 != null && inRange(n, v, op)
          case None => true
        }
      // the analyzed plan keeps BETWEEN as a node whose coerced form is
      // `input >= lower AND input <= upper` over a common-expression
      // reference to `input`: inline the reference and test that
      case b: cexp.Between => b.replacement match {
        case cexp.With(body, defs) =>
          val byId = defs.map(d => d.id -> d.child).toMap
          mayContain(entry, body.transform {
            case r: cexp.CommonExpressionRef if byId.contains(r.id) =>
              byId(r.id)
          }, schema, phys)
        case other => mayContain(entry, other, schema, phys)
      }
      case cexp.In(a, lits) =>
        attrNameOf(a) match {
          case Some(n) if lits.forall(_.foldable) =>
            // a foldable member litOf refuses is TIME-VARYING
            // (current_date()/current_timestamp()): its execution-time
            // value is unknown at prune time, so the file must be kept
            // — dropping the member (the old flatMap) could prune a
            // file whose rows match only that value
            val resolved = lits.map(litOf)
            if (resolved.contains(None)) true
            else {
              val vs = resolved.flatten.filter(_._1 != null)
              // all-null IN list never matches; otherwise any member
              // in range keeps the file
              vs.exists(v => inRange(n, v, "="))
            }
          case _ => true
        }
      case cexp.IsNull(a) =>
        attrNameOf(a) match {
          case Some(n) => statsOf(n).forall(_.nulls > 0)
          case None => true
        }
      case cexp.IsNotNull(a) =>
        attrNameOf(a) match {
          case Some(n) => statsOf(n).forall(cs =>
            cs.min.nonEmpty || entry.rows < 0)
          case None => true
        }
      // disjunctions recurse: a file may match (l OR r) iff it may
      // match either side — this is what lets an OR-of-BETWEENs id
      // cover ([[graft.ext.IdPredicate]], the index re-rank reads)
      // prune exactly like the id list it compresses. Nested ANDs
      // (the BETWEEN pairs inside each OR arm) recurse conservatively
      // the same way; top-level ANDs were already split by
      // [[splitAnd]] before reaching here.
      case cexp.Or(l, r) =>
        mayContain(entry, l, schema, phys) ||
          mayContain(entry, r, schema, phys)
      case cexp.And(l, r) =>
        mayContain(entry, l, schema, phys) &&
          mayContain(entry, r, schema, phys)
      case _ => true
    }
  }

  /** The pruning rule for `pred`: keeps a file entry unless its stats
    * prove no row matches. Serializable, so it also runs as a
    * distributed filter over a checkpoint. */
  private def mayMatch(spark: SparkSession, schema: StructType, pred: Column,
      phys: Map[String, String]): FileEntry => Boolean = {
    val conjuncts = resolvedConjuncts(spark, schema, pred)
    e => conjuncts.forall(c => mayContain(e, c, schema, phys))
  }

  /** Prune a version's file list for `pred` WITHOUT materializing a
    * checkpointed table's entry list on the driver: the per-file
    * [[mayContain]] evaluation runs as a distributed filter over the
    * checkpoint parquet (conjuncts and schema ship in the closure —
    * Catalyst expressions are case classes, hence serializable), and
    * only the KEPT entries come back, bounded by the predicate's
    * selectivity instead of the table's file count. Small
    * un-checkpointed tables prune driver-side as before; an
    * unserializable conjunct falls back the same way (pruning is an
    * optimization — both paths are exact). */
  private def prunedEntriesOf(spark: SparkSession, root: String,
      m: Manifest, pred: Column): Seq[FileEntry] = {
    val keep = mayMatch(spark, m.schema, pred, physMapOf(m.meta))
    m.cp match {
      case None => m.files.filter(keep)
      case Some(cpRel) =>
        val removes = m.removes
        val fromCp =
          try checkpointDs(spark, root, cpRel)
            .filter((e: FileEntry) => !removes.contains(e.rel) && keep(e))
            .collect().toSeq
          catch { case _: org.apache.spark.SparkException =>
            readCheckpoint(spark, root, cpRel)
              .filter(e => !removes.contains(e.rel) && keep(e))
          }
        fromCp ++ m.adds.filter(keep)
    }
  }

  /** Snapshot read with manifest-level data skipping: scan only the
    * files whose stats admit a match for `pred`, then apply the full
    * predicate on the scan (pruning can only remove certain-miss
    * files, never change the answer). */
  def readWhere(spark: SparkSession, root: String, pred: Column,
      version: Option[Long] = None): DataFrame = {
    val m = snapshot(spark, root, version)
    scanLive(spark, root, m.schema,
      prunedEntriesOf(spark, root, m, pred), m.dvs,
      physMapOf(m.meta)).filter(pred)
  }

  /** SHALLOW CLONE (Delta `CLONE`): create `dst` as a ZERO-COPY fork
    * of `src`'s current (or pinned) snapshot — dst's first manifest
    * references the source's data files and deletion vectors by
    * ABSOLUTE path; not one data byte moves, at 100 TB as at 100 MB.
    * Writes to the clone land in the clone: a COW rewrite of a
    * borrowed file writes a clone-owned replacement and drops the
    * borrowed ref, so compact/clusterBy materialize the clone and cut
    * the dependency. The source is never touched, and the clone's
    * [[vacuum]] never deletes borrowed (absolute) refs — but the
    * borrowed refs pin source FILES, not the source's manifest:
    * vacuuming the SOURCE below the cloned snapshot breaks the clone,
    * exactly Delta's shallow-clone contract. Same-filesystem only
    * (refs are scheme-less absolute paths). */
  def cloneTable(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): Long = {
    require(currentVersion(spark, dst).isEmpty,
      s"$dst already holds a versioned table")
    val m = snapshot(spark, src, version)
    val srcFs = fs(spark, new Path(src))
    def abs(rel: String): String =
      if (new Path(rel).isAbsolute) rel
      else srcFs.makeQualified(new Path(src, rel)).toUri.getPath
    val borrowed = m.files.map(e => e.copy(rel = abs(e.rel)))
    val dvs = m.dvs.map { case (fr, (dr, n)) => abs(fr) -> (abs(dr), n) }
    // table meta (constraints, column mapping) forks with the data;
    // streaming batch watermarks do NOT — the clone is a new table
    // whose ingestion history starts here
    val forked = m.meta.filterNot(_._1.startsWith("stream."))
    commit(spark, dst, None, m.schema, borrowed, forked, dvs = dvs,
      op = s"CLONE $src v${m.version}")
  }

  /** DESCRIBE HISTORY: one row per surviving version, newest first —
    * (version, op, commit_ts millis, file_count, dv_rows,
    * change_capture: "cdf" | "none" | "derivable"). Every commit
    * stamps its operation (`meta _op`), so the table carries its own
    * provenance: what produced each snapshot, when, and whether its
    * row delta is replayable. Reads manifest HEADERS only —
    * O(versions), never O(files) (checkpointed file counts come from
    * the manifest arithmetic, not the list). */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    val rows = history(spark, root).map { m =>
      val capture =
        if (m.cdfNone) "none"
        else if (m.changeFiles.nonEmpty) "cdf"
        else "derivable"
      (m.version, m.meta.getOrElse(OpKey, "WRITE"),
        m.meta.get(CommitTsKey).map(_.toLong).getOrElse(0L),
        m.fileCount, m.dvs.values.map(_._2).sum, capture)
    }.toIndexedSeq
    import spark.implicits._
    rows.toDF("version", "op", "commit_ts", "file_count", "dv_rows",
      "change_capture")
  }

  /** The version's data-file rels — read-only layout metadata
    * (DESCRIBE DETAIL-ish), the audit a caller asserts rewrite
    * behavior with. */
  def fileList(spark: SparkSession, root: String, v: Long): Seq[String] =
    readManifest(spark, root, v).files.map(_.rel)

  /** data-file rel → deleted-row count for the version's deletion
    * vectors — the audit a caller asserts merge-on-read behavior with. */
  def deleteVectorProfile(spark: SparkSession, root: String,
      v: Long): Map[String, Long] =
    readManifest(spark, root, v).dvs.map { case (rel, (_, n)) => rel -> n }

  /** (files the pruner keeps for `pred`, total files) — the audit a
    * caller asserts data skipping with. */
  def pruneProfile(spark: SparkSession, root: String, pred: Column,
      version: Option[Long] = None): (Int, Int) = {
    val m = snapshot(spark, root, version)
    (prunedEntriesOf(spark, root, m, pred).size, m.fileCount.toInt)
  }

  /** Predicate-granular copy-on-write core: rewrite only the files the
    * stats pruner cannot clear for `pred`; carry the rest untouched. */
  private def cowWhere(spark: SparkSession, root: String, pred: Column,
      cdf: Boolean = false, op: String = "WRITE")(
      rebuild: DataFrame => DataFrame): Long = {
    val m = snapshot(spark, root)
    val touched =
      m.files.filter(mayMatch(spark, m.schema, pred, physMapOf(m.meta)))
    if (touched.isEmpty) return m.version // provably nothing matches
    cowTail(spark, root, m, touched, m.meta, cdf, op,
      "copy-on-write rewrite")(rebuild)
  }

  /** The tail every copy-on-write commit shares: rebuild the live rows
    * of the `rewrite` files (deletion vectors applied) into their
    * replacement, write it cast to the table schema, capture the
    * row-level change set when `cdf`, and publish it beside the
    * carried files, retiring the rewritten files' deletion vectors.
    * `context` names the write in a constraint refusal. */
  private def cowTail(spark: SparkSession, root: String, m: Manifest,
      rewrite: Seq[FileEntry], meta: Map[String, String], cdf: Boolean,
      op: String, context: String)(rebuild: DataFrame => DataFrame): Long = {
    val phys = physMapOf(m.meta)
    val rels = rewrite.map(_.rel).toSet
    val before = scanLive(spark, root, m.schema, rewrite, m.dvs, phys)
    // written straight from the rebuild plan, constraints tapped onto
    // the same action: no probe and nothing cached. An empty rebuild is
    // the write whose footers report 0 rows — it yields no entries.
    val newEntries = writeChecked(spark, root,
      rebuild(before).select(m.schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*),
      m.meta, m.schema, context, phys)
    // the change set is written the same way and dropped by its
    // footers when empty; such a commit publishes `cdf none`
    val change =
      if (!cdf) Seq.empty
      else writeChangeData(spark, root, changeDiff(before,
        scanEntries(spark, root, m.schema, newEntries, phys)))
    commit(spark, root, Some(m), m.schema,
      m.files.filterNot(e => rels.contains(e.rel)) ++ newEntries, meta,
      changeFiles = change, cdfNone = cdf && change.isEmpty,
      dvs = m.dvs -- rels, op = op)
  }

  /** DELETE WHERE pred, file-granular via data skipping: a file whose
    * stats exclude the predicate is carried, not rewritten — at 100 TB
    * a ranged delete rewrites the overlapping commits, not the table.
    * SQL semantics: rows where pred is TRUE go; FALSE/NULL stay.
    * `cdf = true` records the deleted rows as a change set readable
    * through [[readChanges]]. */
  def deleteWhere(spark: SparkSession, root: String, pred: Column,
      cdf: Boolean = false): Long =
    cowWhere(spark, root, pred, cdf, op = "DELETE")(df =>
      df.filter(!coalesce(pred, lit(false))))

  /** DELETE WHERE pred, MERGE-ON-READ: no data file is rewritten — the
    * matched rows' (file, row_index) identities are recorded as a
    * DELETION VECTOR riding the commit, and every reader anti-joins
    * them out ([[scanLive]]). The 100 TB point-delete path: deleting
    * 0.01% of a table writes KBs of positions instead of rewriting GBs
    * of parquet (measured vs [[deleteWhere]] in SCALING.md). Discovery
    * rides the same stats pruning as the COW path; a file whose every
    * physical row is dead (exact row counts from the manifest) is
    * dropped from the snapshot outright. Repeated MOR deletes rewrite
    * the touched files' complete position sets into a fresh dv dir
    * (dirs are immutable, like data files); [[materializeDeletes]] or
    * any COW rewrite of the file folds the DV back into clean parquet.
    * `cdf = true` records the deleted rows for [[readChanges]]; a
    * non-CDF MOR delete makes the feeds refuse, exactly like a non-CDF
    * rewrite. */
  def deleteWhereMor(spark: SparkSession, root: String, pred: Column,
      cdf: Boolean = false): Long = {
    val m = snapshot(spark, root)
    val phys = physMapOf(m.meta)
    val candidates = m.files.filter(mayMatch(spark, m.schema, pred, phys))
    if (candidates.isEmpty) return m.version // provably nothing matches
    // live rows only: a position already in a DV must not re-delete
    // (it would inflate counts and emit phantom CDF deletes)
    val hits = scanWithPos(spark, root, m.schema, candidates, m.dvs,
      phys).filter(pred).persist()
    try {
      // __vt_rel is the stable file ID ([[dvFileId]]) — equal to the
      // manifest rel for owned files, to its tail for borrowed
      // (shallow-clone) absolute refs
      val perId = hits.groupBy(col("__vt_rel"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (perId.isEmpty) return m.version
      val entryById = m.files.map(e => dvFileId(e.rel) -> e).toMap
      val newCounts: Map[String, Long] = perId.map { case (id, n) =>
        id -> (n + m.dvs.get(entryById(id).rel).map(_._2).getOrElse(0L))
      }
      // a file whose DV would cover every physical row carries no live
      // rows — drop it from the snapshot instead of keeping a
      // scan-everything-deleted tombstone
      val (deadIds, partialIds) = newCounts.keySet.partition { id =>
        val rows = entryById(id).rows
        rows >= 0 && newCounts(id) == rows
      }
      val deadRels = deadIds.map(id => entryById(id).rel)
      val change: Seq[String] =
        if (!cdf) Seq.empty
        else writeChangeData(spark, root,
          hits.select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
            .withColumn("_change_type", lit("delete")))
      // every touched file that died whole is a pure file-list shrink;
      // the partially-deleted files' new DV set = their existing
      // positions ∪ the new hits, rewritten whole into one fresh dir
      val newDvs =
        if (partialIds.isEmpty) m.dvs -- deadRels
        else {
        val newPos = hits
          .filter(col("__vt_rel").isin(partialIds.toSeq: _*))
          .select(col("__vt_rel").as("file"), col("__vt_pos").as("pos"))
        val oldDv = dvRows(spark, root,
          m.files.filter(e => partialIds.contains(dvFileId(e.rel))),
          m.dvs).map(_._1)
        val allPos = oldDv
          .map(_.select("file", "pos").unionByName(newPos))
          .getOrElse(newPos)
        val sub = s"deletes/${java.util.UUID.randomUUID()}"
        allPos.repartition(1).write.parquet(new Path(root, sub).toString)
        (m.dvs -- deadRels) ++ partialIds.iterator.map(id =>
          entryById(id).rel -> (sub, newCounts(id))).toMap
      }
      commit(spark, root, Some(m), m.schema,
        m.files.filterNot(e => deadRels.contains(e.rel)), m.meta,
        changeFiles = change, dvs = newDvs, op = "DELETE MOR")
    } finally { hits.unpersist(); () }
  }

  /** Rewrite every file carrying a deletion vector into clean parquet
    * (positions applied) and drop all DVs — the OPTIMIZE step that
    * bounds read-side anti-join work after many MOR deletes (Delta
    * `OPTIMIZE` DV rewrite / Iceberg rewrite_position_delete_files).
    * Live rows are unchanged (cdf none: time travel and the change
    * feed see a pure layout rewrite); `sortCols` keeps a clustered
    * layout clustered, as in [[compact]]. */
  def materializeDeletes(spark: SparkSession, root: String,
      targetPartitions: Int = 1, sortCols: Seq[String] = Seq.empty): Long = {
    require(targetPartitions > 0, "targetPartitions must be positive")
    val m = snapshot(spark, root)
    val dvd = m.files.filter(e => m.dvs.contains(e.rel))
    if (dvd.isEmpty) return m.version
    rewriteLayout(spark, root, m, dvd, "MATERIALIZE DELETES")(
      laidOut(targetPartitions, sortCols))
  }

  /** The layout rewrite every OPTIMIZE-style commit shares: scan the
    * live rows of `rewrite`, lay them out, write them, and publish them
    * beside the carried files as a provably zero-change version (cdf
    * none), retiring the rewritten files' deletion vectors. */
  private def rewriteLayout(spark: SparkSession, root: String, m: Manifest,
      rewrite: Seq[FileEntry], op: String)(
      layout: DataFrame => DataFrame): Long = {
    val phys = physMapOf(m.meta)
    val rels = rewrite.map(_.rel).toSet
    val rows = layout(scanLive(spark, root, m.schema, rewrite, m.dvs, phys))
    commit(spark, root, Some(m), m.schema,
      m.files.filterNot(e => rels.contains(e.rel)) ++
        writeData(spark, root, rows, phys),
      m.meta, cdfNone = true, dvs = m.dvs -- rels, op = op)
  }

  /** `targetPartitions` files, range-clustered and sorted on `sortCols`
    * when given — a plain repartition would interleave the ranges of a
    * clustered table and silently turn data skipping back off. */
  private def laidOut(targetPartitions: Int, sortCols: Seq[String])(
      df: DataFrame): DataFrame =
    if (sortCols.isEmpty) df.repartition(targetPartitions)
    else df.repartitionByRange(targetPartitions, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)

  /** UPDATE ... SET `set` WHERE pred, same file-granular discipline.
    * Each SET expression must resolve to the column's schema type or a
    * value-preserving widening of it ([[exactWidening]]) — anything
    * else refuses loudly, the same "types never coerce silently into a
    * snapshot" stance [[requireConforms]] takes on append/merge (a
    * blind cast would turn e.g. a non-numeric string SET into silent
    * NULLs). Rows where pred is not TRUE keep their values. `cdf =
    * true` records each changed row as a delete+insert pair for
    * [[readChanges]]. */
  def updateWhere(spark: SparkSession, root: String, pred: Column,
      set: Map[String, Column], cdf: Boolean = false): Long = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    cowWhere(spark, root, pred, cdf, op = "UPDATE") { df =>
      val unknown = set.keySet -- df.columns.toSet
      require(unknown.isEmpty, s"SET of unknown column(s): $unknown")
      val hit = coalesce(pred, lit(false))
      df.select(df.schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(v) =>
            val vt = df.select(v).schema.head.dataType
            require(vt == f.dataType || vt == NullType ||
                exactWidening(vt, f.dataType),
              s"updateWhere: SET '${f.name}' resolves to " +
                s"${vt.catalogString} but the column is " +
                s"${f.dataType.catalogString} — cast explicitly (types " +
                "never coerce silently into a snapshot)")
            when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }
  }

  /** Append-only commit: new files, no rewrite, manifest grows. */
  def append(spark: SparkSession, root: String, df: DataFrame): Long = {
    val m = snapshot(spark, root)
    requireConforms(df, m.schema, "append")
    val aligned = df.select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
    commit(spark, root, Some(m), m.schema,
      m.files ++ writeChecked(spark, root, aligned, m.meta, m.schema,
        "append", physMapOf(m.meta)),
      m.meta, dvs = m.dvs, op = "APPEND")
  }

  /** Append with SCHEMA EVOLUTION (Delta `mergeSchema`): columns of
    * `df` the table has never seen are added to the table schema as
    * nullable fields; existing files are carried untouched and read as
    * NULL for the new columns (the manifest schema drives every scan,
    * and a parquet file simply lacks the column). Columns the table
    * has that `df` lacks are filled with NULL. A column present in
    * BOTH must match the stored type exactly — silent type widening
    * corrupts downstream assumptions, so a mismatch refuses loudly.
    * Each version keeps ITS OWN schema: time travel to a pre-evolution
    * version reads the old shape. */
  def appendEvolve(spark: SparkSession, root: String, df: DataFrame): Long = {
    val m = snapshot(spark, root)
    val existing = m.schema.fields.map(f => f.name -> f.dataType).toMap
    df.schema.fields.foreach { f =>
      existing.get(f.name).foreach { dt =>
        require(nullableOf(dt) == nullableOf(f.dataType),
          s"appendEvolve: column '${f.name}' is ${dt.catalogString} in the " +
            s"table but ${f.dataType.catalogString} in the append — type " +
            "evolution is not supported; cast explicitly")
      }
    }
    val added = df.schema.fields.filterNot(f => existing.contains(f.name))
      .map(f => f.copy(dataType = nullableOf(f.dataType), nullable = true))
    val newSchema = StructType(m.schema.fields ++ added)
    // a new logical name whose physical slot was EVER used (a dropped
    // column's bytes, or a name renamed away from) gets a fresh
    // physical — re-adding "score" must not resurrect old "score" data
    val used = usedPhysicals(m.schema, m.meta)
    val newMeta = added.foldLeft(m.meta) { (acc, f) =>
      if (!used.contains(f.name)) acc
      else acc + (PhysKeyPrefix + f.name ->
        s"col-${java.util.UUID.randomUUID().toString.take(8)}")
    }
    val aligned = df.select(newSchema.fieldNames.toIndexedSeq.map { n =>
      if (df.columns.contains(n)) col(n)
      else lit(null).cast(newSchema(n).dataType).as(n)
    }: _*)
    commit(spark, root, Some(m), newSchema,
      m.files ++ writeChecked(spark, root, aligned, newMeta, newSchema,
        "appendEvolve", physMapOf(newMeta)),
      newMeta, dvs = m.dvs, op = "APPEND EVOLVE")
  }

  /** The constraints (by name) whose SQL references column `colName`
    * — rename/drop must refuse while one exists (Delta's stance: the
    * constraint would silently stop binding). */
  private def constraintsReferencing(spark: SparkSession, m: Manifest,
      colName: String): Seq[String] =
    constraintChecks(m.meta, m.schema).collect {
      case (name, c) if resolvedConjuncts(spark, m.schema, c)
        .flatMap(_.collect { case a: cexp.AttributeReference => a.name })
        .contains(colName) => name
    }

  /** ALTER TABLE RENAME COLUMN (Delta column mapping, name mode): a
    * METADATA-ONLY commit — the logical name moves, the physical
    * parquet name (frozen when the column was first written) stays, so
    * no data file, stat, or checkpoint is touched: O(1) at any file
    * count. Time travel reads each version under its own names;
    * constraints referencing the column must be dropped first. */
  def renameColumn(spark: SparkSession, root: String, from: String,
      to: String): Long = {
    require(to.nonEmpty && !to.exists(c => c == '=' || c == '\n' ||
        c == '\r'), s"bad column name '$to'")
    val m = snapshot(spark, root)
    require(m.schema.fieldNames.contains(from),
      s"renameColumn: no column '$from' in ${m.schema.fieldNames.toSeq}")
    require(!m.schema.fieldNames.contains(to),
      s"renameColumn: column '$to' already exists")
    val refs = constraintsReferencing(spark, m, from)
    require(refs.isEmpty,
      s"renameColumn: constraint(s) $refs reference '$from' — drop them " +
        "first (they would silently stop binding)")
    val p = physOf(physMapOf(m.meta))(from)
    val newMeta = m.meta - (PhysKeyPrefix + from) + (PhysKeyPrefix + to -> p)
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    commit(spark, root, Some(m), newSchema, m.files, newMeta, dvs = m.dvs,
      op = "RENAME COLUMN")
  }

  /** ALTER TABLE DROP COLUMN: metadata-only — the logical field leaves
    * the schema, its physical name is retired (never reused, so a
    * later re-add of the same name cannot resurrect old bytes), and
    * the data stays in place for time travel. Constraints referencing
    * the column must be dropped first. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val m = snapshot(spark, root)
    require(m.schema.fieldNames.contains(name),
      s"dropColumn: no column '$name' in ${m.schema.fieldNames.toSeq}")
    require(m.schema.fields.length >= 2,
      "dropColumn: cannot drop the only column")
    val refs = constraintsReferencing(spark, m, name)
    require(refs.isEmpty,
      s"dropColumn: constraint(s) $refs reference '$name' — drop them " +
        "first")
    val p = physOf(physMapOf(m.meta))(name)
    val newMeta = m.meta - (PhysKeyPrefix + name) +
      (PhysDropPrefix + p -> "1")
    val newSchema = StructType(m.schema.fields.filterNot(_.name == name))
    commit(spark, root, Some(m), newSchema, m.files, newMeta, dvs = m.dvs,
      op = "DROP COLUMN")
  }

  /** Shared copy-on-write core: split the current snapshot into the
    * files that contain a key matched by `source` (rewritten) and the
    * rest (carried unchanged into the next manifest), build the
    * replacement rows with `rebuild(affectedRows, source, matchable)`
    * — `matchable` is the stats-pruned candidate scan, an equivalent
    * relation to the full snapshot for any KEY-match purpose (keys
    * outside it provably match nothing) — and commit. Spark part-file
    * names embed a job UUID, so matching manifest entries by file name
    * is exact. */
  private def cowCommit(spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String],
      // evaluated on the base manifest INSIDE the commit attempt, so a
      // meta guard (streaming batch watermark) sees exactly the
      // snapshot the commit builds on; None → already applied, skip
      metaUpdate: Map[String, String] => Option[Map[String, String]] =
        m => Some(m),
      cdf: Boolean = false, op: String = "MERGE")(
      rebuild: (DataFrame, DataFrame, DataFrame) => DataFrame): Long = {
    val m = snapshot(spark, root)
    val nextMeta = metaUpdate(m.meta) match {
      case Some(nm) => nm
      case None => return m.version // idempotent replay: nothing to do
    }
    requireConforms(source, m.schema, "copy-on-write source")
    val srcKeys = source.select(keys.map(col): _*)
    // data skipping on the KEY RANGES of the source: one small agg over
    // the raw source keys (min, max and null count need no dedup)
    // yields per-key min/max + has-null; any
    // file whose stats exclude every source key range provably holds no
    // match and is carried without being SCANNED at all. This prunes
    // both the match-discovery join and the insert anti-join below —
    // a key outside every candidate file cannot match, so the
    // candidates are an equivalent relation for key matching. At
    // 100 TB a merge of one day's keys into a date-clustered table
    // reads one day's files, not the table.
    val candidates: Seq[FileEntry] =
      if (m.files.isEmpty) Seq.empty
      else keyRangePrune(spark, m, srcKeys, keys)
    // the (rel, pos)-carrying scan: file identity must come from the
    // metadata column BEFORE the DV anti-join (input_file_name() is
    // undefined downstream of a join), and the DV application keeps
    // already-deleted rows from re-matching
    val phys = physMapOf(m.meta)
    val matchableP =
      scanWithPos(spark, root, m.schema, candidates, m.dvs, phys)
    val matchable = matchableP
      .select(m.schema.fieldNames.toIndexedSeq.map(col): _*)
    // rows matched per file → distinct stable file IDs ([[dvFileId]] —
    // matches owned rels AND the tail of borrowed absolute refs): the
    // collect is bounded by the FILE count, never the row count
    val affectedIds: Set[String] =
      if (candidates.isEmpty) Set.empty
      else {
        val distinctKeys = srcKeys.dropDuplicates(keys)
        matchableP.join(distinctKeys, keys.map(k =>
            matchableP(k) <=> distinctKeys(k)).reduceOption(_ && _)
          .getOrElse(lit(true)))
          .select(col("__vt_rel")).distinct()
          .collect().map(_.getString(0)).toSet
      }
    cowTail(spark, root, m,
      m.files.filter(e => affectedIds.contains(dvFileId(e.rel))), nextMeta,
      cdf, op, "merge/upsert rewrite")(rebuild(_, source, matchable))
  }

  /** Files that may hold a key matching ANY source key: per key column,
    * overlap of the file's [min,max] with the source's [min,max], or a
    * possible null<=>null match when the source carries null keys.
    * Strictly conservative — stats-less entries and undecodable bounds
    * always stay candidates. */
  private[sources] def keyRangePrune(spark: SparkSession, m: Manifest,
      srcKeys: DataFrame, keys: Seq[String]): Seq[FileEntry] = {
    // a key prunes only when the SOURCE column carries the exact table
    // dtype — the canonical min/max expressions are built from the
    // table schema but evaluated on the source, so a dtype mismatch
    // (int feed against a long dimension) must fall back to scanning,
    // not miscompare
    val typeOf = m.schema.fields.map(f => f.name -> f.dataType).toMap
    val statKeys = keys.filter { k =>
      val srcType = srcKeys.schema.fields.find(_.name == k).map(_.dataType)
      typeOf.get(k).exists(statsSupported) && typeOf.get(k) == srcType
    }
    if (statKeys.isEmpty) return m.files
    val phys = physMapOf(m.meta)
    val aggs = statKeys.flatMap { k =>
      val c = canonCol(k, typeOf(k))
      Seq(min(c), max(c), sum(when(col(k).isNull, 1L).otherwise(0L)))
    }
    val r = srcKeys.agg(aggs.head, aggs.tail: _*).collect()(0)
    m.files.filter { e =>
      statKeys.zipWithIndex.forall { case (k, i) =>
        val dt = typeOf(k)
        val (sMn, sMx) = (r.get(i * 3), r.get(1 + i * 3))
        // sum() over an EMPTY source is NULL, not 0 — an empty source
        // has no null keys and no range, so nothing is a candidate
        val srcNulls = if (r.isNullAt(2 + i * 3)) 0L else r.getLong(2 + i * 3)
        val nullMatch = srcNulls > 0 &&
          e.stats.get(physOf(phys)(k)).forall(_.nulls > 0)
        // [min, max] overlaps the source's [lo, hi]: k >= lo AND k <= hi
        val overlap =
          (e.stats.get(physOf(phys)(k)), Option(sMn), Option(sMx)) match {
          case (Some(cs), Some(lo), Some(hi)) =>
            rangeMayMatch(cs, dt, (lo, canonLitType(dt)), ">=") &&
              rangeMayMatch(cs, dt, (hi, canonLitType(dt)), "<=")
          case (None, _, _) => true // no stats: must scan
          case _ => false // source has ONLY null keys: no range match
        }
        overlap || nullMatch
      }
    }
  }

  /** The external type [[canonCol]] emits for a column of type `dt` —
    * what a collected source-range aggregate row holds. */
  private def canonLitType(dt: DataType): DataType = dt match {
    case DateType => IntegerType // unix_date
    case TimestampType => LongType // unix_micros
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType => DoubleType
    case other => other
  }

  /** Null-safe keyed anti-join (left rows whose keys match NO right
    * row, with NULL <=> NULL matching) — the insert-detection join of
    * every merge path. A plain equality anti-join never matches NULL
    * keys, so a NULL-keyed source row would both UPDATE its matching
    * target row (the match side uses <=>) and be inserted again. */
  private def antiByKeys(left: DataFrame, right: DataFrame,
      keys: Seq[String]): DataFrame = {
    val l = left.alias("__vt_l")
    val r = right.alias("__vt_r")
    def lc(n: String) = col(s"__vt_l.${graft.dag.DataFlowExec.bq(n)}")
    def rc(n: String) = col(s"__vt_r.${graft.dag.DataFlowExec.bq(n)}")
    l.join(r, keys.map(k => lc(k) <=> rc(k)).reduce(_ && _), "left_anti")
  }

  /** MERGE INTO: matched target rows take the source's `setCols`
    * (default: every non-key column), unmatched source rows are
    * inserted, `deleteMatched` turns the matched branch into WHEN
    * MATCHED THEN DELETE. File-granular: only files containing a
    * matched key are rewritten. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], setCols: Option[Seq[String]] = None,
      insertUnmatched: Boolean = true,
      deleteMatched: Boolean = false, cdf: Boolean = false): Long =
    cowCommit(spark, root, source, keys, cdf = cdf,
      op = "MERGE") { (affected, src, full) =>
      val cols = full.columns.toSeq
      setCols.foreach { sc =>
        val unknown = sc.filterNot(cols.contains)
        require(unknown.isEmpty,
          s"merge: SET of unknown column(s): $unknown") // a typo must not
        // silently no-op the update while still committing a version
      }
      val s = src.select(cols.map(col): _*)
      val rewritten =
        if (deleteMatched) graft.ops.Mutations.applyDelete(affected, s, keys)
        else graft.ops.Mutations.applyUpdate(affected, s, keys,
          setCols.getOrElse(cols.filterNot(keys.contains)))
      // WHEN NOT MATCHED THEN INSERT composes with BOTH matched
      // branches (the Delta MERGE clause model): delete-matched +
      // insert-unmatched is the "replace the intersection" shape
      val inserts =
        if (insertUnmatched) antiByKeys(s.dropDuplicates(keys), full, keys)
        else s.limit(0)
      rewritten.unionByName(inserts)
    }

  /** SCD Type 2 against the stored dimension: expire changed current
    * rows, insert fresh versions ([[graft.ops.Mutations.scdType2]]
    * semantics), rewriting only the files that hold a matched key. */
  def scdType2Commit(spark: SparkSession, root: String, feed: DataFrame,
      keys: Seq[String], trackedCols: Seq[String], runStamp: String,
      cdf: Boolean = false): Long =
    cowCommit(spark, root, feed, keys, cdf = cdf,
      op = "SCD2") { (affected, f, full) =>
      // brand-new keys (no current row anywhere) insert through the
      // same call: scdType2's full-outer join emits them from the
      // feed side, so the affected subset plus the feed is complete
      graft.ops.Mutations.scdType2(affected, f, keys, trackedCols, runStamp)
    }

  /** Exactly-once streaming MERGE sink — the `foreachBatch` body for
    * `writeStream` into a versioned table:
    *
    * {{{
    * stream.writeStream.foreachBatch { (batch, id) =>
    *   VersionedTable.streamingUpsert(spark, root, batch, keys, "q", id)
    * }
    * }}}
    *
    * Structured Streaming's contract is at-least-once delivery to
    * foreachBatch: after a crash the SAME (queryName, batchId) can be
    * replayed. Idempotence here rides the table's own atomicity — the
    * last applied batch id per query is a `meta` entry in the manifest,
    * read from the exact base snapshot the commit builds on and
    * published in the same atomic rename as the data files, so "data
    * applied" and "batch recorded" can never diverge (the Delta
    * `txn`/`setTransaction` pattern). A replayed or out-of-order batch
    * id returns the current version untouched; a [[CommitConflict]]
    * (another writer slipped in) re-reads and retries — if the winner
    * was THIS batch's earlier attempt, the retry sees the recorded id
    * and skips. */
  def streamingUpsert(spark: SparkSession, root: String, batch: DataFrame,
      keys: Seq[String], queryName: String, batchId: Long,
      maxRetries: Int = 10, cdf: Boolean = false): Long =
    // an upsert IS a change-set apply with no deletes — one guarded
    // retry loop, not two copies that can drift
    streamingApply(spark, root, batch,
      batch.select(keys.map(col): _*).limit(0), keys, queryName, batchId,
      maxRetries, cdf)

  /** Exactly-once streaming CHANGE-SET apply: ONE atomic commit
    * removes `deleteKeys` and upserts `inserts`, guarded by the same
    * per-(query, batchId) manifest meta as [[streamingUpsert]] — the
    * sink side of change-feed replication
    * ([[graft.streaming.Streams.replicateInto]]). A replayed batch id
    * is a no-op for BOTH halves, which a separate delete + upsert pair
    * cannot guarantee (replaying the delete after a skipped upsert
    * would resurrect a tombstone). */
  def streamingApply(spark: SparkSession, root: String, inserts: DataFrame,
      deleteKeys: DataFrame, keys: Seq[String], queryName: String,
      batchId: Long, maxRetries: Int = 10, cdf: Boolean = false,
      // extra manifest meta published by the SAME atomic commit that
      // records the batch id — state a consumer must never observe
      // detached from the applied data (e.g. a MaterializedView's
      // per-base watermark pair). Ignored when the batch replays.
      extraMeta: Map[String, String] = Map.empty,
      // read-version OCC for writers whose PAYLOAD depends on the
      // table's prior meta (e.g. a join-view refresh computed against
      // the watermarks it read): the commit is admitted only if every
      // listed key still holds the listed value ON THE MANIFEST THE
      // COMMIT BUILDS ON. A divergence that is not a pure replay
      // throws [[StaleRefresh]] — the caller must recompute, because
      // the frozen payload no longer composes with the winner's state.
      expectMeta: Map[String, String] = Map.empty): Long = {
    require(queryName.nonEmpty && !queryName.contains('='),
      s"bad queryName '$queryName'")
    requireConforms(inserts, snapshot(spark, root).schema, "streamingApply")
    val metaKey = s"stream.$queryName.batch"
    val touch = inserts.select(keys.map(col): _*)
      .unionByName(deleteKeys.select(keys.map(col): _*))
    var attempt = 0
    while (true) {
      try {
        return cowCommit(spark, root, touch, keys,
          metaUpdate = m =>
            if (m.get(metaKey).exists(_.toLong >= batchId)) None
            else {
              expectMeta.foreach { case (k, want) =>
                val got = m.get(k)
                if (!got.contains(want)) throw new StaleRefresh(
                  s"$root: batch $batchId of '$queryName' was computed " +
                    s"against $k=$want but the table now holds " +
                    s"$k=${got.getOrElse("<absent>")} — a concurrent " +
                    "writer advanced the state; recompute the batch")
              }
              Some(m ++ extraMeta + (metaKey -> batchId.toString))
            },
          cdf = cdf, op = "STREAMING UPSERT"
        ) { (affected, _, full) =>
          val cols = full.columns.toSeq
          val ins = inserts.select(cols.map(col): _*).dropDuplicates(keys)
          // sequential delete-then-upsert semantics, computed directly:
          // strip BOTH the deleted keys and the upserted keys from the
          // pre-image, then land every insert row. Routing inserts
          // through an anti-join against the pre-image would drop a
          // row whose key is both deleted and re-inserted in the same
          // batch (the key still sits in the snapshot the anti-join
          // sees) — caught in review, pinned in spec.
          val stripped = graft.ops.Mutations.applyDelete(
            graft.ops.Mutations.applyDelete(affected, deleteKeys, keys),
            ins, keys)
          stripped.unionByName(ins)
        }
      } catch {
        case _: CommitConflict if attempt < maxRetries => attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Incremental read — the rows added AFTER `fromVersion`, up to
    * `toVersion` (default: latest): the change feed a downstream
    * consumer tails instead of re-scanning a 100 TB table per cycle.
    * File-granular and exact for APPEND commits (create/append/
    * streamingUpsert inserts of brand-new keys land in new files while
    * every base file is carried), which is the shape ingest pipelines
    * have. If the range contains a REWRITE (merge/SCD2 touching
    * existing keys, compact) the file diff no longer equals the row
    * delta — carried-forward rows sit inside rewritten files — so this
    * REFUSES loudly rather than emitting duplicates (row-level change
    * capture needs per-commit change files, the Delta CDF design;
    * re-read the snapshot instead). */
  def readAppendsSince(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.getOrElse(headVersion(spark, root))
    require(fromVersion >= 1 && fromVersion <= to,
      s"need 1 <= fromVersion <= $to, got $fromVersion (a before-create " +
        "feed is readChanges(root, 0), which emits version 1 as inserts)")
    val mFrom = readManifest(spark, root, fromVersion)
    val mTo = readManifest(spark, root, to)
    val fromSet = mFrom.files.map(_.rel).toSet
    val removed = fromSet -- mTo.files.map(_.rel).toSet
    if (removed.nonEmpty)
      throw new IllegalStateException(
        s"$root versions $fromVersion->$to dropped ${removed.size} file(s) " +
          "(a merge/SCD2/compact rewrite): the file diff is not the row " +
          "delta — re-read the snapshot, or capture changes per commit")
    if (mFrom.dvs != mTo.dvs)
      throw new IllegalStateException(
        s"$root versions $fromVersion->$to changed deletion vectors " +
          "(a merge-on-read delete): the file diff is not the row " +
          "delta — use readChanges with cdf-captured deletes")
    val added = mTo.files.filterNot(e => fromSet.contains(e.rel))
    scanEntries(spark, root, mTo.schema, added, physMapOf(mTo.meta))
  }

  /** Row-level change feed across versions (from, to]: the generalized
    * form of [[readAppendsSince]] that survives rewrites. Per commit:
    *
    *  - append-only commits (create/append/appendEvolve) derive their
    *    `insert` rows from the file diff — no extra storage, exactly
    *    like the appends feed;
    *  - CDF-enabled mutations (`cdf = true` on merge/SCD2/streaming
    *    upsert/deleteWhere/updateWhere) read the change files the
    *    commit captured: `delete` rows that did not survive the
    *    rewrite, `insert` rows that replaced them (an update is a
    *    delete+insert pair on the same key — Delta CDF's
    *    pre/postimage without the label);
    *  - layout-only rewrites (compact/clusterBy) are provably
    *    zero-change and contribute nothing;
    *  - a NON-CDF rewrite in the range REFUSES loudly — its row delta
    *    was never captured and cannot be reconstructed from the file
    *    diff (the [[readAppendsSince]] refusal, now opt-out-able).
    *
    * Emits the TO version's schema (evolution-gap columns are NULL)
    * plus `_change_type` and `_commit_version`. Applying the feed to
    * the FROM snapshot (remove `delete` rows, add `insert` rows, as
    * multisets) reproduces the TO snapshot exactly — proven in spec. */
  def readChanges(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.getOrElse(headVersion(spark, root))
    // fromVersion = 0 reads from BEFORE the table existed: version 1
    // (create) surfaces as pure inserts — what a streaming tail that
    // attaches before the first commit needs
    require(fromVersion >= 0 && fromVersion <= to,
      s"need 0 <= fromVersion <= $to, got $fromVersion")
    val mTo = readManifest(spark, root, to)
    val toSchema = mTo.schema
    val toPhys = physMapOf(mTo.meta)
    val outCols = toSchema.fieldNames.toIndexedSeq
    // columns match across versions by PHYSICAL identity, so a rename
    // inside the range still feeds the right change column; a column
    // the emitting version never had (schema evolution gap, or dropped
    // -and-re-added = different physical) reads NULL
    def align(df: DataFrame, v: Long, vSchema: StructType,
        vMeta: Map[String, String]): DataFrame = {
      val vPhys = physMapOf(vMeta)
      val byPhys = vSchema.fieldNames.toIndexedSeq
        .map(n => physOf(vPhys)(n) -> n).toMap
      df.select(outCols.map { n =>
        byPhys.get(physOf(toPhys)(n)).filter(df.columns.contains) match {
          case Some(src) => col(graft.dag.DataFlowExec.bq(src)).as(n)
          case None => lit(null).cast(toSchema(n).dataType).as(n)
        }
      } :+ col("_change_type") :+ lit(v).as("_commit_version"): _*)
    }
    // the previous iteration's file set + dv map ride along so each
    // manifest in the range is parsed ONCE, not re-read as the next
    // version's predecessor (manifests of wide tables carry stats for
    // every file)
    var last: Option[(Long, Set[String], Map[String, (String, Long)])] = None
    val frames = (fromVersion + 1 to to).flatMap { v =>
      val m = readManifest(spark, root, v)
      val rels = m.files.map(_.rel).toSet
      val out: Option[DataFrame] =
      if (m.cdfNone) None
      else if (m.changeFiles.nonEmpty) {
        val cfSchema = m.schema.add("_change_type", StringType)
        Some(align(spark.read.schema(cfSchema).parquet(
          m.changeFiles.map(f => new Path(root, f).toString): _*), v,
          m.schema, m.meta))
      } else {
        val (prevSet, prevDvs): (Set[String], Map[String, (String, Long)]) =
          if (v == 1) (Set.empty, Map.empty) // before-create: all inserts
          else last match {
            case Some((pv, fs, ds)) if pv == v - 1 => (fs, ds)
            case _ =>
              val pm = readManifest(spark, root, v - 1)
              (pm.files.map(_.rel).toSet, pm.dvs)
          }
        val removed = prevSet -- rels
        if (removed.nonEmpty)
          throw new IllegalStateException(
            s"$root version $v rewrote ${removed.size} file(s) without " +
              "change capture: run the mutation with cdf = true, or " +
              "re-read the snapshot")
        if (m.dvs != prevDvs)
          throw new IllegalStateException(
            s"$root version $v changed deletion vectors without change " +
              "capture: run deleteWhereMor with cdf = true, or re-read " +
              "the snapshot")
        val added = m.files.filterNot(e => prevSet.contains(e.rel))
        if (added.isEmpty) None
        else Some(align(scanEntries(spark, root, m.schema, added,
            physMapOf(m.meta))
          .withColumn("_change_type", lit("insert")), v, m.schema, m.meta))
      }
      last = Some((v, rels, m.dvs))
      out
    }
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(toSchema.fields.toSeq :+
          StructField("_change_type", StringType) :+
          StructField("_commit_version", LongType)))
    else frames.reduce(_ unionByName _)
  }

  /** Rewrite every data file smaller than `smallFileBytes` into
    * `targetPartitions` right-sized files as a NEW version (Delta
    * OPTIMIZE / Iceberg rewrite_data_files): frequent small commits —
    * a streaming upsert every minute — otherwise accrete thousands of
    * tiny files and scans go metadata-bound. Contents are unchanged
    * (same rows, same schema, meta carried), old versions still
    * time-travel to the old layout until [[vacuum]]. Returns the new
    * version, or the current one if fewer than two small files exist. */
  def compact(spark: SparkSession, root: String, smallFileBytes: Long,
      targetPartitions: Int = 1, sortCols: Seq[String] = Seq.empty): Long = {
    require(targetPartitions > 0, "targetPartitions must be positive")
    val m = snapshot(spark, root)
    val f = fs(spark, new Path(root))
    val small = m.files.filter(e =>
      f.getFileStatus(new Path(root, e.rel)).getLen < smallFileBytes)
    if (small.size < 2) return m.version
    // sortCols keep a clustered table clustered THROUGH compaction
    rewriteLayout(spark, root, m, small, "COMPACT")(
      laidOut(targetPartitions, sortCols))
  }

  /** Rewrite the table range-clustered on `cols` as a new version:
    * rows sorted into `targetPartitions` contiguous ranges, so the
    * per-file min/max stats in the manifest become (near-)disjoint and
    * a point or range predicate on the leading cluster column prunes
    * to O(1) files via [[readWhere]] — Delta `OPTIMIZE ... ZORDER BY`'s
    * 1-D case (the multi-dimensional Z-order curve for path layouts
    * lives in [[graft.ops.Scale.compactWriteZ]]). Contents unchanged,
    * meta carried, old versions still time-travel until [[vacuum]].
    * Data skipping works WITHOUT clustering, but on a layout whose
    * files all span the full key range it prunes nothing — cluster
    * once, then every ranged read, delete, and key-ranged merge
    * touches only the overlapping fraction of the table. */
  def clusterBy(spark: SparkSession, root: String, cols: Seq[String],
      targetPartitions: Int): Long = {
    require(cols.nonEmpty, "clusterBy needs at least one column")
    require(targetPartitions > 0, "targetPartitions must be positive")
    val m = snapshot(spark, root)
    val bad = cols.filterNot(m.schema.fieldNames.contains)
    require(bad.isEmpty, s"unknown cluster column(s): $bad")
    rewriteLayout(spark, root, m, m.files, "CLUSTER BY")(
      laidOut(targetPartitions, cols))
  }

  /** Z-ORDER rewrite (Delta `OPTIMIZE ... ZORDER BY (a, b, ...)`, 2 to
    * 6 columns): rows sorted along the N-dimensional Morton curve
    * ([[graft.ops.Scale.zValueN]] — bit j of column i at position
    * j·N + i), so every file's manifest stats are narrow on ALL N
    * columns and a predicate on ANY of them prunes file reads — the
    * property [[clusterBy]]'s lexicographic sort cannot give (its
    * second column spans the full range in every file). Each added
    * dimension costs resolution (min(16, 62/N) grid bits per column),
    * the classic Z-order trade — past ~4 columns prefer hierarchical
    * clusterBy. The grid bounds come from the MANIFEST's own per-file
    * stats when every file carries them (a zero-scan metadata fold),
    * falling back to one aggregate otherwise. Every column must be
    * numeric/date/timestamp (the Morton grid needs a numeric
    * normalization). Contents unchanged, layout-only (cdf none),
    * history time-travels. */
  def clusterByZorderN(spark: SparkSession, root: String,
      zcols: Seq[String], targetPartitions: Int): Long = {
    require(targetPartitions > 0, "targetPartitions must be positive")
    require(zcols.size >= 2 && zcols.size <= 6,
      s"Z-order needs 2..6 columns, got ${zcols.size}")
    require(zcols.distinct.size == zcols.size,
      s"duplicate Z-order column in $zcols")
    val m = snapshot(spark, root)
    zcols.foreach { c =>
      val f = m.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"unknown Z-order column '$c'"))
      require(statsSupported(f.dataType) && (f.dataType match {
        case StringType | BooleanType => false
        case _ => true
      }), s"Z-order needs a numeric/date/timestamp column, " +
        s"'$c' is ${f.dataType.catalogString}")
    }
    // global [lo, hi] per column from the manifest stats (every entry
    // carries the column) — no data scan; else one bounds aggregate
    def bounds(c: String, dt: DataType): (Double, Double) = {
      val perFile = m.files.map(_.stats.get(physOf(physMapOf(m.meta))(c)))
      if (m.files.nonEmpty && perFile.forall(_.isDefined)) {
        val ds = perFile.flatten
        val los = ds.flatMap(_.min).flatMap(statDomain(_, dt))
          .collect { case d: java.math.BigDecimal => d.doubleValue() }
        val his = ds.flatMap(_.max).flatMap(statDomain(_, dt))
          .collect { case d: java.math.BigDecimal => d.doubleValue() }
        if (los.nonEmpty && his.nonEmpty) return (los.min, his.max)
      }
      val r = read(spark, root, Some(m.version))
        .agg(min(canonCol(c, dt)).cast("double"),
          max(canonCol(c, dt)).cast("double")).collect()(0)
      (if (r.isNullAt(0)) 0.0 else r.getDouble(0),
        if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }
    val z = graft.ops.Scale.zValueN(zcols.map { c =>
      val dt = m.schema.fields.find(_.name == c).get.dataType
      val (lo, hi) = bounds(c, dt)
      (canonCol(c, dt), lo, hi)
    })
    rewriteLayout(spark, root, m, m.files, "ZORDER BY")(df =>
      laidOut(targetPartitions, Seq("__vt_z"))(df.withColumn("__vt_z", z))
        .drop("__vt_z"))
  }

  /** One-call table maintenance — the OPTIMIZE + VACUUM cron a
    * deployment schedules: (1) materialize deletion vectors once their
    * deleted-row total passes `dvRowThreshold`, (2) compact files
    * smaller than `smallFileBytes`, (3) vacuum history older than
    * `keepVersions` versions back. Each step is its own atomic commit
    * (individually time-travelable, concurrent writers conflict-checked
    * per step); `sortCols` keeps a clustered layout clustered through
    * both rewrites. Returns the current version after maintenance. */
  def maintain(spark: SparkSession, root: String,
      smallFileBytes: Long = 8L * 1024 * 1024,
      targetPartitions: Int = 1, sortCols: Seq[String] = Seq.empty,
      dvRowThreshold: Long = 0L, keepVersions: Int = 10,
      orphanGraceMs: Long = 24L * 3600 * 1000): Long = {
    require(keepVersions >= 0, s"keepVersions must be >= 0: $keepVersions")
    val m = snapshot(spark, root)
    if (m.dvs.values.map(_._2).sum > dvRowThreshold)
      materializeDeletes(spark, root, targetPartitions, sortCols)
    compact(spark, root, smallFileBytes, targetPartitions, sortCols)
    val cur = currentVersion(spark, root).getOrElse(m.version)
    vacuum(spark, root, keepFrom = math.max(1L, cur - keepVersions),
      orphanGraceMs = orphanGraceMs)
    cur
  }

  /** Drop every version below `keepFrom` and any data file/dir no kept
    * manifest references — the GC that stops manifest/file accumulation
    * (Delta VACUUM / Iceberg expire_snapshots). Also sweeps ORPHAN data
    * dirs (a torn write that never reached its commit, or a committer
    * that lost the CAS after writing files): any `data/<uuid>/` dir
    * referenced by NO surviving manifest whose files are older than
    * `orphanGraceMs` is deleted — the grace window keeps the sweep from
    * eating a commit that is mid-flight RIGHT NOW (files written,
    * manifest rename pending), same reasoning as Delta VACUUM's
    * retention check. */
  def vacuum(spark: SparkSession, root: String, keepFrom: Long,
      orphanGraceMs: Long = 24L * 3600 * 1000): Unit = {
    val cur = currentVersion(spark, root).getOrElse(return)
    require(keepFrom <= cur, s"keepFrom $keepFrom is past current $cur")
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    val (drop, keep) = versions(spark, root).partition(_ < keepFrom)
    val keptManifests = keep.map(v => readManifest(spark, root, v))
    val referenced = keptManifests.flatMap(_.files.map(_.rel)).toSet
    val referencedChanges = keptManifests.flatMap(_.changeFiles).toSet
    // parquet checkpoints are SHARED across versions — only drop one
    // no surviving manifest references; deletion-vector dirs are
    // carried forward the same way (an untouched file's dv entry rides
    // every later manifest until a rewrite retires it)
    val referencedCps = keptManifests.flatMap(_.cp).toSet
    val referencedDvs = keptManifests.flatMap(_.dvs.values.map(_._1)).toSet
    // BORROWED entries (a shallow clone's absolute refs into another
    // table) are NEVER deleted — they are the source table's property;
    // only this table's own root-relative files are garbage here
    def owned(rel: String): Boolean = !new Path(rel).isAbsolute
    // MATERIALIZE every dropped version's file list BEFORE deleting
    // anything: a checkpoint can be shared by several dropped versions
    // (v1 wrote cp-A, v2 committed a delta against it), so deleting
    // cp-A while processing v1 would make v2's lazy list unreadable
    // and wedge the sweep mid-delete — force the loaders first, then
    // delete
    val droppedMs = drop.map(v => readManifest(spark, root, v))
    droppedMs.foreach(_.files)
    droppedMs.foreach { m =>
      m.files.map(_.rel).filter(owned).filterNot(referenced.contains)
        .foreach(rel => f.delete(new Path(root, rel), false))
      // change files belong to exactly one version — dropped with it
      m.changeFiles.filter(owned)
        .foreach(rel => f.delete(new Path(root, rel), false))
      m.cp.filterNot(referencedCps.contains)
        .foreach(rel => f.delete(new Path(root, rel), true))
      m.dvs.values.map(_._1).toSet[String].filter(owned)
        .filterNot(referencedDvs.contains)
        .foreach(rel => f.delete(new Path(root, rel), true))
      f.delete(manifestPath(root, m.version), false)
      // the version's CAS tombstone
      f.delete(lockPath(root, m.version), false)
    }
    // sweep data/changes dirs emptied by the deletes, plus ORPHANS:
    // dirs no surviving manifest references, past the grace window (a
    // torn write's leftovers — see scaladoc)
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    def sweep(sub: String, referencedDirs: Set[String]): Unit = {
      val dir = new Path(root, sub)
      if (!f.exists(dir)) return
      f.listStatus(dir).filter(_.isDirectory).foreach { d =>
        val children = f.listStatus(d.getPath)
        val orphan = !referencedDirs.contains(d.getPath.getName) &&
          children.forall(_.getModificationTime < cutoff)
        if (children.isEmpty) f.delete(d.getPath, false)
        else if (orphan) f.delete(d.getPath, true)
      }
    }
    sweep("data", referenced.map(rel => new Path(rel).getParent.getName))
    sweep("changes",
      referencedChanges.map(rel => new Path(rel).getParent.getName))
    sweep("deletes", referencedDvs.map(rel => new Path(rel).getName))
    // torn commits also strand .tmp-* manifests (written, never
    // renamed) and unreferenced cp-* checkpoint dirs; past the grace
    // window they are garbage too
    f.listStatus(dir).filter { st =>
      st.getPath.getName.startsWith(".tmp-") &&
        st.getModificationTime < cutoff
    }.foreach(st => f.delete(st.getPath, false))
    val liveCpNames = referencedCps.map(rel => new Path(rel).getName)
    f.listStatus(dir).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("cp-") &&
        !liveCpNames.contains(st.getPath.getName)
    }.foreach { st =>
      if (f.listStatus(st.getPath).forall(_.getModificationTime < cutoff))
        f.delete(st.getPath, true)
    }
  }
}
