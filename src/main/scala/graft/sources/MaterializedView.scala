package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Incremental materialized-view maintenance over [[VersionedTable]]s
  * — the classic IVM shape (Griffin & Libkin, SIGMOD 1995; what
  * Materialize / Delta Live Tables sell): a grouped COUNT/SUM
  * aggregate, optionally over an inner JOIN of two tables, kept up to
  * date from the base tables' row-level change feeds instead of
  * re-aggregating the base.
  *
  * This is the 100 TB refresh path: a full recompute re-shuffles the
  * entire base every cycle, while refresh reads ONLY the change feed
  * of the new commits ([[VersionedTable.readChanges]] — per-commit
  * change files and appended-file diffs, never a full scan) and merges
  * per-group deltas into the state table with a file-granular
  * [[VersionedTable.streamingApply]] commit. Work per refresh is
  * O(churn) for single-table views and O(churn × join fan-out) for
  * join views — never O(table).
  *
  * State model (the textbook one that survives deletes): per group,
  * `cnt` = COUNT(*), and per tracked column c, `nn_c` = COUNT(c)
  * (non-null) and `raw_c` = zero-filled SUM(c). Inserts add, deletes
  * subtract — COUNT and SUM are the self-maintainable aggregates;
  * `read` reconstructs SQL semantics exactly (`SUM` is NULL iff no
  * non-null value remains, AVG = raw/nn).
  *
  * MIN/MAX are NOT self-maintainable under deletes (a deleted
  * extremum cannot be reconstructed from state), so `minmax` columns
  * take the partial-recompute lane: each refresh RE-AGGREGATES
  * exactly the groups the delta touched from the target-version
  * snapshot — a keyed semi-join bounds the recompute to churned
  * groups; untouched groups never rescan. Correct under every delta
  * shape by construction; cost is O(touched groups' rows), between
  * the pure delta lanes and a full recompute.
  *
  * ==Rescan pruning — CLUSTER THE BASE BY THE GROUP KEY==
  * The rescan pre-filters the snapshot with the touched keys'
  * bounding-box range and, for single-table views, routes it through
  * the manifest-stats pruner ([[VersionedTable.readWhere]]) — each
  * refresh commit records the audit as `mv.rescan.files_kept` /
  * `files_total` meta (0/0 = no rescan ran; -1/-1 = join view,
  * filter-pushdown only). File skipping can only cut the rescan when
  * the base CLUSTERS by the group key (every file then covers a
  * narrow key range): on an unclustered 100 TB base the box spans
  * most files and EVERY minmax/hll-delete refresh pays a full
  * snapshot scan through the semi-join filter. If the refresh cadence
  * matters, cluster or Z-order the base by the group key — the audit
  * meta is the signal to watch (kept ≈ total on every refresh means
  * the layout, not the view, is the problem).
  *
  * APPROX-DISTINCT per group rides along as a DataSketches HLL sketch
  * column (`distincts`): sketches are mergeable, so inserts fold in
  * with `hll_union` — the 100 TB distinct-count path, since exact
  * per-group distinct state is unbounded. HLL cannot retract, so a
  * group the delta DELETES from takes the same partial-recompute lane
  * as MIN/MAX: its sketch is re-aggregated from the target-version
  * snapshot (bounded by the delete-touched groups — insert-only
  * groups keep the pure union lane, and an insert-only refresh never
  * scans the snapshot at all). `read` emits `distinct_c` estimates
  * (~1.6% rsd at the default lgK=12; exact while the sketch is still
  * in sparse mode).
  *
  * Join views maintain `SELECT g, COUNT(*), SUM(c).. FROM L JOIN R
  * USING (k..) GROUP BY g` with the standard two-sided delta
  * decomposition: with L₁ = L₀ ⊎ ΔL and R₁ = R₀ ⊎ ΔR (signed
  * multisets),
  *
  *   Δ(L ⋈ R) = ΔL ⋈ R₁  ⊎  L₀ ⋈ ΔR
  *
  * — the ΔL ⋈ ΔR cross term is counted exactly once because the left
  * term joins against the NEW right snapshot while the right term
  * joins against the OLD left snapshot (both sides are one
  * time-travel read away in a versioned table; this is where a
  * non-versioned source would need change-log replay). Each delta-side
  * row carries its feed sign; a joined pair inherits it.
  *
  * Exactness: incremental state equals a from-scratch recompute
  * EXACTLY for integer / long / decimal sum columns (associative
  * arithmetic; use the money-as-cents discipline). Float sums drift
  * by summation order like any distributed SUM.
  *
  * Consistency: the watermark (last applied base version, or the
  * (left, right) pair for join views) rides the SAME atomic commit as
  * the merged state — the [[VersionedTable.streamingApply]]
  * (queryName, batchId) transaction pattern — so "delta applied" and
  * "watermark advanced" can never diverge, and a crashed or replayed
  * refresh is a no-op. batchId is the base version (single) or the
  * version sum (join), monotone under refresh.
  *
  * Concurrent refreshers: for SINGLE-TABLE views monotone batchId
  * suffices — two refreshers from the same watermark read NESTED
  * windows (w, bv] ⊆ (w, bv'] of one base, so the later (larger)
  * batch touches a superset of the earlier one's groups and writes
  * ABSOLUTE post-delta state for each; whichever order they land, the
  * final state is the larger window's, which is correct. For JOIN
  * views the windows are a PAIR and same-start windows need not nest
  * per side (each base advances independently), so a larger-sum loser
  * could advance a watermark past changes it never applied; join
  * refresh therefore carries read-version OCC — the commit pins the
  * (LeftV, RightV) pair the delta was computed against and a
  * concurrent winner turns the loser into
  * [[VersionedTable.StaleRefresh]] -> recompute-and-retry (see
  * [[refreshJoin]]).
  */
object MaterializedView {

  /** Streaming-transaction identity of the maintenance writer; the
    * batch watermark lives at `stream.mv_refresh.batch` in the MV
    * manifest. */
  private val Query = "mv_refresh"
  private val WatermarkKey = s"stream.$Query.batch"

  /** The manifest meta key carrying a view's applied base version —
    * for consumers (e.g. [[graft.ext.Bm25Index]]'s as-of walks) that
    * align a view's history with its base's; exposing it keeps the
    * derivation (`stream.<query>.batch`) in ONE place. */
  val batchWatermarkKey: String = WatermarkKey
  private val KeysKey = "mv.keys"
  private val SumsKey = "mv.sums"
  private val JoinKeysKey = "mv.join_keys"
  private val LeftVKey = "mv.left_v"
  private val RightVKey = "mv.right_v"
  private val BaseKey = "mv.base"
  private val DistinctsKey = "mv.distincts"
  private val MinMaxKey = "mv.minmax"
  private val CdfKey = "mv.cdf"
  private val LeftKey = "mv.left"
  private val RightKey = "mv.right"
  private val LeftRenKey = "mv.left_rename"
  private val RightRenKey = "mv.right_rename"

  private def encodeRen(ren: Map[String, String]): String = {
    ren.foreach { case (o, n) =>
      require(!o.contains(':') && !n.contains(':'),
        s"':' is reserved in rename specs: $o -> $n")
      require(!n.startsWith("_"),
        s"rename target '$n' collides with change-feed columns")
    }
    requireCols(ren.values.toSeq, "rename target")
    ren.map { case (o, n) => s"$o:$n" }.mkString(",")
  }

  private def renameOf(m: VersionedTable.Manifest, key: String)
      : Map[String, String] =
    m.meta.get(key).filter(_.nonEmpty).fold(Map.empty[String, String])(
      _.split(',').map { kv =>
        val Array(o, n) = kv.split(':')
        o -> n
      }.toMap)

  private def applyRen(df: DataFrame, ren: Map[String, String]): DataFrame =
    ren.foldLeft(df) { case (d, (o, n)) => d.withColumnRenamed(o, n) }

  private def zero(dt: DataType): Column = lit(0).cast(dt)

  private def norm(root: String): String = root.stripSuffix("/")

  /** The watermark is meaningful only against the table the view was
    * DEFINED over — refreshing against a different (or transposed)
    * table would merge a foreign change feed into the state and
    * advance the watermark, silently and permanently corrupting the
    * view. The base path(s) are pinned at create; a relocated base
    * refuses here rather than guessing. */
  private def requireBase(m: VersionedTable.Manifest, key: String,
      got: String, role: String): Unit =
    m.meta.get(key).foreach(stored => require(stored == norm(got),
      s"this view maintains $role '$stored', not '${norm(got)}' — " +
        "wrong (or relocated) base table"))

  private def requireCols(cols: Seq[String], what: String): Unit =
    cols.foreach(c => require(
      c.nonEmpty && !c.exists(ch => ch == ',' || ch == '=' || ch == '\n'
        || ch == '\r'),
      s"bad $what column name '$c' (',', '=', newline are reserved)"))

  /** NULL grouping keys refuse loudly: every maintenance join in this
    * module (delta↔state, rescan semi-join, the sink's keyed
    * copy-on-write matching) is SQL-equality-keyed, where NULL never
    * matches NULL — a null-keyed group would silently FORK from its
    * own state row on every refresh (duplicate rows, wrong counts)
    * instead of erroring. The guard is a column wrapper on the
    * emitted key (zero extra jobs — it fires inside the create/commit
    * pass that materializes the group). COALESCE the key to a
    * sentinel upstream; the view then maintains that group exactly. */
  private def guardedKey(k: String, dt: DataType, ctx: String): Column =
    when(col(k).isNull, raise_error(lit(
      s"materialized view $ctx: NULL value in grouping key '$k' — " +
        "null keys cannot be maintained (equality-keyed state); " +
        "COALESCE the key to a sentinel first")).cast(dt))
      .otherwise(col(k)).as(k)

  /** Full-aggregate state of `df`:
    * (keys..., cnt, [nn_c, raw_c]..., [hll_c]..., [min_c, max_c]...). */
  private def stateOf(df: DataFrame, keys: Seq[String],
      sums: Seq[String], distincts: Seq[String],
      minmax: Seq[String]): DataFrame = {
    val aggs = (count(lit(1)).as("cnt") +: sums.flatMap(c => Seq(
      sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"nn_$c"),
      sum(col(c)).as(s"raw_$c")))) ++
      distincts.map(c => hll_sketch_agg(col(c)).as(s"hll_$c")) ++
      minmax.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val raw = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // zero-fill all-null sums so state arithmetic never meets NULL;
    // read() reconstructs the SQL NULL from nn_c (min/max keep SQL
    // NULL semantics natively — an all-null group stores NULL)
    raw.select(keys.map(k =>
      guardedKey(k, raw.schema(k).dataType, "create")) ++
      (col("cnt") +: sums.flatMap(c => Seq(
      col(s"nn_$c"),
      coalesce(col(s"raw_$c"),
        zero(raw.schema(s"raw_$c").dataType)).as(s"raw_$c")))) ++
      distincts.map(c => col(s"hll_$c")) ++
      minmax.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))): _*)
  }

  /** Merge a SIGNED row delta (`signed`: keys + sums + `_sign` ∈
    * {+1, -1} per contributing row) into the stored state as one
    * atomic commit: aggregate to per-group deltas, join the touched
    * groups' state, upsert positive-count groups, delete dead ones.
    * The shared spine of both refresh flavors. */
  private def applySignedDelta(spark: SparkSession, mvRoot: String,
      m: VersionedTable.Manifest, keys: Seq[String], sums: Seq[String],
      distincts: Seq[String], minmax: Seq[String],
      snapshotAtHi: => DataFrame, signed: DataFrame, batchId: Long,
      lo: Long, hi: Long, extraMeta: Map[String, String],
      expectMeta: Map[String, String] = Map.empty,
      // single-table views pass (baseRoot, hiVersion) so the rescan
      // lane can go through the manifest-stats pruner instead of a
      // full snapshot scan; join views prune by filter pushdown only
      pruneSource: Option[(String, Long)] = None): Long = {
    val rawType: Map[String, DataType] =
      sums.map(c => c -> m.schema(s"raw_$c").dataType).toMap
    val dAggs = (sum(col("_sign")).as("d_cnt") +: sums.flatMap(c => Seq(
      sum(when(col(c).isNotNull, col("_sign")).otherwise(0L))
        .as(s"dnn_$c"),
      coalesce(sum(when(col(c).isNotNull,
          col(c).cast(rawType(c)) * col("_sign"))),
        zero(rawType(c))).as(s"draw_$c")))) ++
      (if (distincts.isEmpty) Seq.empty else
        // sketches absorb INSERTED values only; a delete in a touched
        // group makes its sketch non-unionable (HLL cannot retract) ->
        // counted here, routed to the snapshot-rescan lane below
        sum(when(col("_sign") < 0, 1L).otherwise(0L)).as("d_del") +:
        distincts.map(c => hll_sketch_agg(
          when(col("_sign") > 0, col(c))).as(s"dhll_$c")))
    val d0 = signed.groupBy(keys.map(col): _*).agg(dAggs.head, dAggs.tail: _*)
    // the hll-delete probe below forces one extra pass over the delta
    // aggregate; pin it once so the probe and the state join share the
    // materialization (d is one row per TOUCHED group — tiny)
    val d =
      if (distincts.nonEmpty && minmax.isEmpty) d0.localCheckpoint(true)
      else d0

    // left join: only groups the delta touched matter; an untouched
    // group's files are never rewritten (streamingApply is keyed COW)
    val state = VersionedTable.read(spark, mvRoot, Some(m.version))
    val withState = d.join(state, keys, "left")
    // Snapshot-rescan lane — the partial-recompute stance for state
    // that is not delta-maintainable: the needed groups are
    // RE-AGGREGATED from the hi-version snapshot, a keyed semi-join
    // bounding the recompute to churned groups (prunable when the
    // base clusters by the group key); untouched groups never rescan.
    //  - MIN/MAX columns ride it for EVERY touched group (a deleted
    //    extremum cannot be reconstructed from state);
    //  - HLL distinct columns ride it only for groups the delta
    //    DELETES from (HLL cannot retract; insert-only groups keep
    //    the pure O(sketch) union lane). When the min/max rescan runs
    //    anyway, the sketch re-aggregate piggybacks on the same scan.
    // Full-recompute-correct under every delta shape by construction.
    val hllRescan = distincts.nonEmpty && (minmax.nonEmpty ||
      !d.filter(col("d_del") > 0).isEmpty)
    val rescanKeys =
      if (minmax.nonEmpty) Some(d.select(keys.map(col): _*))
      else if (hllRescan)
        Some(d.filter(col("d_del") > 0).select(keys.map(col): _*))
      else None
    val (joined, rescanMeta) = rescanKeys match {
      case None =>
        (withState, Map("mv.rescan.files_kept" -> "0",
          "mv.rescan.files_total" -> "0"))
      case Some(rk) =>
        val aggs = minmax.flatMap(c =>
          Seq(min(col(c)).as(s"mm_min_$c"),
            max(col(c)).as(s"mm_max_$c"))) ++
          (if (hllRescan)
            distincts.map(c => hll_sketch_agg(col(c)).as(s"rs_hll_$c"))
          else Nil)
        // bounding box of the touched keys (one tiny agg, O(#key
        // columns) on the driver): the rescan only needs rows whose
        // key IS a touched key, all of which sit inside the box, so a
        // range predicate over it is a sound pre-filter. When the base
        // CLUSTERS by the group key this turns the rescan into a
        // stats-pruned read of the churned key range — the 100 TB
        // shape; on an UNCLUSTERED base the box covers most files and
        // every rescan pays a full snapshot pass (see the scaladoc
        // caveat). A null-keyed touched group voids the box (a range
        // cannot express it).
        val bAggs = keys.flatMap(k => Seq(min(col(k)).as(s"lo_$k"),
          max(col(k)).as(s"hi_$k"),
          count(when(col(k).isNull, 1)).as(s"null_$k"))) :+
          count(lit(1)).as("_rk_n")
        val bounds = rk.agg(bAggs.head, bAggs.tail: _*).head()
        if (bounds.getLong(3 * keys.size) == 0L) {
          // EMPTY rescan key set (e.g. a min/max view whose delta range
          // touched no groups): no group needs re-aggregation, so skip
          // the snapshot entirely — the rescan columns come from an
          // empty local relation with the snapshot's schema (metadata
          // only, zero files read) and the audit records a truthful
          // 0/0 instead of falling into the full-scan fallback.
          val empty = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            snapshotAtHi.schema)
          val rescan = empty.groupBy(keys.map(col): _*)
            .agg(aggs.head, aggs.tail: _*)
          (withState.join(rescan, keys, "left"),
            Map("mv.rescan.files_kept" -> "0",
              "mv.rescan.files_total" -> "0"))
        } else {
        val boxable = keys.indices.forall { i =>
          bounds.getLong(3 * i + 2) == 0L && !bounds.isNullAt(3 * i)
        }
        val pred =
          if (!boxable) None
          else scala.util.Try(keys.zipWithIndex.map { case (k, i) =>
            col(k) >= lit(bounds.get(3 * i)) &&
              col(k) <= lit(bounds.get(3 * i + 1))
          }.reduce(_ && _)).toOption
        val (snap, meta) = (pruneSource, pred) match {
          case (Some((broot, bv)), Some(p)) =>
            val (kept, total) =
              VersionedTable.pruneProfile(spark, broot, p, Some(bv))
            (VersionedTable.readWhere(spark, broot, p, Some(bv)),
              Map("mv.rescan.files_kept" -> kept.toString,
                "mv.rescan.files_total" -> total.toString))
          case (Some(_), None) =>
            // single-table view whose touched keys VOID the bounding
            // box (a null group key): full snapshot pass by necessity.
            // Distinct audit sentinel — rescanProfile documents -1/-1
            // as "join view, filter-pushdown only"; this is a
            // different situation and must not wear that label.
            (snapshotAtHi, Map("mv.rescan.files_kept" -> "-2",
              "mv.rescan.files_total" -> "-2"))
          case (_, Some(p)) =>
            // join views: push the box into the joined snapshot — the
            // filter lands on whichever scan owns the key columns
            (snapshotAtHi.filter(p), Map(
              "mv.rescan.files_kept" -> "-1",
              "mv.rescan.files_total" -> "-1"))
          case _ =>
            (snapshotAtHi, Map("mv.rescan.files_kept" -> "-1",
              "mv.rescan.files_total" -> "-1"))
        }
        val rescan = snap.join(rk, keys, "left_semi")
          .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
        (withState.join(rescan, keys, "left"), meta)
        }
    }
    val newCnt = coalesce(col("cnt"), lit(0L)) + col("d_cnt")
    val guardedCnt = when(newCnt < 0, raise_error(concat(
        lit(s"materialized view $mvRoot: negative group count applying " +
          s"base range ($lo, $hi] — inconsistent change feed for key "),
        concat_ws(",", keys.map(k => col(k).cast("string")): _*)))
      .cast("long")).otherwise(newCnt)
    // nn counters get the same inconsistent-feed guard as cnt: a
    // negative non-null count would silently mis-reconstruct SUM
    // NULLs (nn <= 0 reads as "all null") while leaving a residual in
    // raw — the one corruption read() cannot detect
    def guardedNn(c: String): Column = {
      val nn = coalesce(col(s"nn_$c"), lit(0L)) + col(s"dnn_$c")
      when(nn < 0, raise_error(concat(
          lit(s"materialized view $mvRoot: negative non-null count of " +
            s"'$c' applying base range ($lo, $hi] — inconsistent change " +
            "feed for key "),
          concat_ws(",", keys.map(k => col(k).cast("string")): _*)))
        .cast("long")).otherwise(nn)
    }
    // distinct sketches: insert-only groups union the old sketch with
    // the inserted values' sketch (mergeable, O(sketch)); a group the
    // delta DELETES from takes its re-aggregated snapshot sketch from
    // the rescan lane — HLL cannot retract, so the post-delta truth is
    // rebuilt for exactly the touched-by-delete groups
    def mergedHll(c: String): Column = {
      val old = col(s"hll_$c")
      val dh = col(s"dhll_$c")
      val unioned = when(old.isNull, dh).when(dh.isNull, old)
        .otherwise(hll_union(old, dh))
      if (hllRescan)
        when(col("d_del") > 0, col(s"rs_hll_$c")).otherwise(unioned)
      else unioned
    }
    val outCols = keys.map(k =>
      guardedKey(k, m.schema(k).dataType, s"$mvRoot refresh")) ++
      (guardedCnt.as("cnt") +:
      sums.flatMap(c => Seq(
        guardedNn(c).as(s"nn_$c"),
        (coalesce(col(s"raw_$c"), zero(rawType(c))) + col(s"draw_$c"))
          .cast(rawType(c)).as(s"raw_$c")))) ++
      distincts.map(c => mergedHll(c).as(s"hll_$c")) ++
      minmax.flatMap(c => Seq(col(s"mm_min_$c").as(s"min_$c"),
        col(s"mm_max_$c").as(s"max_$c")))
    // materialize the per-group post-delta state ONCE: it is tiny
    // (one row per TOUCHED group) but its lineage is the whole
    // delta-scan + aggregate + state join, which streamingApply's
    // commit machinery would otherwise re-execute for the touch
    // probe, the rewrite, and the write
    val next = joined.select(outCols: _*).localCheckpoint(eager = true)
    val upserts = next.filter(col("cnt") > 0)
      .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
    val delKeys = next.filter(col("cnt") === 0)
      .select(keys.map(col): _*)
    VersionedTable.streamingApply(spark, mvRoot, upserts, delKeys, keys,
      Query, batchId = batchId,
      // a CASCADE view captures its own row-level changes, so a
      // DOWNSTREAM view can delta-maintain off this one's commits —
      // the Materialize dataflow-graph shape, one view per edge
      cdf = m.meta.get(CdfKey).contains("1"),
      // rescan prune audit rides the same commit (kept/total files;
      // 0/0 = no rescan ran, -1/-1 = filter-pushdown only)
      extraMeta = extraMeta ++ rescanMeta,
      expectMeta = expectMeta)
  }

  private def signedChanges(spark: SparkSession, root: String,
      from: Long, to: Long): DataFrame =
    VersionedTable.readChanges(spark, root, from, Some(to))
      .withColumn("_sign",
        when(col("_change_type") === "insert", 1L).otherwise(-1L))

  // ---- single-table views ------------------------------------------------

  /** Materialize `SELECT keys, COUNT(*), SUM(c)... GROUP BY keys` of
    * the base table's CURRENT version into a new versioned table at
    * `mvRoot`. The definition and the initial watermark ride version
    * 1's manifest atomically. */
  def create(spark: SparkSession, baseRoot: String, mvRoot: String,
      keys: Seq[String], sums: Seq[String],
      distincts: Seq[String] = Seq.empty,
      minmax: Seq[String] = Seq.empty,
      cdf: Boolean = false): Long = {
    require(keys.nonEmpty, "materialized view needs grouping keys")
    requireCols(keys ++ sums ++ distincts ++ minmax, "view")
    require(keys.intersect(sums ++ distincts ++ minmax).isEmpty,
      s"columns cannot be both key and aggregate: " +
        s"${keys.intersect(sums ++ distincts ++ minmax)}")
    val bv = VersionedTable.headVersion(spark, baseRoot)
    val snap = VersionedTable.read(spark, baseRoot, Some(bv))
    VersionedTable.create(spark, mvRoot,
      stateOf(snap, keys, sums, distincts, minmax),
      meta = Map(WatermarkKey -> bv.toString,
        BaseKey -> norm(baseRoot),
        KeysKey -> keys.mkString(","),
        SumsKey -> sums.mkString(","),
        DistinctsKey -> distincts.mkString(","),
        MinMaxKey -> minmax.mkString(","),
        CdfKey -> (if (cdf) "1" else "0")))
  }

  private def definition(m: VersionedTable.Manifest)
      : (Seq[String], Seq[String], Seq[String], Seq[String]) = {
    def split(k: String): Seq[String] =
      m.meta.get(k).map(_.split(',').toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    val keys = split(KeysKey)
    require(keys.nonEmpty, "not a materialized view (no mv.keys meta)")
    (keys, split(SumsKey), split(DistinctsKey), split(MinMaxKey))
  }

  /** Advance the view to the base table's current version by applying
    * the change feed (watermark, current]: one grouped aggregate over
    * the delta, one keyed join against the touched groups' stored
    * state, one atomic file-granular commit. Groups whose count
    * reaches zero are deleted from the view; a negative count —
    * impossible from a consistent feed — refuses loudly instead of
    * materializing a corrupt state. Returns the MV version (unchanged
    * if the base has not advanced). */
  def refresh(spark: SparkSession, baseRoot: String,
      mvRoot: String): Long = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    val (keys, sums, distincts, minmax) = definition(m)
    require(!m.meta.contains(JoinKeysKey),
      "this is a join view — use refreshJoin(left, right, mv)")
    requireBase(m, BaseKey, baseRoot, "base")
    val last = m.meta(WatermarkKey).toLong
    val bv = VersionedTable.headVersion(spark, baseRoot)
    if (bv <= last) return m.version
    applySignedDelta(spark, mvRoot, m, keys, sums, distincts, minmax,
      VersionedTable.read(spark, baseRoot, Some(bv)),
      signedChanges(spark, baseRoot, last, bv), batchId = bv,
      lo = last, hi = bv, extraMeta = Map.empty,
      pruneSource = Some((baseRoot, bv)))
  }

  // ---- join views --------------------------------------------------------

  /** Materialize `SELECT keys, COUNT(*), SUM(c)... FROM left INNER
    * JOIN right USING (joinKeys) GROUP BY keys` of the bases' CURRENT
    * versions. The non-join columns of the two tables must not
    * collide (the joined row namespace must be unambiguous) — when
    * the sides are THEMSELVES views (or otherwise share names), the
    * per-side rename maps disambiguate; they persist in the view's
    * meta and apply to every future refresh read. `keys` / `sums` may
    * come from either side or the join keys, post-rename. NULL join
    * keys never match (SQL inner-join semantics). */
  def createJoin(spark: SparkSession, leftRoot: String, rightRoot: String,
      mvRoot: String, joinKeys: Seq[String], keys: Seq[String],
      sums: Seq[String], distincts: Seq[String] = Seq.empty,
      minmax: Seq[String] = Seq.empty, cdf: Boolean = false,
      leftRename: Map[String, String] = Map.empty,
      rightRename: Map[String, String] = Map.empty): Long = {
    require(joinKeys.nonEmpty, "join view needs join keys")
    require(keys.nonEmpty, "materialized view needs grouping keys")
    requireCols(joinKeys ++ keys ++ sums ++ distincts ++ minmax, "view")
    require(keys.intersect(sums ++ distincts ++ minmax).isEmpty,
      s"columns cannot be both key and aggregate: " +
        s"${keys.intersect(sums ++ distincts ++ minmax)}")
    val lv = VersionedTable.headVersion(spark, leftRoot)
    val rv = VersionedTable.headVersion(spark, rightRoot)
    val l = applyRen(VersionedTable.read(spark, leftRoot, Some(lv)),
      leftRename)
    val r = applyRen(VersionedTable.read(spark, rightRoot, Some(rv)),
      rightRename)
    val overlap = (l.columns.toSet -- joinKeys)
      .intersect(r.columns.toSet -- joinKeys)
    require(overlap.isEmpty,
      s"non-join columns collide across the join: $overlap " +
        "(use leftRename/rightRename)")
    joinKeys.foreach(k => require(
      l.columns.contains(k) && r.columns.contains(k),
      s"join key '$k' must exist on both sides (post-rename)"))
    VersionedTable.create(spark, mvRoot,
      stateOf(l.join(r, joinKeys), keys, sums, distincts, minmax),
      meta = Map(WatermarkKey -> (lv + rv).toString,
        LeftVKey -> lv.toString, RightVKey -> rv.toString,
        LeftKey -> norm(leftRoot), RightKey -> norm(rightRoot),
        LeftRenKey -> encodeRen(leftRename),
        RightRenKey -> encodeRen(rightRename),
        JoinKeysKey -> joinKeys.mkString(","),
        KeysKey -> keys.mkString(","),
        SumsKey -> sums.mkString(","),
        DistinctsKey -> distincts.mkString(","),
        MinMaxKey -> minmax.mkString(","),
        CdfKey -> (if (cdf) "1" else "0")))
  }

  /** Advance a join view to the bases' current versions:
    * Δ = ΔL ⋈ R_new ⊎ L_old ⋈ ΔR (the cross term lands exactly once),
    * then the same per-group delta merge as [[refresh]]. Cost is
    * O(churn × join fan-out): each delta joins one snapshot through
    * an ordinary keyed join (prunable, broadcastable when the delta
    * is small), never delta-free table × table. Both watermarks
    * advance in the SAME atomic commit as the state (batchId =
    * version sum, monotone). */
  def refreshJoin(spark: SparkSession, leftRoot: String,
      rightRoot: String, mvRoot: String): Long = {
    var attempt = 0
    while (true) {
      try return refreshJoinOnce(spark, leftRoot, rightRoot, mvRoot)
      catch {
        case _: VersionedTable.StaleRefresh if attempt < 10 =>
          attempt += 1 // re-read watermarks, recompute against them
      }
    }
    sys.error("unreachable")
  }

  /** One join-refresh attempt against the watermarks it reads NOW.
    * Throws [[VersionedTable.StaleRefresh]] if a concurrent refresh
    * commits first — the computed delta is only valid against the
    * watermark pair it was read from (see [[refreshJoin]]'s retry). */
  private[sources] def refreshJoinOnce(spark: SparkSession,
      leftRoot: String, rightRoot: String, mvRoot: String): Long = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    val (keys, sums, distincts, minmax) = definition(m)
    val joinKeys = m.meta.getOrElse(JoinKeysKey,
        sys.error("this is a single-table view — use refresh(base, mv)"))
      .split(',').toSeq.filter(_.nonEmpty)
    requireBase(m, LeftKey, leftRoot, "left base")
    requireBase(m, RightKey, rightRoot, "right base")
    val (l0, r0) = (m.meta(LeftVKey).toLong, m.meta(RightVKey).toLong)
    val (l1, r1) = (VersionedTable.headVersion(spark, leftRoot),
      VersionedTable.headVersion(spark, rightRoot))
    require(l1 >= l0 && r1 >= r0,
      s"base went backwards: left $l0->$l1, right $r0->$r1")
    if (l1 == l0 && r1 == r0) return m.version

    val (renL, renR) = (renameOf(m, LeftRenKey), renameOf(m, RightRenKey))
    val proj = (df: DataFrame) => df.select(
      (keys ++ sums ++ distincts).map(col) :+ col("_sign"): _*)
    val rNew = applyRen(
      VersionedTable.read(spark, rightRoot, Some(r1)), renR)
    val lOld = applyRen(
      VersionedTable.read(spark, leftRoot, Some(l0)), renL)
    val parts = Seq(
      if (l1 > l0) Some(proj(applyRen(
        signedChanges(spark, leftRoot, l0, l1), renL).join(rNew, joinKeys)))
      else None,
      if (r1 > r0) Some(proj(
        lOld.join(applyRen(
          signedChanges(spark, rightRoot, r0, r1), renR), joinKeys)))
      else None).flatten
    applySignedDelta(spark, mvRoot, m, keys, sums, distincts, minmax,
      applyRen(VersionedTable.read(spark, leftRoot, Some(l1)), renL)
        .join(rNew, joinKeys),
      parts.reduce(_ unionByName _), batchId = l1 + r1,
      lo = l0 + r0, hi = l1 + r1,
      extraMeta = Map(LeftVKey -> l1.toString, RightVKey -> r1.toString),
      // read-version OCC: this delta composes ONLY with the exact
      // (l0, r0) state it was computed against. Two refreshers from
      // the same watermarks can read DIFFERENT (l1, r1) windows (each
      // base advances independently), and the larger-version-sum
      // commit is not a superset of the smaller one per side — e.g.
      // winner (l0+2, r0+1) then loser (l0+1, r0+3): the loser never
      // saw the winner's left range and would advance the left
      // watermark past changes it did not apply (monotone batchId
      // alone admits it). Pinning the watermark pair read at start
      // turns that into StaleRefresh -> recompute. Single-table
      // refresh needs none of this: same-start windows are NESTED
      // there, so the later batch's absolute per-group state covers a
      // superset of the earlier one's touched groups.
      expectMeta = Map(LeftVKey -> l0.toString, RightVKey -> r0.toString))
  }

  // ---- schema evolution ----------------------------------------------------

  /** ALTER VIEW ADD aggregate columns on a live single-table view:
    * the new columns' state (nn/raw for sums, HLL sketches for
    * distincts, min/max) backfills from the base snapshot AT THE
    * VIEW'S WATERMARK (time travel — backfilling from a newer version
    * would bake in changes the watermark says are unapplied, then
    * re-apply them on the next refresh), joins the existing per-group
    * state, and commits as ONE atomic version carrying the widened
    * definition. Cost: one snapshot aggregate + a full rewrite of the
    * VIEW (O(groups), never the base). Subsequent refreshes maintain
    * the new columns like any other.
    *
    * Cascades keep working: when the view carries a change feed
    * (`cdf = true` at create), the rewrite's row delta is fully
    * derivable — every stored row is replaced — so the commit emits
    * REAL change rows (preimage deletes with typed-NULL padding for
    * the new columns, widened postimage inserts). A downstream view
    * tailing the feed crosses the evolution as an ordinary
    * delete+insert batch that nets to zero on every pre-existing
    * column (one O(groups) touched-group pass, its rescan lanes
    * included — correct by the same argument as any delta). A
    * replication consumer sees the honest full rewrite.
    *
    * Caveat, by design: the watermark snapshot must still be within
    * vacuum retention (time travel throws otherwise — recreate
    * instead). Join views evolve through [[addColumnsJoin]]. */
  def addColumns(spark: SparkSession, baseRoot: String, mvRoot: String,
      sums: Seq[String] = Seq.empty, distincts: Seq[String] = Seq.empty,
      minmax: Seq[String] = Seq.empty): Long = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    require(!m.meta.contains(JoinKeysKey),
      "this is a join view — use addColumnsJoin(left, right, mv)")
    requireBase(m, BaseKey, baseRoot, "base")
    val wm = m.meta(WatermarkKey).toLong
    addColumnsCore(spark, mvRoot, m,
      VersionedTable.read(spark, baseRoot, Some(wm)),
      sums, distincts, minmax)
  }

  /** [[addColumns]] for a JOIN view: the backfill aggregates the new
    * columns from L ⋈ R at the PINNED (LeftV, RightV) watermark pair
    * (both time travels — a newer side would double-count on the next
    * refresh), post-rename, same drift pins, same one-commit rewrite,
    * same derivable change rows for cdf views. Cost: one delta-free
    * but watermark-bounded join aggregate + the O(groups) view
    * rewrite — the join is the expensive leg, and it is exactly the
    * create-time shape, never repeated by later refreshes. */
  def addColumnsJoin(spark: SparkSession, leftRoot: String,
      rightRoot: String, mvRoot: String,
      sums: Seq[String] = Seq.empty, distincts: Seq[String] = Seq.empty,
      minmax: Seq[String] = Seq.empty): Long = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    require(m.meta.contains(JoinKeysKey),
      "this is a single-table view — use addColumns(base, mv)")
    requireBase(m, LeftKey, leftRoot, "left base")
    requireBase(m, RightKey, rightRoot, "right base")
    val joinKeys = m.meta(JoinKeysKey).split(',').toSeq.filter(_.nonEmpty)
    val (l0, r0) = (m.meta(LeftVKey).toLong, m.meta(RightVKey).toLong)
    val snap = applyRen(VersionedTable.read(spark, leftRoot, Some(l0)),
        renameOf(m, LeftRenKey))
      .join(applyRen(VersionedTable.read(spark, rightRoot, Some(r0)),
        renameOf(m, RightRenKey)), joinKeys)
    addColumnsCore(spark, mvRoot, m, snap, sums, distincts, minmax)
  }

  /** Shared evolution core: validate, backfill from `snap` (already
    * the right watermark-pinned relation), pin state↔snapshot
    * agreement in both directions, commit the widened view — with the
    * rewrite's derivable change rows when the view feeds a cascade. */
  private def addColumnsCore(spark: SparkSession, mvRoot: String,
      m: VersionedTable.Manifest, snap: DataFrame,
      sums: Seq[String], distincts: Seq[String],
      minmax: Seq[String]): Long = {
    val (keys, oldSums, oldDistincts, oldMinmax) = definition(m)
    val adds = sums ++ distincts ++ minmax
    requireCols(adds, "view")
    require(adds.nonEmpty, "addColumns: nothing to add")
    require(sums.distinct == sums && distincts.distinct == distincts &&
      minmax.distinct == minmax, s"duplicate columns within a role: $adds")
    // per-ROLE clash (one column may carry several roles, as at
    // create — q177's price_cents is both summed and min/max'ed)
    val clash = sums.intersect(keys ++ oldSums) ++
      distincts.intersect(keys ++ oldDistincts) ++
      minmax.intersect(keys ++ oldMinmax)
    require(clash.isEmpty, s"already part of the view: $clash")
    adds.foreach(c => require(snap.columns.contains(c),
      s"base has no column '$c'"))
    // the backfill IS stateOf over the new columns (same aggregate
    // the view would have stored at create); its cnt re-derives the
    // group cardinality, reused below as the drift pin
    val bf = stateOf(snap, keys, sums, distincts, minmax)
      .withColumnRenamed("cnt", "_bf_cnt").localCheckpoint(true)
    val state = VersionedTable.read(spark, mvRoot, Some(m.version))
    // inner join: by the maintenance invariant the view's groups ARE
    // the watermark snapshot's groups, with the SAME counts; pin BOTH
    // DIRECTIONS (a drifted state must refuse, not silently drop
    // groups): |join| == |state| catches view groups missing from the
    // snapshot, |join| == |bf| catches snapshot groups missing from
    // the view — an inner join alone would silently drop the latter.
    // One tiny materialization shares the backfill between the pin
    // and the rewrite.
    val joined = state.join(bf, keys, "inner").localCheckpoint(true)
    val (jc, sc, bc) = (joined.count(), state.count(), bf.count())
    require(jc == sc && jc == bc &&
      joined.filter(col("cnt") =!= col("_bf_cnt")).isEmpty,
      s"view state ($sc groups) and watermark-snapshot ($bc groups, " +
        s"$jc shared) diverge at $mvRoot — the view is corrupt or the " +
        "base was rewritten in place")
    val widened = joined.drop("_bf_cnt")
    // cdf views: the rewrite's change rows are derivable — every
    // stored row is replaced. Written in the NEW schema (preimages
    // pad the added columns with typed NULLs) so readChanges aligns
    // them like any other version's feed.
    val change: Seq[String] =
      if (!m.meta.get(CdfKey).contains("1")) Seq.empty
      else {
        val newSchema = widened.schema
        val pre = state.select(newSchema.fields.toSeq.map { f =>
          if (state.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*).withColumn("_change_type", lit("delete"))
        val post = widened.withColumn("_change_type", lit("insert"))
        VersionedTable.writeChangeData(spark, mvRoot,
          pre.unionByName(post))
      }
    VersionedTable.commit(spark, mvRoot, Some(m), widened.schema,
      VersionedTable.writeData(spark, mvRoot, widened),
      meta = m.meta +
        (SumsKey -> (oldSums ++ sums).mkString(",")) +
        (DistinctsKey -> (oldDistincts ++ distincts).mkString(",")) +
        (MinMaxKey -> (oldMinmax ++ minmax).mkString(",")),
      changeFiles = change,
      op = "ALTER VIEW ADD COLUMNS")
  }

  /** [[addColumns]] for sum columns only. */
  def addSums(spark: SparkSession, baseRoot: String, mvRoot: String,
      newSums: Seq[String]): Long =
    addColumns(spark, baseRoot, mvRoot, sums = newSums)

  // ---- cascade orchestration ----------------------------------------------

  /** Refresh a SET of views in dependency order — the dataflow-graph
    * maintenance step. The DAG comes from each view's pinned base
    * path(s) (`mv.base` / `mv.left` + `mv.right` manifest meta, set at
    * create): a view that is another listed view's base refreshes
    * first, so downstream views maintain off the freshest upstream
    * commits in ONE pass (a cdf view's own refresh commits are the
    * change feed its dependents read). Bases outside `views` are
    * consumed as-is. Views whose bases have not advanced skip at the
    * cost of a manifest read — refreshing an up-to-date DAG is
    * O(views) metadata, no data motion. Returns view -> resulting
    * version. Diamonds are fine (shared upstream refreshes once);
    * a dependency cycle refuses (cannot arise from create(), which
    * pins bases that must already exist — defense against hand-edited
    * meta). `parallelism > 1` refreshes INDEPENDENT same-level views
    * concurrently (Kahn levels are the safety argument: every edge
    * crosses levels, and per-root commits are OCC'd), cutting a wide
    * DAG's wall clock to its critical path. */
  def refreshAll(spark: SparkSession, views: Seq[String],
      parallelism: Int = 1): Map[String, Long] = {
    require(parallelism > 0, s"parallelism must be positive: $parallelism")
    val nodes = views.map(norm).distinct
    val deps: Map[String, Seq[String]] = nodes.map { v =>
      val m = VersionedTable.snapshot(spark, v)
      require(m.meta.contains(KeysKey), s"$v is not a materialized view")
      val ds =
        if (m.meta.contains(JoinKeysKey))
          Seq(m.meta(LeftKey), m.meta(RightKey))
        else Seq(m.meta(BaseKey))
      v -> ds
    }.toMap
    // Kahn over the listed-view-only edges, tracking each node's LEVEL
    // (longest dependency chain below it): edges only run level k →
    // > k, so same-level views are independent by construction and may
    // refresh concurrently
    val inSet = nodes.toSet
    val order = collection.mutable.ArrayBuffer.empty[String]
    val pending = collection.mutable.Map.from(deps.view.mapValues(
      _.count(inSet)))
    val level = collection.mutable.Map.from(nodes.map(_ -> 0))
    val ready = collection.mutable.Queue.from(
      nodes.filter(pending(_) == 0))
    val dependents: Map[String, Seq[String]] = nodes.flatMap(v =>
      deps(v).filter(inSet).map(_ -> v)).groupMap(_._1)(_._2)
    while (ready.nonEmpty) {
      val v = ready.dequeue()
      order += v
      dependents.getOrElse(v, Seq.empty).foreach { w =>
        level(w) = math.max(level(w), level(v) + 1)
        pending(w) -= 1
        if (pending(w) == 0) ready += w
      }
    }
    require(order.size == nodes.size,
      s"dependency cycle among views ${nodes.toSet -- order}")
    def one(v: String): Long = deps(v) match {
      case Seq(l, r) => refreshJoin(spark, l, r, v)
      case Seq(b) => refresh(spark, b, v)
      case _ => sys.error("unreachable")
    }
    val out = collection.mutable.Map.empty[String, Long]
    order.groupBy(level).toSeq.sortBy(_._1).foreach { case (_, vs) =>
      val par = math.min(parallelism, vs.size)
      if (par <= 1) vs.foreach(v => out(v) = one(v))
      else {
        // concurrent same-level refreshes: safe because commits are
        // OCC'd per view root (expectMeta + StaleRefresh retry) and a
        // SparkSession is thread-safe for independent jobs. Every
        // future is awaited to COMPLETION (Try-wrapped, so no
        // fail-fast) before any failure rethrows — the caller must
        // never observe refreshAll "done" while sibling refreshes are
        // still committing in background threads.
        val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fs = vs.map(v => scala.concurrent.Future(v -> one(v))
            .transform(scala.util.Success(_)))
          val settled = scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(fs),
            scala.concurrent.duration.Duration.Inf)
          settled.foreach {
            case scala.util.Success((v, ver)) => out(v) = ver
            case _ =>
          }
          settled.collectFirst { case scala.util.Failure(e) => e }
            .foreach(throw _)
        } finally { pool.shutdown(); () }
      }
    }
    out.toMap
  }

  // ---- read --------------------------------------------------------------

  /** The view with SQL aggregate semantics restored: (keys..., cnt,
    * sum_c...) where `sum_c` is NULL iff the group holds no non-null
    * value of c — exactly `SELECT keys, COUNT(*) AS cnt, SUM(c) AS
    * sum_c ... GROUP BY keys` over the base snapshot(s) at the
    * watermark. */
  def read(spark: SparkSession, mvRoot: String,
      version: Option[Long] = None): DataFrame = {
    val m = VersionedTable.snapshot(spark, mvRoot, version)
    val (keys, sums, distincts, minmax) = definition(m)
    VersionedTable.read(spark, mvRoot, Some(m.version))
      .select(keys.map(col) ++ (col("cnt") +: sums.map(c =>
        when(col(s"nn_$c") > 0, col(s"raw_$c")).as(s"sum_$c"))) ++
        distincts.map(c => // an all-null group has no sketch: 0, not NULL
          coalesce(hll_sketch_estimate(col(s"hll_$c")), lit(0L))
            .as(s"distinct_$c")) ++
        minmax.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))): _*)
  }

  /** The last refresh's rescan prune audit: (files read, files total)
    * of the partial-recompute snapshot pass. (0, 0) = the refresh ran
    * no rescan (pure delta lanes, or the rescan key set was empty);
    * (-1, -1) = join view, pruned by filter pushdown rather than the
    * manifest pruner; (-2, -2) = single-table view whose touched keys
    * void the bounding box (a NULL-ish or unboxable group key) —
    * full snapshot pass by necessity. `kept ≈ total` on every refresh
    * of a minmax/hll view means the base is NOT clustered by the
    * group key — see the class doc. */
  def rescanProfile(spark: SparkSession, mvRoot: String): (Int, Int) = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    (m.meta.get("mv.rescan.files_kept").fold(0)(_.toInt),
      m.meta.get("mv.rescan.files_total").fold(0)(_.toInt))
  }

  /** Last applied base version (single-table views). */
  def watermark(spark: SparkSession, mvRoot: String): Long = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    require(!m.meta.contains(JoinKeysKey),
      "this is a join view (its batch watermark is a version SUM, " +
        "not a base version) — use watermarks(mv)")
    m.meta(WatermarkKey).toLong
  }

  /** Last applied (left, right) base versions (join views). */
  def watermarks(spark: SparkSession, mvRoot: String): (Long, Long) = {
    val m = VersionedTable.snapshot(spark, mvRoot)
    require(m.meta.contains(JoinKeysKey),
      "this is a single-table view — use watermark(mv)")
    (m.meta(LeftVKey).toLong, m.meta(RightVKey).toLong)
  }
}
