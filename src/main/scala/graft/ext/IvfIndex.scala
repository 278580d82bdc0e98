package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.VersionedTable

/** Incrementally-maintained IVF index — the production half of the
  * persisted-index story ([[Similarity.writeIvfIndex]] is build-once;
  * a 100 TB corpus ingesting daily cannot rebuild per batch).
  *
  * The posting lists live in a [[VersionedTable]] CLUSTERED by
  * `centroid_id` (range-partitioned, sorted write → tight per-file
  * centroid stats), and are maintained from the corpus table's CHANGE
  * FEED exactly like a materialized view: inserts assign to the FROZEN
  * coarse quantizer (map-only, delta-sized) and land in their
  * centroids' files; deletes re-derive their centroid from the change
  * feed's preimage row (the old vector rides the feed) and remove by
  * (centroid_id, id) — so the keyed copy-on-write rewrite touches only
  * the churned centroids' files, never the index. One atomic
  * [[VersionedTable.streamingApply]] commit carries the applied delta,
  * the corpus-version watermark, and the drift counters; replays are
  * idempotent (batch id = corpus version).
  *
  * The quantizer is fixed at build (nlist never grows with the
  * corpus — the q183 lesson); what churn degrades is how well the
  * frozen centroids still cover new data. [[drift]] tracks exactly
  * that: the running mean assignment cosine of post-build inserts vs
  * the build-time mean, and [[recommendRetrain]] flags when the gap
  * exceeds a tolerance — retraining is a deliberate rebuild
  * ([[rebuild]]), never an implicit one.
  *
  * Exactness contract unchanged from [[Similarity.ivfTopK]]: a full
  * probe (`nprobe = nlist`) of the refreshed index ≡ brute force over
  * the post-churn corpus — the oracle gate for incremental
  * maintenance (q186).
  *
  * IVF-PQ mode (`create(pq = Some((m, ks)))`): the posting payload is
  * an m-code [[Pq]] word instead of the raw vector — at 100 TB the
  * probed partitions shrink ~dim·4/m-fold and fit executor memory —
  * and [[probe]] becomes ADC-preselect (codes only) → exact re-rank
  * against the corpus at the lists watermark. Maintenance is the SAME
  * engine: the delta encodes against the frozen generation's
  * codebooks, rebuild retrains quantizer AND codebooks together, the
  * OCC pins cover both, and the full-probe ≡ brute-force contract
  * survives because the re-rank is exact (q192).
  */
object IvfIndex {

  private val CorpusKey = "ivf.corpus"
  private val WatermarkKey = "ivf.watermark"
  private val NlistKey = "ivf.nlist"
  private val IdKey = "ivf.id_col"
  private val VecKey = "ivf.vec_col"
  private val BuildSimSumKey = "ivf.build_sim_sum"
  private val BuildNKey = "ivf.build_n"
  private val ChurnSimSumKey = "ivf.churn_sim_sum"
  private val ChurnNKey = "ivf.churn_n"
  // hot-centroid sub-split policy (see [[partsFor]]); absent on
  // legacy indexes = never sub-split (the pre-r18 layout)
  private val RowsPerFileKey = "ivf.rows_per_file"
  // each build generation's quantizer lives in its own immutable dir,
  // NAMED BY the lists manifest meta — a time-travel probe at any
  // lists version pairs with exactly the quantizer that version was
  // assigned against, across any number of rebuilds
  private val CentroidsDirKey = "ivf.centroids_dir"
  // IVF-PQ mode: the posting payload is an m-code [[Pq]] word instead
  // of the raw vector (the lists shrink ~dim·4/m-fold — at 100 TB the
  // probed partitions fit executor memory), the codebooks live in a
  // per-generation immutable dir exactly like the quantizer, and the
  // probe ADC-preselects then re-ranks EXACTLY against the corpus
  // table at the lists watermark
  private val PqDirKey = "ivf.pq_dir"
  private val PqMKey = "ivf.pq_m"
  private val PqKsKey = "ivf.pq_ks"
  private val PqDimKey = "ivf.pq_dim"
  private val PqSeedKey = "ivf.pq_seed"
  // "1" = codes quantize the RESIDUAL v − centroid (the canonical
  // IVF-PQ layout — a small codebook reconstructs residuals far
  // better than raw vectors); "0"/absent = raw-vector codes
  private val PqResidualKey = "ivf.pq_residual"
  // codebook-fidelity drift (the second retrain signal, r17 verdict
  // item 2): mean squared reconstruction error of the BUILD encode vs
  // the running mean over post-build insert deltas. Assignment cosine
  // ([[drift]]) cannot see churn that stays in-distribution for the
  // coarse quantizer but drifts for the codebooks — bounded-pool ADC
  // recall would degrade invisibly (covering-pool re-ranks are exact
  // by construction, so no gate trips). The counters ride the SAME
  // refresh commit as the assignment counters — never detached from
  // the applied delta.
  private val PqBuildErrSumKey = "ivf.pq_build_err_sum"
  private val PqBuildNKey = "ivf.pq_build_n"
  private val PqChurnErrSumKey = "ivf.pq_churn_err_sum"
  private val PqChurnNKey = "ivf.pq_churn_n"
  // OPQ learned-rotation generations (0 = plain PQ): codes quantize
  // R·residual; R rides the generation dir as j = -1 rows
  private val PqOpqItersKey = "ivf.pq_opq_iters"

  private def listsRoot(path: String) = s"$path/lists"

  /** Nearest centroid + its cosine, one map-only pass. Tie-break is
    * lowest centroid_id (struct min on (-cosine, id)) — identical to
    * [[Similarity.nearestCentroids]] with topN = 1. */
  private def assignWithSim(df: DataFrame, vCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val best =
      if (centroids.size <= 64)
        array_min(array(centroids.zipWithIndex.map { case (cv, i) =>
          struct((-Similarity.cosine(col(vCol), array(cv.map(lit): _*)))
            .as("neg"), lit(i).as("centroid_id"))
        }: _*))
      else
        array_min(transform(typedlit(centroids), (cv, i) =>
          struct((-Similarity.cosine(col(vCol), cv)).as("neg"),
            i.cast("int").as("centroid_id"))))
    df.withColumn("_best", best)
      .withColumn("centroid_id", col("_best.centroid_id"))
      .withColumn("assign_sim", -col("_best.neg"))
      .drop("_best")
  }

  private def readCentroids(spark: SparkSession, path: String,
      meta: Map[String, String]): Seq[Seq[Double]] =
    spark.read.parquet(
        s"$path/${meta.getOrElse(CentroidsDirKey, "centroids")}")
      .orderBy("centroid_id").collect()
      .map(_.getSeq[Number](1).map(_.doubleValue()).toSeq).toSeq

  /** Cluster the posting rows so each data file covers a tight
    * centroid range: range-shuffle + in-file sort on centroid_id makes
    * both the probe's `readWhere` and the refresh's keyed rewrite
    * prune by manifest stats. The partition count is EXPLICIT (one per
    * centroid): an unnumbered range shuffle lets AQE coalesce a small
    * build into one file, which would weld every posting list into a
    * single rewrite unit; empty range partitions write nothing, so a
    * delta-sized refresh still lands only its churned centroids'
    * files. */
  private def clustered(assigned: DataFrame, nParts: Int,
      payload: String = "nv"): DataFrame =
    assigned.select(col("centroid_id"), col("neighbor_id"), col(payload))
      .repartitionByRange(math.max(1, nParts),
        col("centroid_id"), col("neighbor_id"))
      .sortWithinPartitions("centroid_id")

  /** Partition count for the posting-list layout: one range partition
    * per centroid, SUB-SPLIT past `rowsPerFile` rows — the
    * hot-centroid skew fix (r17 verdict item 5): real embedding
    * corpora cluster, so at one-partition-per-centroid a hot centroid
    * becomes a single giant file that every touching refresh rewrites
    * whole and every probe loads whole. The range partitioner samples
    * quantiles over (centroid_id, neighbor_id), so extra partitions
    * land where the rows are — a hot centroid splits across many
    * bounded files on its neighbor_id ranges while every file still
    * covers a tight centroid range (the manifest prune is unchanged;
    * spec-pinned). Capped so a rogue rowsPerFile cannot explode the
    * manifest. */
  private def partsFor(nlist: Int, rows: Long, rowsPerFile: Long): Int = {
    val rpf = math.max(1L, rowsPerFile)
    // overflow-safe ceiling: the legacy fallback passes Long.MaxValue
    // as rpf, where (rows + rpf - 1) would wrap negative and survive
    // only by accident of the clamps
    val ceil = rows / rpf + (if (rows % rpf == 0) 0L else 1L)
    math.max(math.max(1, nlist), math.min(1L << 20, ceil)).toInt
  }

  /** Build the index over the corpus table's CURRENT version: train or
    * sample the coarse quantizer, assign every vector (one map-only
    * scan), land the posting lists as version 1 of a centroid-
    * clustered VersionedTable whose manifest meta pins the corpus
    * root, the watermark, and the build-time assignment-quality
    * baseline. Returns the lists version. */
  def create(spark: SparkSession, corpusRoot: String, idCol: String,
      vecCol: String, nlist: Int, path: String,
      trainIters: Int = 0,
      // Some((m, ks)) = IVF-PQ: posting payloads become m-code [[Pq]]
      // words against a seeded per-generation codebook; by default the
      // codes quantize the RESIDUAL v − centroid (canonical IVF-PQ —
      // better reconstruction per bit; pqResidual = false stores
      // raw-vector codes)
      pq: Option[(Int, Int)] = None, pqSeed: Int = 7,
      pqResidual: Boolean = true,
      // hot-centroid cap ([[partsFor]]): sub-split the layout past
      // this many rows per file; persisted, so refresh/rebuild keep
      // the same policy
      rowsPerFile: Long = 1L << 20,
      // OPQ: learn an orthogonal rotation with this many alternating
      // Lloyd/Procrustes rounds ([[Pq.opqFit]]) and quantize
      // R·residual — better reconstruction per bit on correlated
      // embeddings, spec-certified (build error ≤ the plain seeded
      // fit's, PqSpec/IvfIndexSpec). 0 = the plain seeded fit. Like
      // [[Pq.refine]], a learned model is engine-deterministic only
      // per-plan (float-mean reductions), so oracle-gated queries
      // stay on 0; R persists per generation and rides rebuilds.
      pqOpqIters: Int = 0): Long = {
    val (lists, meta, release) = buildState(spark, corpusRoot, idCol,
      vecCol, nlist, path, trainIters, pq, pqSeed, pqResidual,
      rowsPerFile, pqOpqIters)
    try VersionedTable.create(spark, listsRoot(path), lists, meta = meta)
    finally release()
  }

  /** v − centroid(centroid_id), the quantity residual codes encode.
    * A literal-lookup zip — map-only, codegen'd. */
  private def residualCol(vCol: String,
      centroids: Seq[Seq[Double]]): Column =
    zip_with(col(vCol),
      element_at(typedlit(centroids), col("centroid_id") + 1),
      (x, c) => x.cast("double") - c)

  /** One build generation: train/sample the quantizer into a FRESH
    * immutable dir, assign the corpus (one map-only scan), return the
    * clustered lists + the full meta (which NAMES the quantizer dir —
    * the time-travel pairing). Shared by [[create]] and [[rebuild]]. */
  private def buildState(spark: SparkSession, corpusRoot: String,
      idCol: String, vecCol: String, nlist: Int, path: String,
      trainIters: Int, pq: Option[(Int, Int)],
      pqSeed: Int, pqResidual: Boolean,
      rowsPerFile: Long,
      pqOpqIters: Int = 0): (DataFrame, Map[String, String], () => Unit) = {
    require(nlist > 0, s"need nlist > 0, got $nlist")
    val cv = VersionedTable.headVersion(spark, corpusRoot)
    val corpus = VersionedTable.read(spark, corpusRoot, Some(cv))
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val centroids =
      if (trainIters > 0)
        Similarity.trainCentroids(corpus, "neighbor_id", "nv", nlist,
          trainIters)
      else Similarity.sampleCentroids(corpus, "neighbor_id", "nv", nlist)
    import spark.implicits._
    val cdir =
      s"centroids_${java.util.UUID.randomUUID().toString.take(8)}"
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("centroid_id", "weights")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/$cdir")
    val assigned = assignWithSim(corpus, "nv", centroids)
    def baseMetaOf(simSum: Double, n: Long) = Map(
      CorpusKey -> corpusRoot,
      WatermarkKey -> cv.toString,
      NlistKey -> nlist.toString,
      IdKey -> idCol, VecKey -> vecCol,
      CentroidsDirKey -> cdir,
      BuildSimSumKey -> simSum.toString, BuildNKey -> n.toString,
      ChurnSimSumKey -> "0.0", ChurnNKey -> "0",
      RowsPerFileKey -> rowsPerFile.toString)
    // The build reads the assigned/encoded corpus SEVERAL times: the
    // audit aggregate(s), clustered()'s repartitionByRange SAMPLING
    // pass, and the data write itself. The nlist-way assignment and
    // the m-way PQ encode are the most expensive expressions in the
    // engine — pin the frame once (spills past memory at scale) so
    // they run ONE pass instead of 3-4 (guide §1.2/§5: reuse is 3-4x
    // recompute here, measured 13 s → ~6 s on the q199 build).
    // Callers release via the returned cleanup thunk AFTER the commit.
    pq match {
      case None =>
        val pinned = assigned
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // build-quality baseline: mean assignment cosine over the
        // corpus (the drift metric's denominator)
        val base = pinned.agg(sum(col("assign_sim")).as("s"),
          count(lit(1)).as("n")).head()
        val (simSum, n) = (base.getDouble(0), base.getLong(1))
        // the corpus row count just computed sizes the layout: one
        // range partition per centroid, sub-split past rowsPerFile
        // (hot-centroid skew cap — see partsFor)
        val nParts = partsFor(nlist, n, rowsPerFile)
        (clustered(pinned, nParts), baseMetaOf(simSum, n),
          () => { pinned.unpersist(); () })
      case Some((m, ks)) =>
        // the PQ codebooks are a per-generation immutable artifact,
        // named by the manifest meta exactly like the quantizer —
        // time-travel probes decode any version with ITS codebooks.
        // Residual mode fits AND encodes on v − centroid; OPQ mode
        // (pqOpqIters > 0) learns an orthogonal rotation on top and
        // fits/encodes on R·residual — R rides the SAME generation
        // dir (j = -1 rows), so time travel pairs it like the rest.
        val toCode0 = assigned.withColumn("_raw",
          if (pqResidual) residualCol("nv", centroids)
          else transform(col("nv"), x => x.cast("double")))
        val (rot, model) =
          if (pqOpqIters > 0) {
            val (r, mdl) = Pq.opqFit(toCode0, "neighbor_id", "_raw",
              m, ks, pqOpqIters, pqSeed)
            (Some(r), mdl)
          } else
            (None, Pq.fit(toCode0, "neighbor_id", "_raw", m, ks, pqSeed))
        val toCode = toCode0.withColumn("_pqv",
          rot.fold(col("_raw"))(r => Pq.rotate(col("_raw"), r)))
        val pdir = s"pq_${java.util.UUID.randomUUID().toString.take(8)}"
        val cbRows = model.codebooks.zipWithIndex.flatMap {
          case (cb, j) => cb.zipWithIndex.map { case (w, c) => (j, c, w) }
        }
        val rotRows = rot.toSeq.flatMap(_.zipWithIndex.map {
          case (row, i) => (-1, i, row) })
        (cbRows ++ rotRows).toDF("j", "c", "weights")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/$pdir")
        val encoded = Pq.encode(toCode, "_pqv", model)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // BOTH build baselines in ONE pass over the pinned encode:
        // mean assignment cosine (quantizer drift denominator) and
        // mean squared quantization error of the build encode (the
        // codebook-drift denominator [[pqDrift]] tracks per refresh)
        val base = encoded.agg(sum(col("assign_sim")).as("ss"),
          count(lit(1)).as("n"),
          coalesce(sum(Pq.quantErr(col("_pqv"), col("pq_code"), model)),
            lit(0.0)).as("es")).head()
        val (simSum, n) = (base.getDouble(0), base.getLong(1))
        val nParts = partsFor(nlist, n, rowsPerFile)
        (clustered(encoded, nParts, "pq_code"),
          baseMetaOf(simSum, n) ++ Map(PqDirKey -> pdir,
            PqMKey -> m.toString,
            PqKsKey -> ks.toString, PqDimKey -> model.dim.toString,
            PqSeedKey -> pqSeed.toString,
            PqResidualKey -> (if (pqResidual) "1" else "0"),
            PqOpqItersKey -> pqOpqIters.toString,
            PqBuildErrSumKey -> base.getDouble(2).toString,
            PqBuildNKey -> n.toString,
            PqChurnErrSumKey -> "0.0", PqChurnNKey -> "0"),
          () => { encoded.unpersist(); () })
    }
  }

  /** The frozen PQ codebooks a lists version decodes with, plus the
    * generation's OPQ rotation when one was learned (None when the
    * index stores raw vectors). Rotation rows ride the same dir as
    * j = -1, so the artifact stays one immutable generation unit
    * (time travel and the [[vacuumHistory]] GC pair it as a whole). */
  private def readPq(spark: SparkSession, path: String,
      meta: Map[String, String])
      : Option[(Pq.PqModel, Option[Seq[Seq[Double]]])] =
    meta.get(PqDirKey).map { pdir =>
      val all = spark.read.parquet(s"$path/$pdir")
        .orderBy("j", "c").collect()
      val (rotRows, rows) = all.partition(_.getInt(0) < 0)
      val m = meta(PqMKey).toInt
      val ks = meta(PqKsKey).toInt
      val cbs = rows.grouped(ks).map(_.map(
        _.getSeq[Number](2).map(_.doubleValue()).toSeq).toSeq).toSeq
      require(cbs.size == m && cbs.forall(_.size == ks),
        s"$path/$pdir: expected $m x $ks codebooks, got " +
          s"${cbs.size} x ${cbs.headOption.fold(0)(_.size)}")
      val dim = meta(PqDimKey).toInt
      val rot =
        if (rotRows.isEmpty) None
        else {
          val r = rotRows.map(
            _.getSeq[Number](2).map(_.doubleValue()).toSeq).toSeq
          require(r.size == dim && r.forall(_.size == dim),
            s"$path/$pdir: rotation must be $dim x $dim, got " +
              s"${r.size} x ${r.headOption.fold(0)(_.size)}")
          Some(r)
        }
      (Pq.PqModel(dim, m, ks, cbs), rot)
    }

  /** Apply the corpus change feed (watermark, current] to the posting
    * lists in ONE atomic commit: feed deletes re-derive their centroid
    * from the preimage vector and remove by (centroid_id, id); feed
    * inserts assign against the frozen quantizer and land in their
    * centroids' files; the watermark and the accumulated drift
    * counters ride the same commit (a reader can never observe them
    * detached from the applied delta). Work is O(delta) assignment +
    * a keyed rewrite of the churned centroids' files — never a corpus
    * or index scan. No-op (O(manifest)) when the corpus has not
    * advanced. Returns the lists version.
    *
    * Safe against a CROSSED [[rebuild]]: the commit pins the quantizer
    * generation and the watermark the delta was assigned against
    * (`expectMeta`), so a rebuild (or another refresh) landing between
    * this refresh's read and its commit surfaces as
    * [[VersionedTable.StaleRefresh]] and the batch recomputes against
    * the NEW generation instead of landing old-generation centroid ids
    * into the new lists. Without the pin, rebuild's
    * [[VersionedTable.replace]] would also have wiped the
    * `stream.ivf_refresh.batch` replay guard, making the stale payload
    * look brand-new — the exact race a live
    * [[graft.streaming.Streams.maintainOnChanges]] refresher running
    * beside an operator-issued rebuild hits. Concurrent SAME-generation
    * refreshers still collapse to one commit (the replay guard is
    * checked before the pins). */
  def refresh(spark: SparkSession, path: String): Long =
    refresh(spark, path, () => ())

  /** Test seam: `beforeCommit` runs between the delta computation and
    * the guarded commit — the window a concurrent [[rebuild]] or
    * refresh lands in. Production callers use the no-arg overload. */
  private[graft] def refresh(spark: SparkSession, path: String,
      beforeCommit: () => Unit): Long = {
    var attempt = 0
    while (true) {
      try return refreshOnce(spark, path, beforeCommit)
      catch {
        case _: VersionedTable.StaleRefresh if attempt < 5 => attempt += 1
      }
    }
    sys.error("unreachable")
  }

  private def refreshOnce(spark: SparkSession, path: String,
      beforeCommit: () => Unit): Long = {
    val root = listsRoot(path)
    val lv = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root: no ivf index"))
    val meta = VersionedTable.metaOf(spark, root, Some(lv))
    val corpusRoot = meta.getOrElse(CorpusKey,
      throw new IllegalArgumentException(s"$path is not an ivf index"))
    val wm = meta(WatermarkKey).toLong
    val cv = VersionedTable.currentVersion(spark, corpusRoot).getOrElse(
      throw new IllegalArgumentException(s"$corpusRoot: corpus is gone"))
    if (cv <= wm) return lv
    val (idCol, vecCol) = (meta(IdKey), meta(VecKey))
    val centroids = readCentroids(spark, path, meta)
    // the feed is delta-sized; it drives the delete-assign, the
    // insert-assign, AND the drift aggregate — pin it once
    val ch = VersionedTable.readChanges(spark, corpusRoot, wm, Some(cv))
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        col("_change_type"), col("_commit_version"))
      .localCheckpoint(true)
    // delete keys: EVERY preimage's (old centroid, id) — an update or
    // a delete-and-reinsert must clear the pair its OLD vector lived
    // under, even when the id nets out to an insert at a new centroid
    val dels = assignWithSim(ch.filter(col("_change_type") === "delete"),
      "nv", centroids)
      .select("centroid_id", "neighbor_id").dropDuplicates()
    // inserts: the per-id NET-LAST change across the range. A row
    // inserted and later deleted inside (wm, cv] must NOT land
    // (streamingApply is delete-then-upsert, so replaying both sides
    // unordered would resurrect it); within one version the insert is
    // the update's postimage and wins over its paired preimage.
    val netW = Window.partitionBy("neighbor_id")
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "insert", 1).otherwise(0).desc)
    val ins = assignWithSim(
      ch.withColumn("_rn", row_number().over(netW))
        .filter(col("_rn") === 1 && col("_change_type") === "insert")
        .drop("_rn"),
      "nv", centroids)
    // IVF-PQ: the delta encodes against the FROZEN generation's
    // codebooks (same pinning as the quantizer — a crossed rebuild
    // throws StaleRefresh below before stale codes could land), and
    // its reconstruction error accumulates into the codebook-drift
    // counters riding this same commit (replays no-op with it).
    // BOTH churn aggregates (assignment cosine + quantization error)
    // fold into ONE job over the pinned delta — the buildState
    // discipline (guide §1.2: the encode is the expensive expression;
    // never run a second pass just to aggregate a column the first
    // pass already carried).
    val (payload, insertRows, pqErrMeta, simRow) =
      readPq(spark, path, meta) match {
        case Some((model, rot)) =>
          // OPQ generations encode (and measure drift) in the SAME
          // rotated space the codebooks were fit in
          val rawCol =
            if (meta.get(PqResidualKey).contains("1"))
              residualCol("nv", centroids)
            else transform(col("nv"), x => x.cast("double"))
          val toCode = ins.withColumn("_pqv",
            rot.fold(rawCol)(r => Pq.rotate(rawCol, r)))
          val enc = Pq.encode(toCode, "_pqv", model)
            .localCheckpoint(true) // the aggs must not re-encode
          val er = enc.agg(
            coalesce(sum(col("assign_sim")), lit(0.0)).as("ss"),
            count(lit(1)).as("n"),
            coalesce(sum(
              Pq.quantErr(col("_pqv"), col("pq_code"), model)),
              lit(0.0)).as("es")).head()
          val errSum = meta.get(PqChurnErrSumKey).fold(0.0)(_.toDouble) +
            er.getDouble(2)
          val errN = meta.get(PqChurnNKey).fold(0L)(_.toLong) +
            er.getLong(1)
          ("pq_code", enc, Map(PqChurnErrSumKey -> errSum.toString,
            PqChurnNKey -> errN.toString), er)
        case None =>
          ("nv", ins, Map.empty[String, String],
            ins.agg(coalesce(sum(col("assign_sim")), lit(0.0)).as("s"),
              count(lit(1)).as("n")).head())
      }
    val churnSum = meta(ChurnSimSumKey).toDouble + simRow.getDouble(0)
    val churnN = meta(ChurnNKey).toLong + simRow.getLong(1)
    beforeCommit()
    // the delta clusters under the same sub-split policy as the build
    // (simRow's count is the delta size — already computed above)
    val insParts = partsFor(meta(NlistKey).toInt, simRow.getLong(1),
      meta.get(RowsPerFileKey).fold(Long.MaxValue)(_.toLong))
    VersionedTable.streamingApply(spark, root,
      inserts = clustered(insertRows, insParts, payload),
      deleteKeys = dels, keys = Seq("centroid_id", "neighbor_id"),
      queryName = "ivf_refresh", batchId = cv,
      extraMeta = Map(WatermarkKey -> cv.toString,
        ChurnSimSumKey -> churnSum.toString,
        ChurnNKey -> churnN.toString) ++ pqErrMeta,
      // pin the payload's assumptions: the delta was assigned against
      // THIS quantizer generation at THIS watermark; a crossed rebuild
      // (new generation, replay guard wiped by replace) or a crossed
      // refresh (watermark advanced) throws StaleRefresh instead of
      // landing stale centroid ids — refresh() recomputes
      expectMeta = Map(
        CentroidsDirKey -> meta.getOrElse(CentroidsDirKey, "centroids"),
        WatermarkKey -> wm.toString))
  }

  /** Probe the maintained index. Output and tie-break discipline match
    * [[Similarity.ivfTopK]]: (query_id, neighbor_id, cosine_sim,
    * rank). Only the probed centroids' files are read — the centroid
    * predicate goes through the manifest-stats pruner
    * ([[pruneAudit]] is the per-call proof). Full probe (`nprobe =
    * nlist`) ≡ brute force over the corpus version the watermark
    * pins.
    *
    * On an IVF-PQ index the probed lists carry CODES: ADC preselects
    * the top `pool` candidates per query (codes + literal codebooks —
    * the original vectors are untouched), then the pool re-ranks with
    * EXACT cosine against the corpus table AT THE LISTS WATERMARK (a
    * bounded id-join — the only point full vectors are read). With
    * `pool` covering the probed candidates the re-rank sees everything
    * ADC saw, so a full probe stays ≡ brute force — the same oracle
    * contract as the raw-vector index (q192). `pool` ≤ 0 means
    * max(4·k, 50); it is ignored on a raw-vector index.
    *
    * Retention coupling: the PQ re-rank reads the corpus AT THE LISTS
    * WATERMARK, so corpus vacuum must retain every index's watermark
    * version (and any older version as-of probes should answer from)
    * — a vacuum past it makes the probe refuse LOUDLY (never a
    * silently-wrong answer from leftover codes) until a refresh or
    * rebuild moves the watermark forward; spec-pinned in IndexOpsSpec.
    *
    * The bounded-pool re-rank compresses the candidate ids into ≤ 128
    * covering range predicates ([[IdPredicate]] — plan size constant
    * in |queries|·pool), so the corpus read prunes by manifest
    * id-stats — which bites when the corpus clusters by id (ingest
    * order usually does) and degrades to a full scan otherwise, the
    * same layout caveat as the MV rescan lane (SCALING.md).
    *
    * `where` = FILTERED search (the production "top-k among rows
    * matching a predicate"): candidates are semi-joined against the
    * corpus rows satisfying the predicate AT THE LISTS WATERMARK
    * — BEFORE the PQ pool cut, so a bounded pool is not starved by a
    * selective predicate (the classic post-filter trap). A full probe
    * stays ≡ brute force over the FILTERED corpus (q193). The
    * predicate sees the corpus table's own columns and pushes down to
    * its scan. */
  def probe(queries: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int, nprobe: Int,
      version: Option[Long] = None, pool: Int = 0,
      where: Option[Column] = None): DataFrame = {
    val spark = queries.sparkSession
    // `version` = lists-table TIME TRAVEL: the manifest meta at that
    // version names the quantizer generation its rows were assigned
    // against, so an as-of probe stays exact across rebuilds
    val meta = VersionedTable.metaOf(spark, listsRoot(path), version)
    val centroids = readCentroids(spark, path, meta)
    require(nprobe > 0 && nprobe <= centroids.size,
      s"need 0 < nprobe <= ${centroids.size}, got $nprobe")
    val probes = Similarity.nearestCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "qv", centroids, topN = nprobe).persist()
    val probed = probes.select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted // nlist-bounded driver set
    val lists = VersionedTable.readWhere(spark, listsRoot(path),
      col("centroid_id").isin(probed.map(Integer.valueOf): _*), version)
    // predicate-allowed ids, at the same corpus snapshot the lists
    // reflect (the predicate pushes down to the corpus scan; only the
    // id column survives the projection)
    val allowed = where.map { pred =>
      VersionedTable.read(spark, meta(CorpusKey),
          Some(meta(WatermarkKey).toLong))
        .filter(pred).select(col(meta(IdKey)).as("neighbor_id"))
    }
    def keep(df: DataFrame): DataFrame =
      allowed.fold(df)(ids => df.join(ids, Seq("neighbor_id"),
        "left_semi"))
    val scored = readPq(spark, path, meta) match {
      case None =>
        keep(probes.join(lists, Seq("centroid_id"))
          .filter(col("query_id") =!= col("neighbor_id")))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosine(col("qv"), col("nv")).as("cosine_sim"))
      case Some((model, rot)) =>
        val effPool = if (pool > 0) pool else math.max(4 * k, 50)
        val pw = Window.partitionBy("query_id")
          .orderBy(col("adc_sim").desc, col("neighbor_id"))
        // EVERY (query, centroid)-only ADC term is hoisted to the
        // probes side of the join (|queries|·nprobe rows) and scoring
        // a candidate is m table lookups ([[Pq.subDotLut]] — bit-
        // identical to the inline form): the OPQ rotation (each query
        // rotated once, each centroid on the driver), the query/
        // centroid sub-dot LUTs, q·c, ‖c‖², ‖q‖. HOF lambdas are
        // excluded from common-subexpression elimination AND from
        // whole-stage codegen, so any of these left inline would run
        // per scanned code — the per-candidate dim-sized work this
        // hoist deletes was the dominant probe cost (measured: the
        // nprobe=nlist ADC scan 4.5 s → sub-second at sf0.1).
        val residual = meta.get(PqResidualKey).contains("1")
        val centsLit = typedlit(centroids)
        val centsRotLit = rot.map { r =>
          typedlit(centroids.map(c => r.map(row =>
            row.iterator.zip(c.iterator)
              .map { case (a, b) => a * b }.sum)))
        }
        // the rotated query materializes as its OWN column first:
        // subDotLut slices its input m times and HOFs are CSE-exempt,
        // so an in-expression rotate would run the d×d matvec m times
        // per probe row
        val probesRot = rot.fold(probes)(r =>
          probes.withColumn("_qvr", Pq.rotate(col("qv"), r)))
        val qr = rot.fold(col("qv"))(_ => col("_qvr"))
        val probesSide0 = probesRot
          .withColumn("_qlut", Pq.subDotLut(qr, model))
          .withColumn("_qn", Pq.vecNorm(col("qv")))
        val probesSide =
          if (!residual) probesSide0
          else {
            val cvec = element_at(centsLit, col("centroid_id") + 1)
            val cvr = centsRotLit.fold(cvec)(cl =>
              element_at(cl, col("centroid_id") + 1))
            probesSide0
              .withColumn("_clut", Pq.subDotLut(cvr, model))
              .withColumn("_dotqc", aggregate(zip_with(col("qv"), cvec,
                (x, y) => x.cast("double") * y), lit(0.0),
                (a, b) => a + b))
              .withColumn("_cn2", aggregate(cvec, lit(0.0),
                (acc, x) => acc + x * x))
          }
        val cands = keep(probesSide.join(lists, Seq("centroid_id"))
          .filter(col("query_id") =!= col("neighbor_id")))
          .select(col("query_id"), col("qv"), col("neighbor_id"),
            (if (residual)
              Pq.adcSimResidualLut(col("_qlut"), col("_clut"),
                col("_dotqc"), col("_cn2"), col("_qn"),
                col("pq_code"), model)
            else Pq.adcSimLut(col("_qlut"), col("_qn"),
              col("pq_code"), model))
              .as("adc_sim"))
          .withColumn("_pr", row_number().over(pw))
          .filter(col("_pr") <= effPool)
          .select("query_id", "qv", "neighbor_id")
        // exact re-rank against the corpus snapshot the lists reflect
        // (the watermark of the PROBED version — time travel
        // included). With a BOUNDED pool the candidate id set is
        // |queries|·pool rows: pin it once (the ADC scan must not run
        // twice), compress the distinct ids into <= 128 covering RANGE
        // predicates ([[IdPredicate]] — plan size CONSTANT in the
        // batch; a raw isin literal grew |queries|·pool-fold), and the
        // corpus read FILE-PRUNES through the manifest min/max stats
        // instead of scanning 100 TB to feed a tiny join. The ranges
        // over-cover; the inner join below restores exactness. The
        // gate is on the COLLECTED id count (|queries|·pool in
        // aggregate), not the per-query pool alone — an oversized id
        // set or a non-rangeable id type falls back to the streaming
        // full-scan join. An unbounded pool (the exactness gates'
        // covering form) keeps that join outright — there the
        // candidate set IS the probed corpus and a predicate would be
        // pure overhead.
        val wmV = Some(meta(WatermarkKey).toLong)
        val (candFrame, corpusRead) =
          if (effPool <= 10000) {
            val pinned = cands.localCheckpoint(true)
            val maxIds = IdPredicate.MaxCollectedIds
            val ids = pinned.select("neighbor_id").distinct()
              .orderBy("neighbor_id").limit(maxIds + 1)
              .collect().map(_.get(0)).toSeq
            val pred =
              if (ids.size > maxIds) None
              else IdPredicate.predicate(col(meta(IdKey)), ids)
            (pinned, pred.fold(
              VersionedTable.read(spark, meta(CorpusKey), wmV))(p =>
              VersionedTable.readWhere(spark, meta(CorpusKey), p, wmV)))
          } else
            (cands, VersionedTable.read(spark, meta(CorpusKey), wmV))
        val corpus = corpusRead
          .select(col(meta(IdKey)).as("neighbor_id"),
            col(meta(VecKey)).as("nv"))
        candFrame.join(corpus, Seq("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            Similarity.cosine(col("qv"), col("nv")).as("cosine_sim"))
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).persist()
    ranked.count() // materialize while probes is cached, then release
    probes.unpersist()
    // the returned frame stays persisted (k·|queries| rows — bounded
    // by construction); a long-lived caller issuing many probes should
    // unpersist each result when done, exactly like
    // [[Similarity.probeIvfIndex]]'s documented contract
    ranked
  }

  /** The lists version consistent with a CORPUS version: the latest
    * index state whose watermark is at-or-before it (each commit —
    * create, refresh, rebuild — records the corpus version it
    * reflects). Metadata walk only ([[VersionedTable.versionAtMeta]]);
    * refuses a corpus version older than the index's creation. */
  def versionAt(spark: SparkSession, path: String,
      corpusVersion: Long): Long =
    VersionedTable.versionAtMeta(spark, listsRoot(path), WatermarkKey,
      corpusVersion)

  /** [[probe]] AS OF a past CORPUS version: answers from the latest
    * index state at-or-before it, paired (through the lists manifest
    * meta) with exactly the quantizer generation those rows were
    * assigned against — consistent across refreshes AND rebuilds. At
    * refresh boundaries a full probe (`nprobe = nlist`) equals brute
    * force over that historical corpus snapshot (the q190 gate, where
    * it rides next to [[Bm25Index.topNAsOf]] for time-consistent
    * cross-index retrieval). */
  def probeAsOf(queries: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int, nprobe: Int, corpusVersion: Long,
      pool: Int = 0, where: Option[Column] = None): DataFrame =
    probe(queries, path, idCol, vecCol, k, nprobe,
      Some(versionAt(queries.sparkSession, path, corpusVersion)),
      pool, where)

  /** (files kept, files total) the manifest pruner reports for a probe
    * of `centroidIds` — the audit that the clustered layout actually
    * skips unprobed lists' files. */
  def pruneAudit(spark: SparkSession, path: String,
      centroidIds: Seq[Int], version: Option[Long] = None): (Int, Int) =
    VersionedTable.pruneProfile(spark, listsRoot(path),
      col("centroid_id").isin(centroidIds.map(Integer.valueOf): _*),
      version)

  /** Assignment-quality drift: (build-time mean assignment cosine,
    * post-build inserts' mean, post-build insert count). A falling
    * churn mean says the frozen quantizer covers new data worse than
    * it covered the build corpus. */
  def drift(spark: SparkSession, path: String): (Double, Double, Long) = {
    val meta = VersionedTable.metaOf(spark, listsRoot(path))
    val buildMean =
      meta(BuildSimSumKey).toDouble / math.max(1L, meta(BuildNKey).toLong)
    val churnN = meta(ChurnNKey).toLong
    val churnMean =
      if (churnN == 0) Double.NaN
      else meta(ChurnSimSumKey).toDouble / churnN
    (buildMean, churnMean, churnN)
  }

  /** Codebook-fidelity drift of an IVF-PQ index: (build-time mean
    * squared quantization error, post-build inserts' running mean,
    * post-build insert count). The SECOND retrain signal next to
    * [[drift]]: churn can stay in-distribution for the coarse
    * quantizer (assignment cosine flat — e.g. the same directions at
    * new magnitudes) while the frozen codebooks reconstruct it badly,
    * silently degrading bounded-pool ADC recall; a rising churn/build
    * error ratio is the only place that shows. Refuses a raw-vector
    * index (no codebooks to drift). Counters accumulate on the
    * refresh commit ([[refreshOnce]]) and reset on [[rebuild]]. */
  def pqDrift(spark: SparkSession, path: String): (Double, Double, Long) = {
    val meta = VersionedTable.metaOf(spark, listsRoot(path))
    require(meta.contains(PqDirKey),
      s"$path is not an IVF-PQ index — no codebooks to drift")
    val buildMean = meta.get(PqBuildErrSumKey).fold(Double.NaN)(s =>
      s.toDouble / math.max(1L, meta(PqBuildNKey).toLong))
    val churnN = meta.get(PqChurnNKey).fold(0L)(_.toLong)
    val churnMean =
      if (churnN == 0) Double.NaN
      else meta(PqChurnErrSumKey).toDouble / churnN
    (buildMean, churnMean, churnN)
  }

  /** True when EITHER retrain signal trips: post-build inserts assign
    * `tolerance` worse (mean cosine) than the build corpus did, OR —
    * on an IVF-PQ index — their mean squared reconstruction error
    * exceeds `pqErrFactor`× the build-time mean (the codebook-drift
    * leg; raw-vector indexes skip it). */
  def recommendRetrain(spark: SparkSession, path: String,
      tolerance: Double = 0.05, pqErrFactor: Double = 2.0): Boolean = {
    val (buildMean, churnMean, churnN) = drift(spark, path)
    val assignTrip = churnN > 0 && buildMean - churnMean > tolerance
    val pqTrip = VersionedTable.metaOf(spark, listsRoot(path))
      .contains(PqDirKey) && {
      val (bErr, cErr, cN) = pqDrift(spark, path)
      cN > 0 && !bErr.isNaN && cErr > bErr * pqErrFactor + 1e-12
    }
    assignTrip || pqTrip
  }

  /** Deliberate full retrain: a NEW quantizer generation + fresh
    * lists from the corpus' CURRENT version with the same nlist,
    * committed as a [[VersionedTable.replace]] — drift counters
    * reset, watermark jumps to the corpus head, and EVERY prior lists
    * version stays time-travelable with ITS OWN quantizer
    * ([[probe]]'s `version` pairs them through the manifest meta).
    * The explicit answer to [[recommendRetrain]] — refresh never does
    * this implicitly. Returns the new lists version. */
  def rebuild(spark: SparkSession, path: String,
      trainIters: Int = 0): Long = {
    val meta0 = VersionedTable.metaOf(spark, listsRoot(path))
    // an IVF-PQ index retrains BOTH generations' artifacts — quantizer
    // and codebooks (and the OPQ rotation, when one was learned) —
    // with its build-time geometry and seed
    val pq = meta0.get(PqMKey).map(m => (m.toInt, meta0(PqKsKey).toInt))
    val (lists, meta, release) = buildState(spark, meta0(CorpusKey),
      meta0(IdKey), meta0(VecKey), meta0(NlistKey).toInt, path,
      trainIters, pq, meta0.get(PqSeedKey).fold(7)(_.toInt),
      meta0.get(PqResidualKey).contains("1"),
      meta0.get(RowsPerFileKey).fold(Long.MaxValue)(_.toLong),
      meta0.get(PqOpqItersKey).fold(0)(_.toInt))
    try VersionedTable.replace(spark, listsRoot(path), lists, meta = meta)
    finally release()
  }

  /** What [[maintain]] did: the lists version it left behind, whether
    * the drift signal tripped a retrain, and whether small files were
    * folded. */
  final case class Maintained(version: Long, rebuilt: Boolean,
      compacted: Boolean)

  /** The maintenance autopilot — one call a scheduler (or
    * [[graft.streaming.Streams.maintainOnChanges]]) drives per cycle:
    * refresh from the corpus change feed, retrain IF AND ONLY IF a
    * drift signal says a frozen artifact stopped covering new data —
    * assignment cosine for the quantizer, reconstruction error for
    * the PQ codebooks ([[recommendRetrain]]) — then fold
    * refresh-accreted small files
    * when they exceed `compactAboveFiles` (clustering preserved).
    * Safe to run beside concurrent refreshers/rebuilds: refresh
    * carries the generation+watermark OCC pins, rebuild is a
    * replace-commit, compaction is layout-only. Policy knobs, not new
    * mechanisms — every leg is the existing audited operation. */
  def maintain(spark: SparkSession, path: String,
      tolerance: Double = 0.05, trainIters: Int = 0,
      compactAboveFiles: Int = Int.MaxValue,
      smallFileBytes: Long = 8L * 1024 * 1024,
      pqErrFactor: Double = 2.0): Maintained = {
    refresh(spark, path)
    val rebuilt = recommendRetrain(spark, path, tolerance, pqErrFactor)
    if (rebuilt) rebuild(spark, path, trainIters)
    val root = listsRoot(path)
    val nFiles = VersionedTable.fileCount(spark, root)
    val compacted = nFiles > compactAboveFiles &&
      compact(spark, path, smallFileBytes) // layout-only when it runs
    Maintained(VersionedTable.currentVersion(spark, root).get,
      rebuilt, compacted)
  }

  /** Fold small posting files without losing the centroid clustering
    * (a plain compaction would interleave centroid ranges and turn the
    * probe's file-prune back off — the IndexOpsSpec lesson, wrapped so
    * callers cannot forget the sort keys). Layout-only commit; returns
    * true when a rewrite happened. */
  def compact(spark: SparkSession, path: String,
      smallFileBytes: Long = 8L * 1024 * 1024): Boolean = {
    val root = listsRoot(path)
    val before = VersionedTable.currentVersion(spark, root).get
    val meta = VersionedTable.metaOf(spark, root)
    // size the fold under the SAME sub-split policy as the build —
    // a plain nlist target would weld a sub-split hot centroid's
    // files back into one giant partition. Total live rows (metadata
    // only) over-estimates the folded subset; extra empty range
    // partitions write nothing.
    val rows = math.max(0L, VersionedTable.rowCount(spark, root))
    val parts = partsFor(meta(NlistKey).toInt, rows,
      meta.get(RowsPerFileKey).fold(Long.MaxValue)(_.toLong))
    VersionedTable.compact(spark, root, smallFileBytes,
      targetPartitions = parts,
      sortCols = Seq("centroid_id", "neighbor_id")) != before
  }

  /** nprobe AUTO-TUNING against the MAINTAINED index itself — the
    * deployment loop: after churn + refresh (or a rebuild), how many
    * posting lists must a probe visit before recall@k clears `target`
    * on a representative query sample? The reference leg is this
    * index's own FULL probe (nprobe = nlist ≡ brute force at the
    * lists watermark — the oracle-gated contract; `pool` is forced
    * covering there so the PQ mode's reference stays exact), each
    * ladder rung is the same centroid-pruned probe the serving path
    * runs, and recall = hits / |reference rows| (one integer
    * division). Returns (smallest nprobe meeting `target` — nlist
    * when none does) and the audit ladder (nprobe, hits, recall).
    * On a raw-vector index recall is monotone in nprobe (candidate
    * supersets under one total order) and refused loudly otherwise;
    * PQ rungs are measured, not asserted (ADC preselection can churn
    * pool membership between rungs). Evaluation-harness stance:
    * O(|ladder|) pruned probes over a bounded sample.
    * `ladder` defaults to doubling 1, 2, 4, … nlist; `pool` applies
    * to the tuned rungs (the serving configuration being tuned). */
  def tuneNprobe(queries: DataFrame, path: String, idCol: String,
      vecCol: String, k: Int, target: Double,
      ladder: Seq[Int] = Seq.empty, pool: Int = 0,
      version: Option[Long] = None): (Int, DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(target > 0 && target <= 1.0, s"target in (0, 1]: $target")
    val meta = VersionedTable.metaOf(spark, listsRoot(path), version)
    val nlist = meta(NlistKey).toInt
    // the structural monotonicity guarantee (candidate supersets under
    // one total order) holds for raw-vector rungs; a PQ rung's ADC
    // preselection can churn pool membership between rungs, so there
    // the ladder is measured, not asserted
    val structural = !meta.contains(PqDirKey)
    val rungs =
      if (ladder.nonEmpty) ladder
      else (Iterator.iterate(1)(_ * 2).takeWhile(_ < nlist) ++
        Iterator.single(nlist)).toSeq
    require(rungs == rungs.sorted && rungs.distinct == rungs &&
      rungs.forall(p => p > 0 && p <= nlist),
      s"ladder must be ascending distinct in (0, $nlist]: $rungs")
    def run(np: Int, p: Int): DataFrame =
      probe(queries, path, idCol, vecCol, k, np, version, p)
    // every rung probes the same read-only index and [[probe]] is
    // eager — the rungs and the covering reference are INDEPENDENT
    // driver actions, so overlap them (guide §2.6; rung results are
    // consumed in ladder order below, never completion order)
    val probedAll = Par.run(
      (() => run(nlist, Int.MaxValue)) +:
        rungs.map(p => () => run(p, pool)))
    // release ALL pinned probes on any failure path (r19 ADVICE: a
    // thrown sibling previously leaked the others' cached blocks)
    val (total, hitCounts) =
      try {
        val exact = probedAll.head
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val t = exact.count()
        require(t > 0, "nprobe tuning needs a non-empty reference")
        (t, Par.run(probedAll.tail.map(probed => () =>
          probed.select(col("query_id"), col("neighbor_id"))
            .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .count())))
      } finally probedAll.foreach(_.unpersist())
    val rows = rungs.zip(hitCounts).map { case (p, hits) =>
      (p, hits, hits.toDouble / total)
    }
    rows.sliding(2).foreach {
      case Seq((p0, _, r0), (p1, _, r1)) =>
        require(r1 >= r0 || !structural,
          s"recall must be monotone in nprobe: $p0->$r0, $p1->$r1")
      case _ => ()
    }
    val pick = rows.find(_._3 >= target).map(_._1).getOrElse(nlist)
    (pick, rows.toDF("nprobe", "hits", "recall"))
  }

  /** Tune the DEPLOYED IVF-PQ read — ADC preselect + bounded exact
    * re-rank — over a (nprobe, pool) GRID: the r18 verdict's "the
    * tuner measures the raw probe, not the production path". A PQ
    * deployment turns TWO knobs, and its recall depends on both (a
    * small pool can starve the re-rank however many lists are
    * probed); [[tuneNprobe]]'s raw-rung ladder sees neither effect.
    * Each cell runs the EXACT serving read ([[probe]] with that
    * nprobe and pool); the reference is this index's own covering
    * probe (nprobe = nlist, unbounded pool — exact at the lists
    * watermark by the q192-certified contract); recall = hits /
    * |reference rows| (ONE integer division); cost = nprobe ·
    * `probeWeight` + pool · `poolWeight` (integer — the relative
    * price of scanning one more posting list vs re-ranking one more
    * candidate, deployment-supplied).
    *
    * Pick = the minimal-cost cell clearing `target` (ties to the
    * smallest (nprobe, pool)); when NO cell clears, the covering
    * configuration (nlist, Int.MaxValue) — exact by construction.
    * Monotonicity along the POOL axis is STRUCTURAL and required
    * in-method: at fixed nprobe a larger pool is a superset PREFIX of
    * the same ADC ranking, and an exact-top-k member outranks every
    * non-member in the exact re-rank, so hits cannot fall. Along the
    * NPROBE axis it is measured, not asserted (the [[tuneNprobe]] PQ
    * stance: ADC preselection churns pool membership between probes).
    * Evaluation-harness cost: |grid| bounded probes + ONE covering
    * reference. Returns ((nprobe, pool), grid frame (nprobe, pool,
    * hits, recall, cost, meets_target, chosen)). */
  def tuneOperatingPoint(queries: DataFrame, path: String,
      idCol: String, vecCol: String, k: Int, target: Double,
      nprobes: Seq[Int], pools: Seq[Int],
      probeWeight: Long = 1000L, poolWeight: Long = 1L,
      version: Option[Long] = None): ((Int, Int), DataFrame) = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(target > 0 && target <= 1.0, s"target in (0, 1]: $target")
    val meta = VersionedTable.metaOf(spark, listsRoot(path), version)
    require(meta.contains(PqDirKey),
      s"$path is not an IVF-PQ index — tune a raw index with tuneNprobe")
    val nlist = meta(NlistKey).toInt
    require(nprobes.nonEmpty && nprobes == nprobes.sorted &&
      nprobes.distinct == nprobes &&
      nprobes.forall(p => p > 0 && p <= nlist),
      s"nprobes must be ascending distinct in (0, $nlist]: $nprobes")
    require(pools.nonEmpty && pools == pools.sorted &&
      pools.distinct == pools && pools.forall(_ >= k),
      s"pools must be ascending distinct and >= k=$k: $pools")
    require(probeWeight >= 0 && poolWeight >= 0 &&
      probeWeight + poolWeight > 0,
      s"need a non-degenerate cost model: $probeWeight/$poolWeight")
    // the covering reference and every grid cell probe the same
    // read-only index and [[probe]] is eager: |grid|+1 INDEPENDENT
    // driver actions, overlapped (guide §2.6). Cell results are
    // consumed in grid order below — completion order never leaks
    // into the pick, the monotonicity check, or the returned frame.
    val gridKeys = for (np <- nprobes; p <- pools) yield (np, p)
    // every probed frame comes back pinned; release ALL survivors on
    // any failure path (r19 ADVICE: a thrown sibling probe previously
    // leaked the others' localCheckpoint blocks for the session)
    val probedAll = Par.run(
      (() => probe(queries, path, idCol, vecCol, k, nlist, version,
        pool = Int.MaxValue)) +:
        gridKeys.map { case (np, p) =>
          () => probe(queries, path, idCol, vecCol, k, np, version, p)
        })
    val (total, hitCounts) =
      try {
        val exact = probedAll.head
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
        val t = exact.count()
        require(t > 0,
          "operating-point tuning needs a non-empty reference")
        (t, Par.run(probedAll.tail.map(probed => () =>
          probed.select(col("query_id"), col("neighbor_id"))
            .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
            .count())))
      } finally probedAll.foreach(_.unpersist())
    val cells = gridKeys.zip(hitCounts).map { case ((np, p), hits) =>
      (np, p, hits, hits.toDouble / total,
        np * probeWeight + p * poolWeight)
    }
    nprobes.foreach { np =>
      cells.filter(_._1 == np).sliding(2).foreach {
        case Seq((_, p0, _, r0, _), (_, p1, _, r1, _)) =>
          require(r1 >= r0, s"recall must be monotone in pool at " +
            s"nprobe=$np: $p0->$r0, $p1->$r1")
        case _ => ()
      }
    }
    val clearing = cells.filter(_._4 >= target)
    val pick =
      if (clearing.isEmpty) (nlist, Int.MaxValue)
      else {
        val c = clearing.minBy(x => (x._5, x._1, x._2))
        (c._1, c._2)
      }
    val grid = cells.map(c => (c._1, c._2, c._3, c._4, c._5,
        c._4 >= target, c._1 == pick._1 && c._2 == pick._2))
      .toDF("nprobe", "pool", "hits", "recall", "cost",
        "meets_target", "chosen")
    (pick, grid)
  }

  /** The quantizer generation a lists version was assigned against:
    * centroid_id → weights, in id order. `version` time-travels. */
  def centroidsOf(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[Seq[Double]] =
    readCentroids(spark, path,
      VersionedTable.metaOf(spark, listsRoot(path), version))

  /** The corpus version the lists reflect. */
  def watermark(spark: SparkSession, path: String): Long =
    VersionedTable.metaOf(spark, listsRoot(path))(WatermarkKey).toLong

  /** The corpus table this index maintains from (manifest meta). */
  def corpusOf(spark: SparkSession, path: String): String =
    VersionedTable.metaOf(spark, listsRoot(path))(CorpusKey)

  /** The OLDEST corpus version this index still needs retained: its
    * live watermark (refresh reads the change feed from it; a PQ
    * re-rank reads the corpus AT it), and — when an as-of `horizon`
    * is given — the watermark of the lists version that SERVES the
    * horizon (an as-of probe at any corpus version ≥ horizon
    * re-ranks against no older snapshot). The
    * [[IndexRetention.safeVacuum]] input; metadata walks only. */
  def retentionWatermark(spark: SparkSession, path: String,
      horizon: Option[Long] = None): Long = {
    val live = watermark(spark, path)
    horizon.fold(live) { h =>
      val v = versionAt(spark, path, h)
      math.min(live,
        VersionedTable.metaOf(spark, listsRoot(path), Some(v))(
          WatermarkKey).toLong)
    }
  }

  /** Reclaim the index's OWN history — the dual of
    * [[IndexRetention.safeVacuum]]'s corpus side (the r18 verdict's
    * "index-table history is never reclaimed"): every refresh/rebuild/
    * compaction accretes a lists version (plus, per rebuild, a
    * quantizer and PQ-codebook generation dir) FOREVER, so at
    * production churn the index side grows without bound in files and
    * manifest entries. Policy mirror of the corpus side: keep the
    * lists version SERVING the as-of `horizon` (a probe at any corpus
    * version ≥ horizon walks to it or later) and everything after;
    * vacuum below it; then GC generation dirs (`centroids_*`/`pq_*`)
    * no RETAINED version's manifest meta names — aged past
    * `orphanGraceMs`, because a concurrent rebuild writes its
    * generation dir BEFORE the commit that references it. As-of
    * probes below the horizon refuse loudly afterwards
    * ([[VersionedTable.versionAtMeta]] names the vacuumed floor).
    * No horizon = keep only the current version's history. Returns
    * the kept-from lists version. */
  def vacuumHistory(spark: SparkSession, path: String,
      horizon: Option[Long] = None,
      orphanGraceMs: Long = 24L * 3600 * 1000): Long = {
    val root = listsRoot(path)
    val cur = VersionedTable.currentVersion(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$path: no ivf index"))
    val keepV = horizon.fold(cur)(h =>
      math.min(cur, versionAt(spark, path, h)))
    VersionedTable.vacuum(spark, root, keepV, orphanGraceMs)
    // generation-dir GC: the surviving manifests name the quantizer/
    // codebook dirs their rows decode with; anything else under the
    // index path matching the generation pattern is garbage once aged
    // past the grace window (a younger dir may be a rebuild mid-commit)
    val referenced = VersionedTable.versions(spark, root).flatMap { v =>
      val m = VersionedTable.metaOf(spark, root, Some(v))
      m.get(CentroidsDirKey).toSeq ++ m.get(PqDirKey).toSeq
    }.toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(path)
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    if (fs.exists(base)) fs.listStatus(base).foreach { st =>
      val nm = st.getPath.getName
      val generational = st.isDirectory &&
        (nm.startsWith("centroids_") || nm.startsWith("pq_"))
      if (generational && !referenced.contains(nm) &&
          fs.listStatus(st.getPath).forall(
            _.getModificationTime < cutoff))
        fs.delete(st.getPath, true)
    }
    keepV
  }
}
