package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]) — the
  * BASELINE ANN extension, which also powers Fuzzy Lookup/Grouping-style
  * matching when paired with Dedup's LSH.
  *
  * Two tiers:
  *   - brute-force cosine top-k: exact, O(|Q|·|C|) — the baseline, and
  *     the right choice whenever |Q| is small (broadcast the queries);
  *   - random-hyperplane LSH buckets: approximate, candidates share a
  *     signature band, so the join is bucket-local — the 100 TB path.
  *
  * All math is native expressions: zip_with/aggregate fold the vectors
  * in a fixed left-to-right order (deterministic sums, no UDF).
  */
object Similarity {

  /** Dot product of two array<float/double> columns in double — native
    * [[graft.functions.VecDot]] expression, one compiled pass. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native [[graft.functions.VecCosine]]: dot and
    * both norms in a single compiled pass per pair. */
  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)

  /** Exact top-k cosine neighbors of each query vector.
    * `queries`/`corpus`: (idCol, vecCol). Queries are broadcast — at
    * scale keep |Q| bounded (or use [[lshTopK]]). Excludes self-matches
    * when ids collide. Output: (query_id, neighbor_id, cosine_sim, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      l2Norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      l2Norm(col(vecCol)).as("cn"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ONE sizing pass over the (column-pruned) vector column shared by
    * the pair generators: corpus count for the broadcast gate, dim for
    * the blocking layout, and the uniform-length contract — a ragged
    * corpus would silently weaken blocking (element_at past a short
    * array is null) instead of failing loudly, so it is refused here.
    * Returns (nVecs, dim), `fallbackDim` on an empty corpus. */
  private def vecSizing(df: DataFrame, vecCol: String, what: String,
      fallbackDim: Int): (Long, Int) = {
    val sz = df.agg(count(lit(1)),
      min(size(col(vecCol))), max(size(col(vecCol)))).head()
    val nVecs = sz.getLong(0)
    val dim =
      if (nVecs == 0 || sz.isNullAt(1)) fallbackDim max 1
      else {
        require(sz.getInt(1) == sz.getInt(2),
          s"ragged vector lengths in $vecCol: min ${sz.getInt(1)} != " +
            s"max ${sz.getInt(2)} — $what needs a uniform dim")
        sz.getInt(2) max 1
      }
    (nVecs, dim)
  }

  /** Size-gated (id, vector) sides for the exact-verify joins (the
    * Lookup broadcast discipline): candidates outnumber vectors
    * quadratically, and a shuffled join would move CANDIDATE x
    * VECTOR-WIDTH bytes — the first join's output carries a full
    * vector per candidate row, so shuffling it into the second join
    * moved ~9 GB at 10x bench scale (SCALING.md). Broadcasting the
    * id→vector side keeps candidates in-stage. The gate is
    * BYTE-estimated (vectors are float4 + id/row overhead), not
    * row-counted: 1M rows is ~0.3 GB at dim 64 but multi-GB at dim
    * 1024, exactly the OOM a row gate would wave through. */
  private def verifyVecSides(base: DataFrame, nVecs: Long, dim: Int,
      budgetBytes: Long): (DataFrame, DataFrame) = {
    def vecs(as: String) =
      base.select(col("id").as(as), col("v").as(s"v_$as"))
    val estVecBytes = nVecs * (4L * dim + 32L)
    if (estVecBytes <= budgetBytes)
      (broadcast(vecs("ida")), broadcast(vecs("idb")))
    else (vecs("ida"), vecs("idb"))
  }

  /** EXACT all-pairs cosine over a BOUNDED corpus — the truth oracle
    * an audit replays (q129/q144), NOT a production generator: it
    * REFUSES corpora over `maxRows` rather than going quadratic
    * silently (the production paths are the blocked
    * [[cosineNearDupPairs]] and the banded approx family). For a
    * corpus small enough to broadcast, one nested-loop pass beats the
    * blocked machinery whenever the threshold is loose enough that
    * blocking can't prune (at t=0.90 candidates ≈ all pairs, and the
    * explode/distinct scaffolding is pure overhead) — and it mirrors
    * the DuckDB oracle's own `x JOIN y ON x.id < y.id` construction
    * line-for-line. Output: (ida, idb, cosine_sim), ida < idb. */
  def cosineAllPairsBounded(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 10000): DataFrame = {
    val (nVecs, _) = vecSizing(df, vecCol, "bounded all-pairs", 1)
    require(nVecs <= maxRows,
      s"cosineAllPairsBounded: $nVecs rows > maxRows $maxRows — this is " +
        "the audit-sized truth generator; use cosineNearDupPairs / the " +
        "approx family for production corpora")
    val a = df.select(col(idCol).as("ida"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("idb"), col(vecCol).as("__vb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        cosine(col("__va"), col("__vb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** EXACT cosine near-duplicate pairs at `threshold` — the embedding
    * analog of Dedup's text near-dup operators. Blocking is a
    * pigeonhole-banded grid over ALL coordinates of the L2-normalized
    * vectors: the dimensions split into B = ceil(dim/gridDims)
    * segments, and if ||a-b||^2 <= D^2 = 2-2t then SOME segment holds
    * squared distance <= D^2/B, i.e. every coordinate of that segment
    * differs by at most w = D/sqrt(B). Quantizing each segment's
    * coordinates with cell width w and probing the 3^gridDims adjacent
    * cells per segment therefore generates EVERY qualifying pair —
    * lossless, never all-pairs — and exact cosine verifies candidates.
    *
    * Why banded and not one segment: a single grid over the first few
    * coordinates uses cell width D, but a unit vector's coordinates
    * shrink as 1/sqrt(dim) — at dim 64 and t=0.99 the cell (0.14) is
    * WIDER than the coordinate scale (0.125), the grid collapses to a
    * handful of occupied cells, and candidates grow quadratically with
    * the corpus (measured 100x at 10x scale, SCALING.md). Banding
    * keeps every dimension in play with cells ~sqrt(B) finer; segment
    * keys join on xxhash64 of (blocking, segment, cells...) so the
    * exchange carries ids only, and vectors re-join after the pair
    * distinct.
    *
    * `blockings` independent segmentations (the natural dim order plus
    * seeded permutations) each yield a lossless candidate superset —
    * the pigeonhole argument holds for ANY partition of the dims — so
    * their INTERSECTION is still a superset of the true pairs, at a
    * fraction of the candidate volume (measured 0.4% of random pairs
    * for 2 blockings vs 4.2% for 1 at dim 64, t=0.99): the classic
    * multi-index trade of one more blocking pass for an order less
    * exact-verify work. With broadcast-verified candidates the verify
    * is map-side, so the default stays 1 — raise `blockings` when the
    * candidate DISTINCT's exchange (quadratic in corpus density)
    * outgrows the linear blocking pass. Returns (ida, idb,
    * cosine_sim), ida < idb.
    *
    * Cache lifecycle: the returned pair set is MATERIALIZED (persisted
    * + counted) before this returns and the corpus-sized blocking
    * projection is dropped — what stays cached is only the
    * output-sized result, which callers unpersist when done
    * ([[Dedup.materializePairs]]). Composite consumers that drain the
    * pairs internally use [[cosineNearDupPairsStaged]] and release
    * everything before returning. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, gridDims: Int = 4, blockings: Int = 1,
      broadcastBudgetBytes: Long = 256L << 20,
      maxCorpusRows: Long = 200000): DataFrame =
    Dedup.materializePairs(cosineNearDupPairsStaged(df, idCol, vecCol,
      threshold, gridDims, blockings, broadcastBudgetBytes, maxCorpusRows))

  /** [[cosineNearDupPairs]] with the blocking base's lifecycle in the
    * caller's hands: returns the LAZY pair frame plus a release hook
    * that drops the cached corpus-sized blocking projection. The base
    * must stay cached until the last action over the pairs (every
    * candidate and verify branch reads it — released early, the plan
    * stays correct but recomputes the scan per branch, measured ~2x at
    * bench scale); consumers that drain the pairs internally
    * ([[semanticDedup]]) call release() before returning, leaving
    * ZERO residual cache. */
  def cosineNearDupPairsStaged(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, gridDims: Int = 4, blockings: Int = 1,
      broadcastBudgetBytes: Long = 256L << 20,
      maxCorpusRows: Long = 200000): (DataFrame, () => Unit) = {
    require(threshold > 0.5 && threshold < 1.0,
      s"threshold $threshold: grid blocking needs a tight cosine bound")
    require(blockings >= 1, s"need at least one blocking: $blockings")
    val (nVecs, dim) = vecSizing(df, vecCol, "grid blocking", gridDims)
    // Corpus-size gate (r13 verdict item 5): on isotropic embeddings
    // ANY lossless blocker hits a measured candidate FLOOR of a few
    // percent of all pairs (SCALING.md — concentration of measure), so
    // this exact generator is quadratic past blocking's reach. It is
    // the ORACLE for the approximate family, not the 100 TB path;
    // raising maxCorpusRows is the explicit opt-in for a corpus you
    // have sized (candidate count ~ 0.04 * n^2 at t=0.9).
    require(nVecs <= maxCorpusRows,
      s"cosineNearDupPairs: $nVecs vectors > maxCorpusRows $maxCorpusRows" +
        " — exact grid-blocked cosine has a quadratic candidate floor on" +
        " embedding corpora (SCALING.md). Use semanticDedupApprox /" +
        " cosineNearDupPairsApprox (SRP-LSH, recall-audited: q129/q144)" +
        " for production scale, or pass maxCorpusRows explicitly to" +
        " opt in to the exact quadratic path.")
    val nSeg = math.max(1, (dim + gridDims - 1) / gridDims)
    val w = math.sqrt((2.0 - 2.0 * threshold) / nSeg) * 1.000001 // float slack
    val nrm = l2Norm(col(vecCol))
    // zero-norm vectors can never reach a >0.5 cosine threshold; pin
    // them to cell 0 instead of dividing by zero (ANSI mode throws) —
    // the exact-verify filter drops whatever candidates they form.
    // 1e-9: keep -0.0/0.0 in one cell across engines
    def cellOf(i: Int) =
      when(nrm === 0.0, lit(0L)).otherwise(
        floor((element_at(col(vecCol), i + 1).cast("double") / nrm
          + lit(1e-9)) / lit(w)).cast("long"))
    // dim order per blocking round: natural, then seeded shuffles
    // (deterministic across runs and executors)
    val orders: Seq[Vector[Int]] = (0 until blockings).map { r =>
      if (r == 0) (0 until dim).toVector
      else new scala.util.Random(1234L + r).shuffle((0 until dim).toVector)
    }
    // per-segment cell-coordinate arrays; segments are padded to a
    // uniform gridDims width with constant 0 cells so one literal
    // combo table drives every segment's probing
    def segCellArrays(order: Vector[Int]) = array((0 until nSeg).map { s =>
      array((0 until gridDims).map { j =>
        val k = s * gridDims + j
        if (k < dim) cellOf(order(k)) else lit(0L)
      }: _*)
    }: _*)
    // cached because every candidate and verify branch below reads it
    // (uncached, each branch recomputes the scan + seg arithmetic —
    // measured ~2x at bench scale); released through the returned hook
    // so the corpus-sized projection never outlives its consumers (the
    // r8 leak finding)
    val base = df.select(Seq(col(idCol).as("id"), col(vecCol).as("v")) ++
        orders.zipWithIndex.map { case (o, r) =>
          segCellArrays(o).as(s"segs_$r") }: _*)
      .persist()
    // adjacent-cell offsets, one literal table shared by all segments
    val combos: Seq[Seq[Long]] =
      (1 to gridDims).foldLeft(Seq(Seq.empty[Long])) {
        (acc, _) => acc.flatMap(cs => Seq(-1L, 0L, 1L).map(o => cs :+ o))
      }
    val combosCol = typedLit(combos)
    def candidatesOf(r: Int): DataFrame = {
      val segRows = base.select(col("id"),
        posexplode(col(s"segs_$r")).as(Seq("seg", "cells")))
      // one key per (segment, cells): codegen sees ONE hash expression
      // evaluated per combo, not 3^gridDims generated expressions
      val home = segRows.select(col("id"),
        xxhash64(lit(r), col("seg"), col("cells")).as("cell"))
      val probe = segRows.select(col("id"),
        explode(transform(combosCol, offs =>
          xxhash64(lit(r), col("seg"), zip_with(col("cells"), offs,
            (c, o) => c + o)))).as("cell"))
      // ids-only exchange; a pair can match in several segments (and,
      // rarely, via hash collision) — distinct on the id pair alone
      probe.alias("p").join(home.alias("x"),
          col("p.cell") === col("x.cell") && col("p.id") < col("x.id"))
        .select(col("p.id").as("ida"), col("x.id").as("idb"))
        .distinct()
    }
    // intersect the blockings' candidate sets (each distinct on the
    // same keys, so the joins reuse the distinct's partitioning)
    val cand = (0 until blockings).map(candidatesOf)
      .reduce(_.join(_, Seq("ida", "idb")))
    // cosine computed and filtered to the true pairs before anything
    // exchanges again ([[verifyVecSides]] broadcast discipline)
    val (va, vb) = verifyVecSides(base, nVecs, dim, broadcastBudgetBytes)
    val out = cand.join(va, "ida").join(vb, "idb")
      .select(col("ida"), col("idb"),
        cosine(col("v_ida"), col("v_idb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
    (out, () => { base.unpersist(blocking = true); () })
  }

  /** SemDeDup-style semantic deduplication (Abbas et al.,
    * arXiv:2303.09540, re-expressed with a lossless blocker): documents
    * whose embeddings sit above `threshold` cosine are one semantic
    * cluster; each row is labeled with its cluster's smallest id and a
    * `keep` flag on the canonical representative. Composes the exact
    * grid-blocked pair generator with connected-component resolution —
    * candidate generation is never all-pairs, and the transitive
    * closure runs as the same hybrid union-find / min-label propagation
    * every other dedup family here uses. Returns every input row:
    * (idCol, cluster_id, keep).
    *
    * Leaves NOTHING cached: connected components drains the pair frame
    * through its own actions, so the blocking base is released before
    * this returns — the result depends only on the input scan and the
    * (driver-bounded) component labels. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, gridDims: Int = 4, blockings: Int = 1,
      maxCorpusRows: Long = 200000): DataFrame = {
    val (pairs, release) = cosineNearDupPairsStaged(df, idCol, vecCol,
      threshold, gridDims, blockings, maxCorpusRows = maxCorpusRows)
    try {
      Dedup.resolveClusters(df, idCol, pairs)
        .withColumn("keep", col(idCol) === col("cluster_id"))
    } finally release()
  }

  /** The signed-random-projection band keys of a vector, as
    * array<struct<band,key>> — ONE definition shared by the self-join
    * generator and the batch-vs-corpus screen (and replayed verbatim
    * by the q129/q130/q136 oracles): bit j = (v · signRow_j >= 0),
    * bits grouped into bands of `bitsPerBand`, each band packed into
    * an integer key Σ b_j·2^j.
    *
    * The sign bit thresholds the RAW double dot at 0. Cross-engine
    * the dot differs only in float sum order (~1e-13 absolute), so a
    * bit can flip between engines only when a dot lands within that
    * noise of 0 — probability ~1e-7 across a bench corpus, and
    * rounding first would NOT shrink it (a rounded threshold has the
    * same tie band, shifted to the grid edge; q112 rounds for VALUE
    * parity, which is a different contract). */
  private def lshBandKeyCol(vec: Column, signs: Seq[Array[Double]],
      bitsPerBand: Int): Column = {
    val bits: Seq[Column] = signs.map { s =>
      when(dot(vec, lit(s)) >= 0, lit(1L)).otherwise(lit(0L))
    }
    val keys = bits.grouped(bitsPerBand).toSeq.zipWithIndex.map {
      case (bs, band) =>
        val key = bs.zipWithIndex.map { case (b, j) => b * lit(1L << j) }
          .reduce(_ + _)
        struct(lit(band).as("band"), key.as("key"))
    }
    array(keys: _*)
  }

  /** APPROXIMATE cosine near-duplicate pairs — signed-random-projection
    * LSH blocking, the sub-quadratic 100 TB path next to the EXACT
    * grid-blocked [[cosineNearDupPairsStaged]]:
    *
    *   signature  — `planes` sign bits per vector, bit j = (v ·
    *                signRow_j >= 0) against the ±1 md5-parity
    *                [[signMatrix]] (engine-portable: the q129/q130
    *                oracles replay the identical matrix in SQL);
    *   banding    — bits pack into planes/bitsPerBand integer band
    *                keys; candidates share >=1 (band, key) — the
    *                exchange carries ids only, bucket-local, never
    *                all-pairs;
    *   verify     — exact cosine >= threshold over the size-gated
    *                broadcast vector side (the exact generator's
    *                discipline), so emitted pairs are a SUBSET of the
    *                true pair set: precision is 1 by construction and
    *                RECALL is the only approximation (a true pair whose
    *                vectors share no band is missed — probability
    *                (1-match^bitsPerBand)^bands, vanishing at near-dup
    *                similarity).
    *
    * Scale shape vs the exact generator: candidate volume is driven by
    * bucket occupancy (corpus / (bands · 2^bitsPerBand) per bucket),
    * tunable with `planes`/`bitsPerBand` independent of the threshold —
    * the dial the exact grid lacks when corpus density makes its
    * lossless candidate floor quadratic (SCALING.md). Returns the lazy
    * (ida, idb, cosine_sim) frame + the blocking base's release hook,
    * the [[cosineNearDupPairsStaged]] contract. */
  def cosineNearDupPairsApproxStaged(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, planes: Int = 32,
      bitsPerBand: Int = 8, seed: Int = 7,
      broadcastBudgetBytes: Long = 256L << 20): (DataFrame, () => Unit) = {
    require(planes > 0 && bitsPerBand > 0 && planes % bitsPerBand == 0,
      s"planes $planes must be a positive multiple of bitsPerBand $bitsPerBand")
    require(threshold > 0.0, s"threshold $threshold: LSH needs a positive bound")
    val (nVecs, dim) = vecSizing(df, vecCol, "LSH signatures", 1)
    val signs = signMatrix(dim, planes, seed)
    // cached for the same reason as the exact generator's base: the
    // candidate and both verify branches read it; released via the hook
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        lshBandKeyCol(col(vecCol), signs, bitsPerBand).as("bands"))
      .persist()
    val banded = base.select(col("id"),
      explode(col("bands")).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("ida"), col("y.id").as("idb"))
      .distinct()
    val (va, vb) = verifyVecSides(base, nVecs, dim, broadcastBudgetBytes)
    val out = cand.join(va, "ida").join(vb, "idb")
      .select(col("ida"), col("idb"),
        cosine(col("v_ida"), col("v_idb")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
    (out, () => { base.unpersist(blocking = true); () })
  }

  /** [[cosineNearDupPairsApproxStaged]] with the lifecycle closed:
    * pairs materialized, blocking base released, only the (near-dup-
    * density-sized) result left cached for the caller to unpersist. */
  def cosineNearDupPairsApprox(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 32, bitsPerBand: Int = 8,
      seed: Int = 7, broadcastBudgetBytes: Long = 256L << 20): DataFrame =
    Dedup.materializePairs(cosineNearDupPairsApproxStaged(df, idCol,
      vecCol, threshold, planes, bitsPerBand, seed, broadcastBudgetBytes))

  /** Directed arrival screen — the batch-vs-corpus form of
    * [[cosineNearDupPairsApproxStaged]], the shape a 100 TB ingest
    * pipeline actually runs: for each `batch` vector, find the corpus
    * vectors above `threshold` cosine (empty result for a batch row =
    * genuinely new content). Same signed-random-projection banding on
    * BOTH sides (one map-only scan each), candidates share a (band,
    * key) bucket — the join never touches batch × corpus — and exact
    * cosine verifies behind the size-gated broadcast. A batch row's
    * result depends only on (row, corpus), so the operator is
    * arrival-split-invariant by construction: the streaming form runs
    * it per micro-batch unchanged ([[graft.streaming.Streams
    * .dedupArrivalsApprox]], parity proven in StreamingSpec). Returns
    * (batch_id, corpus_id, cosine_sim). */
  def nearDupAgainstCorpusApprox(batch: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, threshold: Double, planes: Int = 32,
      bitsPerBand: Int = 8, seed: Int = 7,
      broadcastBudgetBytes: Long = 256L << 20): DataFrame = {
    require(planes > 0 && bitsPerBand > 0 && planes % bitsPerBand == 0,
      s"planes $planes must be a positive multiple of bitsPerBand $bitsPerBand")
    require(threshold > 0.0, s"threshold $threshold: LSH needs a positive bound")
    // BOTH sides refused loudly on ragged dims (the vecSizing front
    // door); cold-start corpora are a contract case, not a crash —
    // an empty side means no batch row can be a near-duplicate
    val (nCorpus, cDim) = vecSizing(corpus, vecCol, "LSH signatures", 1)
    val (nBatch, bDim) = vecSizing(batch, vecCol, "LSH signatures", cDim)
    if (nCorpus == 0 || nBatch == 0) {
      val spark = batch.sparkSession
      import org.apache.spark.sql.types._
      val idType = batch.schema(idCol).dataType
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("batch_id", idType),
          StructField("corpus_id", idType),
          StructField("cosine_sim", DoubleType))))
    }
    require(bDim == cDim,
      s"batch dim $bDim != corpus dim $cDim — one sign matrix must fit both")
    val signs = signMatrix(cDim, planes, seed)
    def keysOf(df: DataFrame, id: String) =
      df.select(col(idCol).as(id),
          explode(lshBandKeyCol(col(vecCol), signs, bitsPerBand)).as("bk"))
        .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = keysOf(batch, "batch_id").join(keysOf(corpus, "corpus_id"),
        Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val bVecs = batch.select(col(idCol).as("batch_id"), col(vecCol).as("bv"))
    val cSide = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val cVecs =
      if (nCorpus * (4L * cDim + 32L) <= broadcastBudgetBytes) broadcast(cSide)
      else cSide
    cand.join(bVecs, "batch_id").join(cVecs, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        cosine(col("bv"), col("cv")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** A STATIC corpus sized, banded and persisted ONCE for repeated
    * arrival screens ([[prepareArrivalCorpus]]): `bandedKeys` is the
    * materialized (corpus_id, band, key) explode, `vecs` the
    * materialized (corpus_id, cv) verify side (broadcast-marked when
    * under the byte budget). A long-running streaming deployment
    * prepares once and screens every micro-batch against the cached
    * frames — without this, each micro-batch re-runs the corpus-wide
    * sizing aggregate and re-bands the full corpus, putting a
    * corpus-scan latency floor under every batch. Call `release()`
    * when done (the streaming entry point wires it to query
    * termination). */
  final case class PreparedCorpus(nCorpus: Long, dim: Int,
      bandedKeys: DataFrame, vecs: DataFrame,
      planes: Int, bitsPerBand: Int, seed: Int, release: () => Unit)

  /** Size, band and cache `corpus` once for [[nearDupAgainstPreparedCorpus]].
    * Same parameters and banding as [[nearDupAgainstCorpusApprox]], so a
    * prepared screen is bit-identical to the one-shot form (parity
    * proven in ExtSpec/StreamingSpec). */
  def prepareArrivalCorpus(corpus: DataFrame, idCol: String,
      vecCol: String, planes: Int = 32, bitsPerBand: Int = 8,
      seed: Int = 7, broadcastBudgetBytes: Long = 256L << 20)
      : PreparedCorpus = {
    require(planes > 0 && bitsPerBand > 0 && planes % bitsPerBand == 0,
      s"planes $planes must be a positive multiple of bitsPerBand $bitsPerBand")
    val (nCorpus, dim) = vecSizing(corpus, vecCol, "LSH signatures", 1)
    val signs = signMatrix(dim, planes, seed)
    val banded = corpus.select(col(idCol).as("corpus_id"),
        explode(lshBandKeyCol(col(vecCol), signs, bitsPerBand)).as("bk"))
      .select(col("corpus_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
      .persist()
    val cSide = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("cv")).persist()
    if (nCorpus > 0) { banded.count(); cSide.count() } // materialize NOW
    val vecs =
      if (nCorpus * (4L * dim + 32L) <= broadcastBudgetBytes)
        broadcast(cSide)
      else cSide
    PreparedCorpus(nCorpus, dim, banded, vecs, planes, bitsPerBand, seed,
      () => { banded.unpersist(blocking = false)
              cSide.unpersist(blocking = false); () })
  }

  /** [[nearDupAgainstCorpusApprox]] against a [[PreparedCorpus]]: the
    * per-call work is batch-sized only — band the batch (map-only),
    * bucket-join against the cached corpus keys, exact-verify against
    * the cached vectors. Identical results to the one-shot form by
    * construction (same sign matrix, same banding, same verify). */
  def nearDupAgainstPreparedCorpus(batch: DataFrame, prep: PreparedCorpus,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    require(threshold > 0.0, s"threshold $threshold: LSH needs a positive bound")
    val (nBatch, bDim) = vecSizing(batch, vecCol, "LSH signatures", prep.dim)
    if (prep.nCorpus == 0 || nBatch == 0) {
      val spark = batch.sparkSession
      import org.apache.spark.sql.types._
      val idType = batch.schema(idCol).dataType
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("batch_id", idType),
          StructField("corpus_id", idType),
          StructField("cosine_sim", DoubleType))))
    }
    require(bDim == prep.dim,
      s"batch dim $bDim != prepared corpus dim ${prep.dim} — one sign " +
        "matrix must fit both")
    val signs = signMatrix(prep.dim, prep.planes, prep.seed)
    val bKeys = batch.select(col(idCol).as("batch_id"),
        explode(lshBandKeyCol(col(vecCol), signs, prep.bitsPerBand)).as("bk"))
      .select(col("batch_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cand = bKeys.join(prep.bandedKeys, Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    val bVecs = batch.select(col(idCol).as("batch_id"), col(vecCol).as("bv"))
    cand.join(bVecs, "batch_id").join(prep.vecs, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        cosine(col("bv"), col("cv")).as("cosine_sim"))
      .filter(col("cosine_sim") >= threshold)
  }

  /** [[semanticDedup]]'s certified APPROXIMATE form — the 100 TB
    * default: LSH-blocked pairs ([[cosineNearDupPairsApproxStaged]])
    * feed the same connected-component resolution, so clusters may
    * split where the blocker missed a pair (recall < 1, audited by
    * q129) but never merge rows below the threshold (verify keeps
    * precision at 1). Same output contract as [[semanticDedup]]:
    * every input row as (idCol, cluster_id, keep), nothing left
    * cached. */
  def semanticDedupApprox(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 32, bitsPerBand: Int = 8,
      seed: Int = 7): DataFrame = {
    val (pairs, release) = cosineNearDupPairsApproxStaged(df, idCol, vecCol,
      threshold, planes, bitsPerBand, seed)
    try {
      Dedup.resolveClusters(df, idCol, pairs)
        .withColumn("keep", col(idCol) === col("cluster_id"))
    } finally release()
  }

  /** Deterministic random hyperplanes: `numPlanes` unit-free normals of
    * dimension `dim`, seeded — same planes on every run/executor. */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit signature of a vector against the planes, packed into a
    * long per band of `bitsPerBand` planes. Returns
    * array<struct<band:int,key:long>> for explode+bucket-join. */
  def lshBandKeys(vec: Column, planes: Seq[Seq[Double]], bitsPerBand: Int): Column = {
    val bits: Seq[Column] = planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L)).otherwise(lit(0L))
    }
    val bands = bits.grouped(bitsPerBand).toSeq
    array(bands.zipWithIndex.map { case (bs, i) =>
      val key = bs.zipWithIndex.map { case (b, j) =>
        when(b === 1L, lit(1L << j)).otherwise(lit(0L))
      }.reduce((x, y) => x.bitwiseOR(y))
      struct(lit(i).as("band"), key.as("key"))
    }: _*)
  }

  /** Approximate top-k: candidates are corpus vectors sharing ≥1 LSH
    * band with the query; exact cosine ranks the candidates. The join
    * shuffles on (band, key) — bucket-local, never all-pairs. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, numPlanes: Int = 16,
      bitsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, numPlanes, seed)
    def banded(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as(s"${id}_v"),
          explode(lshBandKeys(col(vecCol), planes, bitsPerBand)).as("bk"))
        .select(col(id), col(s"${id}_v"), col("bk.band").as("band"),
          col("bk.key").as("key"))
    val qb = banded(queries, "query_id")
    val cb = banded(corpus, "neighbor_id")
    val cand = qb.join(cb, Seq("band", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("query_id_v").as("qv"), col("neighbor_id_v").as("cv"))
      .distinct()
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      cosine(col("qv"), col("cv")).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× storage/bandwidth shrink before an embedding corpus is
    * indexed or shipped. Per vector: scale = 127 / max|v_i|, code_i =
    * round(v_i * scale). All math in double with order-independent
    * reductions (max), so codes are exactly reproducible across
    * engines; an all-zero vector quantizes to all-zero codes. Returns
    * array<int> (int8 value range). Dequantize: code_i / scale. */
  def quantizeInt8(vec: Column): Column = {
    val maxAbs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = lit(127.0) / maxAbs
    when(maxAbs === 0.0, transform(vec, _ => lit(0)))
      .otherwise(transform(vec, x =>
        round(x.cast("double") * scale).cast("int")))
  }

  /** Nearest-centroid assignment as a PURE PROJECTION — the ONE
    * assignment kernel behind every IVF path (in-memory [[ivfTopK]] /
    * [[ivfTopKExplicit]], [[trainCentroids]], and [[IvfIndex]]'s build,
    * refresh and probe). Per row, `sim(vector, centroid)` against each
    * inlined centroid literal, ranked by an ascending struct order on
    * (-sim, centroid_id) — i.e. sim DESC with centroid_id breaking
    * exact ties. `topN = 1` takes the struct `array_min` (one row per
    * input row); `topN > 1` sorts and explodes the first `topN`.
    * Adds `centroid_id` and its `assign_sim` (the ranking similarity).
    * No join, no window, no Exchange: the scan is map-only, so the
    * index build reads the corpus exactly once with ZERO row
    * amplification. (The previous plan crossJoined a broadcast
    * centroid frame and ranked through a window, which hash-exchanged
    * |corpus|·nlist rows — an nlist× shuffle amplification that a
    * 100 TB corpus cannot afford.) The nlist·dim literals ride to
    * executors inside the task binary — the same bytes the broadcast
    * carried, without the joined-row blowup.
    *
    * Two expression shapes, same math: up to 64 centroids unroll into
    * per-centroid codegen'd expressions (fastest); above that, ONE
    * 2-D array literal walked by a higher-order `transform` keeps the
    * expression tree O(1) in nlist, so a production-sized quantizer
    * (nlist in the tens of thousands) cannot blow up codegen.
    *
    * `sim` is [[cosine]] everywhere except the explicit quantizer,
    * which ranks by `round(cosine, 6)` (the q27 cross-engine
    * discipline). */
  private[ext] def nearestCentroids(df: DataFrame, vCol: String,
      centroids: Seq[Seq[Double]], topN: Int,
      sim: (Column, Column) => Column = cosine): DataFrame = {
    val scored =
      if (centroids.size <= 64)
        array(centroids.zipWithIndex.map { case (cv, i) =>
          struct((-sim(col(vCol), array(cv.map(lit): _*))).as("neg"),
            lit(i).as("centroid_id"))
        }: _*)
      else
        transform(typedlit(centroids), (cv, i) =>
          struct((-sim(col(vCol), cv)).as("neg"),
            i.cast("int").as("centroid_id")))
    val best =
      if (topN == 1) array_min(scored)
      else explode(slice(array_sort(scored), 1, topN))
    df.withColumn("_best", best)
      .withColumn("centroid_id", col("_best.centroid_id"))
      .withColumn("assign_sim", -col("_best.neg"))
      .drop("_best")
  }

  /** Deterministic hash-picked sample of `nlist` corpus vectors as
    * double arrays — the cheap-baseline coarse quantizer. The collect
    * is driver-bounded BY CONSTRUCTION (nlist vectors), and
    * float→double widening preserves every value
    * [[graft.functions.VecExprs]] would have read, so inlining the
    * sample as literals is exact. */
  private[ext] def sampleCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int): Seq[Seq[Double]] =
    corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"))
      .withColumn("h", xxhash64(col("cid")))
      .orderBy(col("h"), col("cid")).limit(nlist)
      .select(col("cv")).collect().toSeq
      .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq)

  /** Distributed element-wise mean of vectors per group — the pooling
    * primitive behind chunk→document embedding pooling and per-class
    * centroids, and EXACTLY the partial-aggregating mean
    * ([[trainCentroids]]'s `Summarizer.mean`) k-means training runs —
    * surfaced as an operator so the oracle gate certifies the
    * primitive itself: map-side combine, one exchange carrying
    * nGroups·dim partials, no row or dimension explosion, result
    * stays distributed. Returns (groupCol, mean_vec array<double>). */
  def meanPoolVectors(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    df.select(col(groupCol),
        array_to_vector(col(vecCol).cast("array<double>")).as("__v"))
      .groupBy(groupCol).agg(Summarizer.mean(col("__v")).as("__m"))
      .select(col(groupCol), vector_to_array(col("__m")).as("mean_vec"))
  }

  /** Per-dimension variance feature selection: rank embedding
    * dimensions by sample variance and keep the top `k` — the cheap
    * deterministic dimensionality screen run before committing to a
    * projection. ONE aggregation pass with map-side combine over the
    * dim key (state is dim-cardinality-sized, never corpus-sized); the
    * top-k plans as TakeOrderedAndProject and broadcast-joins back
    * onto the exploded vectors. Variance surfaced AND ranked at
    * 6-decimal rounding with a dim tie-break (the q92 discipline —
    * double sum-order noise sits ~1e-12, far below the grid).
    * Returns (idCol, dim, value, dim_variance) for kept dims only. */
  def selectTopVarianceDims(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val ex = df.select(col(idCol),
      posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "value")))
    val top = ex.groupBy("dim")
      .agg(round(var_samp(col("value")), 6).as("dim_variance"))
      .orderBy(col("dim_variance").desc, col("dim")).limit(k)
    ex.join(broadcast(top), "dim")
      .select(col(idCol), col("dim"), col("value"), col("dim_variance"))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Engine-portable ±1 sign matrix: sign(i,j) = +1 iff the last md5
    * hex nibble of "rp:seed:i:j" is even. md5 is available in every
    * engine, so an independent implementation reproduces the exact
    * matrix from (seed, i, j) alone — the reproducibility contract
    * behind [[signedRandomProjection]] (q112) and the LSH near-dup
    * blocker (q129/q130), whose oracles replay it in SQL. */
  private[ext] def signMatrix(dim: Int, planes: Int, seed: Int): Seq[Array[Double]] =
    (0 until planes).map { j =>
      Array.tabulate(dim) { i =>
        val nibble = Character.digit(md5hex(s"rp:$seed:$i:$j").charAt(31), 16)
        if (nibble % 2 == 0) 1.0 else -1.0
      }
    }

  /** Signed random projection (Achlioptas/JL-style ±1 matrix):
    * projects `dim`-dimensional embeddings to `outDim` dimensions with
    * a deterministic sign matrix derived from md5 parity — md5 is
    * engine-portable, so an independent engine reproduces the exact
    * matrix from (seed, i, j) alone. The projection is a MAP-ONLY
    * scan: each output dim is one native [[graft.functions.VecDot]]
    * against a literal sign vector (no explode, no shuffle, no
    * driver state beyond the dim·outDim sign literals), which is the
    * shape that survives 100 TB — dimensionality reduction before ANN
    * costs one pass over the corpus and nothing else.
    * Returns (idCol, out_dim, proj) with proj rounded to 6 decimals
    * (double dot products differ across engines only in sum order). */
  def signedRandomProjection(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: Int): DataFrame = {
    require(dim > 0 && outDim > 0, s"need positive dims: $dim -> $outDim")
    val projs = signMatrix(dim, outDim, seed).map { signs =>
      round(call_function("vec_dot", col(vecCol), lit(signs)), 6)
    }
    df.select(col(idCol), posexplode(array(projs: _*)).as(Seq("out_dim", "proj")))
  }

  /** Lloyd-iteration k-means refinement of the coarse quantizer, built
    * from the same shuffle-free machinery as the index itself: each
    * iteration is ONE map-only assignment scan ([[nearestCentroids]]
    * over literal centroids) + a partial-aggregating vector mean
    * (`Summarizer.mean` — map-side combine, nlist output groups, no
    * row or dimension amplification) + an nlist-row driver collect.
    * Empty clusters keep their previous centroid. Means are left
    * unnormalized: assignment ranks by cosine, which is
    * scale-invariant, so normalization would not change any
    * assignment. Trained centroids are NOT bit-reproducible across
    * partitionings (float sum order) — irrelevant to correctness,
    * because IVF's exactness guarantee (full probe ≡ brute force)
    * holds for ANY quantizer. */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): Seq[Seq[Double]] = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Summarizer
    var cents = sampleCentroids(corpus, idCol, vecCol, nlist)
    for (_ <- 0 until iters) {
      val means = nearestCentroids(
          corpus.select(col(vecCol).as("v")), "v", cents, topN = 1)
        .select(col("centroid_id"),
          array_to_vector(col("v").cast("array<double>")).as("mv"))
        .groupBy("centroid_id").agg(Summarizer.mean(col("mv")).as("m"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getAs[org.apache.spark.ml.linalg.Vector]("m").toArray.toSeq)
        .toMap
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** IVF (inverted-file) top-k — the classic coarse-quantizer ANN index
    * as a DataFrame pipeline. Corpus vectors are assigned to their
    * single nearest of `nlist` coarse centroids via a shuffle-free
    * projection ([[nearestCentroids]] — the index build is ONE map-only
    * scan); each query then probes only its `nprobe` nearest centroids'
    * lists, so the candidate join shuffles on centroid_id — list-local,
    * never all-pairs. Exact cosine ranks the candidates.
    *
    * `trainIters = 0` (default) uses the deterministic hash-picked
    * sample as the quantizer — the standard cheap baseline, reproducible
    * across runs/executors; `trainIters > 0` refines it with that many
    * k-means iterations ([[trainCentroids]]), which tightens the lists
    * so a smaller `nprobe` reaches the same recall.
    *
    * `nprobe = nlist` probes every list — the search degenerates to
    * exhaustive and returns EXACTLY [[bruteForceTopK]]'s result (same
    * cosine math, same (sim DESC, id) tie-break) REGARDLESS of the
    * quantizer, which is what puts this operator (trained or not) under
    * the DuckDB oracle gate; `nprobe < nlist` is the approximate scale
    * path. Output: (query_id, neighbor_id, cosine_sim, rank). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int, nprobe: Int,
      trainIters: Int = 0): DataFrame = {
    require(nlist > 0 && nprobe > 0 && nprobe <= nlist,
      s"need 0 < nprobe <= nlist, got nprobe=$nprobe nlist=$nlist")
    val centroids: Seq[Seq[Double]] =
      if (trainIters > 0)
        trainCentroids(corpus, idCol, vecCol, nlist, trainIters)
      else sampleCentroids(corpus, idCol, vecCol, nlist)
    ivfRanked(queries, corpus, idCol, vecCol, k, nprobe, centroids, cosine)
  }

  /** [[ivfTopK]] with a CALLER-SUPPLIED coarse quantizer and the q27
    * cross-engine rounding discipline on every ranking decision:
    * centroid assignment, query probing, and the final candidate rank
    * all order by `round(cosine, 6)` with id tie-breaks, so an
    * nprobe < nlist approximate search is exactly reproducible by an
    * independent engine given the same centroid list — what puts a
    * REAL approximate IVF run (not the nprobe = nlist degenerate)
    * under the oracle gate. Same plan shape as [[ivfTopK]]: map-only
    * assignment, candidate join shuffles on centroid_id, never
    * all-pairs. Centroid ids are the indices of `centroids`. */
  def ivfTopKExplicit(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centroids: Seq[Seq[Double]]): DataFrame = {
    require(centroids.nonEmpty && nprobe > 0 && nprobe <= centroids.size,
      s"need 0 < nprobe <= ${centroids.size} centroids, got $nprobe")
    require(centroids.forall(_.length == centroids.head.length),
      "centroids must share one dimensionality")
    ivfRanked(queries, corpus, idCol, vecCol, k, nprobe, centroids,
      (a, b) => round(cosine(a, b), 6))
  }

  /** The in-memory IVF body shared by [[ivfTopK]] and
    * [[ivfTopKExplicit]]: corpus vectors land in their single nearest
    * list, each query probes its `nprobe` nearest lists, the candidate
    * join shuffles on centroid_id, and `sim` — the same expression
    * that ranked the centroids — ranks the candidates (sim DESC, id). */
  private def ivfRanked(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centroids: Seq[Seq[Double]],
      sim: (Column, Column) => Column): DataFrame = {
    val lists = nearestCentroids(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv")),
      "nv", centroids, topN = 1, sim)
    val probes = nearestCentroids(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      "qv", centroids, topN = nprobe, sim)
    val scored = probes.join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        sim(col("qv"), col("nv")).as("cosine_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** MAXIMAL MARGINAL RELEVANCE re-rank (Carbonell & Goldstein, SIGIR
    * 1998) — diversity-aware top-k over a retriever's candidate pool:
    * greedily pick the unpicked candidate maximizing
    * λ·rel(c) − (1−λ)·max_{p∈picked} cos(c, p), ties to the lowest
    * id. The [[Retrieval.dedupTopN]] complement: dedupTopN collapses
    * DUPLICATE clusters outright; MMR dials a relevance/redundancy
    * trade for merely-similar results — the training-mix "don't
    * sample the same thing k times" knob.
    *
    * Scale shape: greedy selection is sequential per query, so it
    * runs as flatMapGroups over the query id — each group is the
    * retriever's candidate pool, BOUNDED BY CONSTRUCTION (`maxPool`
    * refuses an unbounded feed loudly; O(k·pool) sims per group),
    * distributed across queries, no driver collection.
    *
    * Determinism contract: pairwise sims round at 1e-6 (HALF_UP — the
    * q27 cross-engine discipline), `rel` must arrive PRE-ROUNDED, and
    * λ/(1−λ) are evaluated in double, so the greedy trace replays
    * bit-identically in an independent engine — q197's oracle replays
    * it with a recursive CTE. Ids cast to long; vectors non-null.
    * Output: (query_id, doc_id, rel, rank), rank = pick order. */
  def mmrTopK(candidates: DataFrame, queryCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int, lambda: Double,
      maxPool: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0, 1]: $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val oneMinus = 1.0 - lambda
    val ds = candidates.select(
        col(queryCol).cast("long").as("_q"),
        col(idCol).cast("long").as("_d"),
        transform(col(vecCol), x => x.cast("double")).as("_v"),
        col(relCol).cast("double").as("_r"))
      .as[(Long, Long, Seq[Double], Double)]
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      r6(d / math.sqrt(na * nb))
    }
    ds.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // ascending-id scan + strict improvement = lowest-id tie-break
      val pool = it.toArray.sortBy(_._2)
      require(pool.length <= maxPool,
        s"mmr pool for query $qid is ${pool.length} rows — bound the " +
          s"retriever's candidate list (<= $maxPool)")
      val vs = pool.map(_._3.toArray)
      // degenerate inputs refuse LOUDLY up front: a zero-norm vector
      // makes cos 0/0 = NaN (BigDecimal(NaN) would throw deep inside
      // the greedy loop) and a NaN rel makes every objective NaN (the
      // strict-improvement scan would never pick) — both are data
      // bugs the caller must see, not opaque executor crashes
      pool.indices.foreach { i =>
        require(!pool(i)._4.isNaN,
          s"mmr: NaN rel for (query $qid, id ${pool(i)._2})")
        require(vs(i) != null && vs(i).exists(_ != 0.0) &&
          !vs(i).exists(_.isNaN),
          s"mmr: null/zero-norm/NaN vector for (query $qid, " +
            s"id ${pool(i)._2}) — filter degenerate embeddings first")
        // ragged widths would make cos6 silently score a prefix (or
        // throw mid-greedy-loop) — same refuse-loudly contract
        require(vs(i).length == vs(0).length,
          s"mmr: ragged vector width for (query $qid, " +
            s"id ${pool(i)._2}): ${vs(i).length} vs ${vs(0).length} — " +
            "pool vectors must share one dimension")
      }
      val n = pool.length
      val picked = new Array[Boolean](n)
      val pickedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      (0 until math.min(k, n)).map { step =>
        var best = -1
        var bestS = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!picked(i)) {
            val ms =
              if (pickedIdx.isEmpty) 0.0
              else pickedIdx.map(j => cos6(vs(i), vs(j))).max
            val s = lambda * pool(i)._4 - oneMinus * ms
            if (s > bestS) { best = i; bestS = s }
          }
          i += 1
        }
        picked(best) = true
        pickedIdx += best
        (qid, pool(best)._2, pool(best)._4, step + 1)
      }
    }.toDF("query_id", "doc_id", "rel", "rank")
  }

  /** nprobe AUTO-TUNING ladder — the production knob an IVF deployment
    * actually turns: how many posting lists must a probe visit before
    * recall@k clears the bar? One row per candidate `nprobe`
    * (ascending): (nprobe, hits, recall), where hits counts
    * exact-top-k members the [[ivfTopKExplicit]] probe recovered over
    * the whole query sample and recall = hits / |exact rows| (ONE
    * integer division — bit-identical across engines, no float-sum
    * order anywhere). Recall is MONOTONE in nprobe by construction
    * (more probes = a candidate superset, and every exact-top-k member
    * outranks every non-member under the shared rounded total order),
    * which [[tuneNprobe]] requires and the oracle replays.
    *
    * Evaluation-harness stance (the q176/q183 discipline): the query
    * sample is fixed and seeded, so the cost is O(|ladder|) centroid-
    * pruned probes + ONE exact reference leg over the corpus — linear,
    * never all-pairs. */
  def nprobeLadder(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      ladder: Seq[Int]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    require(ladder.nonEmpty && ladder == ladder.sorted &&
      ladder.distinct == ladder,
      s"ladder must be ascending and distinct: $ladder")
    require(ladder.forall(p => p > 0 && p <= centroids.size),
      s"ladder entries must sit in (0, ${centroids.size}]: $ladder")
    val exact = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // |queries|·k rows; reused per rung
    val total = exact.count()
    require(total > 0, "nprobe tuning needs a non-empty exact reference")
    ladder.map { p =>
      val hits = ivfTopKExplicit(queries, corpus, idCol, vecCol, k, p,
          centroids)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      (p, hits, hits.toDouble / total)
    }.toDF("nprobe", "hits", "recall")
  }

  /** The tuning decision on top of [[nprobeLadder]]: the SMALLEST
    * nprobe whose recall@k clears `target` (falling back to the full
    * probe — exact by construction — when none does), plus the ladder
    * frame with a `meets_target` flag for audit. Requires the measured
    * ladder monotone (the structural guarantee above; a violation
    * means the probe and reference disagree on ordering — refuse
    * loudly rather than tune on it). */
  def tuneNprobe(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Seq[Seq[Double]],
      ladder: Seq[Int], target: Double): (Int, DataFrame) = {
    require(target > 0 && target <= 1.0, s"target in (0, 1]: $target")
    val lf = nprobeLadder(queries, corpus, idCol, vecCol, k, centroids,
      ladder)
    val rows = lf.select(col("nprobe"), col("recall"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    rows.sliding(2).foreach {
      case Array((p0, r0), (p1, r1)) =>
        require(r1 >= r0,
          s"recall must be monotone in nprobe: $p0->$r0, $p1->$r1")
      case _ => ()
    }
    val pick = rows.find(_._2 >= target).map(_._1)
      .getOrElse(centroids.size)
    (pick, lf.withColumn("meets_target", col("recall") >= target))
  }

  // ---- hybrid retrieval: lexical + vector, RRF fusion -------------------

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    * of ranked retrieval lists — the standard way a RAG / retrieval-
    * eval pipeline combines BM25 and embedding search without score
    * calibration: RRF(d) = Σ_lists 1/(rrfK + rank_d), documents
    * missing from a list contribute nothing there. Each input is
    * (id, score); ranks are 1-based by (score desc, id asc).
    *
    * Scale shape: every input list is already CANDIDATE-BOUNDED (a
    * top-N from its retriever), so the rank windows and the fusion
    * join run over hundreds of rows — and since r20 they are KEYED
    * windows (the batch shape over a constant query key), so no
    * unpartitioned WindowExec survives anywhere in the plan (the
    * corpus-scale work happened inside each retriever, which is where
    * this operator's inputs come from by construction). The contract
    * is ENFORCED (the [[mmrTopK]] discipline): a list past
    * `maxCandidates` rows fails LOUDLY in-plan — a raise_error riding
    * each list's rank, no extra count job — instead of silently
    * serializing an unbounded feed through one window partition.
    * Output: (idCol, rrf_score, rank_1..rank_n) — per-list ranks ride
    * along null-padded so downstream evals can attribute the fusion. */
  def rrfFuse(lists: Seq[(DataFrame, String)], idCol: String,
      topN: Int, rrfK: Int = 60,
      maxCandidates: Int = 100000): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(topN > 0 && rrfK > 0, s"bad topN=$topN / rrfK=$rrfK")
    require(maxCandidates >= topN,
      s"maxCandidates $maxCandidates < topN $topN")
    // ONE implementation: the single-query form IS the batch form over
    // a constant query key (r20; per-query equivalence was already
    // spec-pinned from the batch side). This retires the last
    // UNPARTITIONED ranking windows — the keyed window plans as a hash
    // exchange on the key instead of WindowExec's move-everything-to-
    // one-partition shape, and the in-plan maxCandidates bound still
    // refuses an unbounded feed loudly. Row set and output columns are
    // unchanged: the batch rank<=topN cut under the same (rrf_score
    // desc, id) total order equals the old orderBy+limit.
    var qc = "__rrf_q"
    while (lists.exists(_._1.columns.contains(qc)) || qc == idCol) qc += "_"
    // constant-0 key DERIVED from the id column: a bare literal would
    // be folded out of the window partition spec by the optimizer,
    // resurrecting the unpartitioned WindowExec this migration retires
    val joined = rrfJoined(
      lists.map { case (df, s) =>
        (df.withColumn(qc, pmod(xxhash64(col(idCol)), lit(1L))), s) },
      qc, idCol, rrfK, maxCandidates, "rrfFuse")
    // final cut via orderBy+limit (TakeOrdered — a partial top-N, not
    // another window pass): with one query the (rrf_score desc, id)
    // total order makes it row-identical to the batch form's rank cut
    joined.select(Seq(col(idCol)) ++
        (1 to lists.size).map(i => col(s"rank_$i")) :+
        col("rrf_score"): _*)
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(topN)
  }

  /** BATCHED reciprocal-rank fusion — [[rrfFuse]] for a whole query
    * set in ONE distributed plan (the [[graft.ext.Bm25Index.topNBatch]]
    * shape, closing the fusion leg of the same wall: a 10k-query
    * hybrid eval must not run 10k sequential fusions). Every input
    * list carries (queryCol, idCol, score); ranks are assigned per
    * (list, query) by a KEYED window — partitioned by the query id,
    * so the work distributes across queries AND the single-partition
    * exchange of the one-query form disappears from the plan
    * entirely. Fusion full-outer-joins the lists per (query, id),
    * scores RRF(d) = Σ 1/(rrfK + rank_d) (missing-from-a-list
    * contributes nothing), and cuts topN per query.
    *
    * Per-query output ≡ [[rrfFuse]] of that query's lists
    * (spec-pinned); `maxCandidates` is enforced in-plan per (list,
    * query) — the [[mmrTopK]] discipline. Output: (queryCol, idCol,
    * rank_1..rank_n null-padded, rrf_score, rank). */
  def rrfFuseBatch(lists: Seq[(DataFrame, String)], queryCol: String,
      idCol: String, topN: Int, rrfK: Int = 60,
      maxCandidates: Int = 100000): DataFrame = {
    require(lists.nonEmpty, "rrfFuseBatch needs at least one ranked list")
    require(topN > 0 && rrfK > 0, s"bad topN=$topN / rrfK=$rrfK")
    require(maxCandidates >= topN,
      s"maxCandidates $maxCandidates < topN $topN")
    val joined = rrfJoined(lists, queryCol, idCol, rrfK, maxCandidates,
      "rrfFuseBatch")
    val wCut = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_score").desc, col(idCol))
    joined.withColumn("rank", row_number().over(wCut))
      .filter(col("rank") <= topN)
  }

  /** Shared core of [[rrfFuse]]/[[rrfFuseBatch]]: per-(list, query)
    * KEYED rank windows with the in-plan bound, the per-(query, id)
    * full-outer fusion, and the rounded RRF score — everything except
    * the final top-N cut (a keyed window in the batch form, a
    * TakeOrdered in the single-query form). */
  private def rrfJoined(lists: Seq[(DataFrame, String)],
      queryCol: String, idCol: String, rrfK: Int,
      maxCandidates: Int, what: String): DataFrame = {
    require(rrfK > 0, s"bad rrfK=$rrfK")
    val ranked = lists.zipWithIndex.map { case ((df, scoreCol), i) =>
      val w = Window.partitionBy(col(queryCol))
        .orderBy(col(scoreCol).desc, col(idCol))
      df.select(col(queryCol), col(idCol), col(scoreCol))
        // a null query id would weld unrelated candidates into one
        // ranking (the topNBatch hazard) — refuse in-plan
        .filter(when(col(queryCol).isNull, raise_error(lit(
            s"$what: null query id in input list ${i + 1}")))
          .otherwise(lit(true)))
        .withColumn(s"rank_${i + 1}", row_number().over(w))
        .filter(when(col(s"rank_${i + 1}") > maxCandidates,
            raise_error(concat(
              lit(s"$what: input list ${i + 1} exceeds " +
                s"maxCandidates=$maxCandidates rows for query "),
              col(queryCol).cast("string"),
              lit(" — feed retrievers' bounded top-N lists"))))
          .otherwise(lit(true)).cast("boolean"))
        .drop(scoreCol)
    }
    val joined = ranked.reduce(
      _.join(_, Seq(queryCol, idCol), "full_outer"))
    val rrf = (1 to lists.size).map(i =>
        coalesce(lit(1.0) / (lit(rrfK) + col(s"rank_$i")), lit(0.0)))
      .reduce(_ + _)
    joined.withColumn("rrf_score", round(rrf, 9))
  }
}
