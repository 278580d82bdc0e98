package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora — the BASELINE
  * extension surface (SURVEY §0, §7.1 item 7). The reference only
  * *recognizes* Fuzzy Grouping (data_engineering_parser.py:1114); here
  * the machinery is real and built scale-first:
  *
  *   - candidate generation is ALWAYS blocked/banded (LSH bands or
  *     band-hash buckets), never an all-pairs product;
  *   - signatures are computed with codegen'd native functions
  *     (xxhash64, higher-order array ops) — no UDFs in the hot path;
  *   - verification joins carry only (id, signature) pairs and re-join
  *     the shingle sets, so the exploded band table stays narrow.
  */
object Dedup {

  // ---------- internals ----------

  /** Persist AND materialize: the pair generators below self-join the
    * frame they cache, and a lazy persist lets both join branches race
    * past the cold cache and recompute the (expensive) signature
    * expressions. One eager count up front makes every branch a cache
    * read. */
  private def eagerCache(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** Close a staged pair generator's lifecycle: materialize the
    * (near-dup-density-sized) pair frame while the corpus-sized caches
    * behind it are still warm, then release them — the caller's
    * actions replay only the cached pair partitions, and the caller
    * unpersists the returned frame when done. */
  private[ext] def materializePairs(staged: (DataFrame, () => Unit))
      : DataFrame = {
    val (pairs, release) = staged
    val out = pairs.persist()
    out.count()
    release()
    out
  }

  // ---------- exact ----------

  /** Exact dedup: keep one row per key set, the one with the smallest
    * `orderCol` (deterministic, unlike dropDuplicates' arbitrary pick).
    * One hash-partition shuffle on the key. */
  def exactKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------- shingling & Jaccard ----------

  /** Whitespace tokens (exact single-space split — matches the oracle's
    * string_split semantics on the corpus). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct k-gram token shingles joined with a U+0001 separator.
    * Native [[graft.functions.TokenShingles]] expression — one compiled
    * pass instead of interpreted transform/slice/concat_ws lambdas. */
  def shingles(text: Column, k: Int): Column =
    call_function("token_shingles", text, lit(k))

  /** Exact set Jaccard — general form over any element type (the
    * array_intersect/array_union formulation, incl. its NULL-element
    * semantics). The string-set verify joins use [[jaccardStr]]. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact set Jaccard for array<string> sets via the native
    * [[graft.functions.JaccardSets]] expression: one hash-counting
    * pass per array instead of materializing the intersection AND
    * union arrays per pair — the verify-join hot path (millions of
    * candidate pairs × long shingle sets) allocates nothing but the
    * hash sets. Identical to [[jaccard]] on NULL-free string sets
    * (ours always are — tokens come from split); NULL elements are
    * skipped rather than matched. */
  private def jaccardStr(a: Column, b: Column): Column =
    call_function("jaccard_sets", a, b)

  // ---------- MinHash + banded LSH ----------

  /** MinHash signature — array<long> of length `numHashes`. Delegates
    * to the native [[graft.functions.MinHashSig]] expression: one
    * compiled pass per row instead of `numHashes` interpreted
    * higher-order-function passes (43 s → sub-second at sf0.1). */
  def minhashSignature(shingleSet: Column, numHashes: Int): Column =
    graft.functions.MinHashSig.minhash_sig(shingleSet, numHashes)

  /** Banded LSH keys: split the signature into `bands` bands of
    * `rowsPerBand` and hash each — array<struct<band:int,key:long>>. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("key"))
    }: _*)

  /** Near-duplicate pairs via MinHash-LSH banding: candidates are id
    * pairs sharing ≥1 band bucket; each candidate is verified with the
    * exact shingle Jaccard. Returns (idA, idB, jaccard_sim), idA < idB.
    *
    * Scale shape: the exploded band table is (id, band, key) — 20 bytes
    * a row — and the candidate join shuffles on (band, key). Skewed
    * buckets (a degenerate band key shared by boilerplate-heavy docs)
    * are the one hazard: a bucket of width w contributes w²/2 candidate
    * pairs, so ONE boilerplate bucket can turn the join quadratic.
    * `maxBucket` drops buckets wider than the cap — LSH recall is
    * already probabilistic across `bands` independent bands, so a
    * dropped bucket only removes one of a pair's several chances to
    * collide, and the exact-Jaccard verify step is untouched. Set 0 to
    * disable.
    *
    * Cache contract: the result comes back materialized and PERSISTED
    * (pair-density-sized; the corpus-sized intermediate is already
    * released) — the caller must `unpersist()` it when done, or each
    * invocation holds executor storage until the session ends. */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 10000): DataFrame =
    materializePairs(minhashNearDupPairsStaged(df, idCol, textCol,
      k, numHashes, bands, threshold, maxBucket))

  /** The lazy half of [[minhashNearDupPairs]]: the pair frame + a
    * release hook for the corpus-sized cached shingle projection (must
    * stay cached until the last action over the pairs — the banded
    * explode and both verify sides read it). */
  private def minhashNearDupPairsStaged(df: DataFrame, idCol: String,
      textCol: String, k: Int, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int): (DataFrame, () => Unit) = {
    val withSets = df.select(col(idCol).as("id"),
        shingles(col(textCol), k).as("sh"))
      .filter(size(col("sh")) > 0)
    val sets = eagerCache(withSets)
    val allBanded = sets
      .select(col("id"),
        explode(lshBandKeys(minhashSignature(col("sh"), numHashes), bands,
          numHashes / bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    // bucket-width cap via a window over the SAME (band, key) keys the
    // join shuffles on — one partitioning, no extra join
    val banded =
      if (maxBucket <= 0) allBanded
      else allBanded
        .withColumn("__w",
          count(lit(1)).over(Window.partitionBy("band", "key")))
        .filter(col("__w") <= maxBucket).drop("__w")
    val l = banded.alias("l")
    val r = banded.alias("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("ida"), col("r.id").as("idb"))
      .distinct()
    val a = sets.select(col("id").as("ida"), col("sh").as("sha"))
    val b = sets.select(col("id").as("idb"), col("sh").as("shb"))
    val out = candidates.join(a, "ida").join(b, "idb")
      .select(col("ida"), col("idb"),
        jaccardStr(col("sha"), col("shb")).as("jaccard_sim"))
      .filter(col("jaccard_sim") >= threshold)
    (out, () => { sets.unpersist(blocking = true); () })
  }

  // ---------- exact Jaccard join via prefix filtering ----------

  /** EXACT Jaccard self-join at `threshold` via prefix filtering
    * (the PPJoin candidate condition): if J(a,b) >= t, then a and b
    * must share at least one element within the first
    * `|x| - ceil(t*|x|) + 1` elements of x under ANY global total
    * order of the universe — the result set is lossless for EVERY
    * order, but the CANDIDATE volume is not: under a frequency-blind
    * order a frequent token lands in prefixes at the same rate as a
    * rare one, and its candidate block pairs a constant fraction of
    * the corpus with itself (quadratic in corpus density — measured
    * sf0.1→sf1, SCALING.md). The default is therefore PPJoin's
    * canonical ascending-document-frequency order (df, then token):
    * prefix tokens are each document's RAREST, so posting lists stay
    * short and candidates scale with near-dup density, not corpus
    * size. One wordcount aggregate + one per-doc window buys that
    * order; `dfOrderedPrefix = false` keeps the zero-exchange native
    * (xxhash64, token) prefix ([[graft.functions.JaccardPrefix]]) for
    * small batches where two extra exchanges cost more than they
    * save. Both orders produce identical pairs (swept in
    * CurationSweepSpec).
    *
    * `d` must have `idCol` and an array<string> set column `wsCol`
    * (pre-distinct). `blockCol` optionally restricts pairs to equal
    * block values (e.g. language) — a semantic filter, not the scale
    * mechanism. Returns (ida, idb[, block], jaccard_sim >= threshold).
    *
    * Cache contract: the result comes back materialized and PERSISTED
    * (pair-density-sized; corpus-sized intermediates released) — the
    * caller must `unpersist()` it when done. */
  def jaccardNearDupPairs(d: DataFrame, idCol: String, wsCol: String,
      threshold: Double, blockCol: Option[String] = None,
      dfOrderedPrefix: Boolean = true): DataFrame =
    materializePairs(jaccardNearDupPairsStaged(d, idCol, wsCol,
      threshold, blockCol, dfOrderedPrefix))

  /** The lazy half of [[jaccardNearDupPairs]]: the pair frame + one
    * release hook covering both the cached set projection and (under
    * the df-ordered prefix) the cached prefix-token table. */
  private def jaccardNearDupPairsStaged(d: DataFrame, idCol: String,
      wsCol: String, threshold: Double, blockCol: Option[String],
      dfOrderedPrefix: Boolean): (DataFrame, () => Unit) = {
    val t = threshold
    val blockCols = blockCol.toSeq.map(col)
    val blockNames = blockCol.toSeq
    val sets = eagerCache(d.select((col(idCol).as("id") +: blockCols :+
      col(wsCol).as("ws")): _*))
    val ex =
      if (!dfOrderedPrefix)
        // native hash-ordered prefix: one compiled pass, no exchanges
        sets.select((col("id") +: blockCols :+
          explode(call_function("jaccard_prefix", col("ws"), lit(t)))
            .as("tok")): _*)
      else eagerCache {
        // cached: the candidate self-join consumes this twice, and the
        // df pipeline (postings agg + join + per-doc window) is three
        // exchanges — uncached it runs once per join side
        // PPJoin canonical order: ascending df, ties by token — the
        // same machinery as containmentPairs (df over the self corpus)
        val postings = sets.select((col("id") +: blockCols :+
          size(col("ws")).as("__n") :+ explode(col("ws")).as("tok")): _*)
        val dfreq = postings.groupBy((blockCols :+ col("tok")): _*)
          .agg(count(lit(1)).as("__df"))
        val wDoc = Window.partitionBy("id").orderBy(col("__df"), col("tok"))
        postings.join(dfreq, blockNames :+ "tok")
          .withColumn("__r", row_number().over(wDoc))
          // +1e-9 before floor: (1-t)·n can round DOWN past the exact
          // value and shrink the prefix below the lossless bound; the
          // guard only ever ENLARGES the prefix (containmentPairs note)
          .filter(col("__r") <=
            floor((lit(1.0) - t) * col("__n") + lit(1e-9)).cast("int") + 1)
          .select((col("id") +: blockCols :+ col("tok")): _*)
      }
    val l = ex.alias("l")
    val r = ex.alias("r")
    val blockEq = blockCol.map(b => col(s"l.$b") === col(s"r.$b"))
      .getOrElse(lit(true))
    val candidates = l.join(r,
        blockEq && col("l.tok") === col("r.tok") && col("l.id") < col("r.id"))
      .select(col("l.id").as("ida"), col("r.id").as("idb"))
      .distinct()
    val a = sets.select((col("id").as("ida") +: blockCols :+
      col("ws").as("wsa")): _*)
    val b = sets.select(col("id").as("idb"), col("ws").as("wsb"))
    val out = candidates.join(a, "ida").join(b, "idb")
      // cheap length filter before the exact intersect: J>=t bounds the
      // size ratio of the two sets
      .filter(size(col("wsa")).cast("double") >= lit(t) * size(col("wsb")) &&
        size(col("wsb")).cast("double") >= lit(t) * size(col("wsa")))
      .select((col("ida") +: col("idb") +: blockCols :+
        jaccardStr(col("wsa"), col("wsb")).as("jaccard_sim")): _*)
      .filter(col("jaccard_sim") >= t)
    (out, () => {
      sets.unpersist(blocking = true)
      if (ex ne sets) ex.unpersist(blocking = true)
      ()
    })
  }

  /** EXACT containment (asymmetric Jaccard) pairs: (a, b) with
    * |A∩B| / |A| >= t, `a` drawn from `probe` and `b` from `corpus` —
    * the small-doc-embedded-in-big-doc duplication (quoted articles,
    * boilerplate wrappers) that symmetric Jaccard misses because the
    * size-ratio filter kills it. Directional: `ida` is the contained
    * side. The two-frame shape is the production one (screen a batch
    * against the corpus); pass the same frame twice for the full
    * self-join — but beware that containment's candidate space is
    * inherently postings-bound: unlike symmetric Jaccard there is no
    * size-ratio pruning, so the self-join over a corpus whose token
    * universe is tiny degenerates toward all-pairs (nothing blocks
    * two docs that share one rare token).
    *
    * Candidates via prefix filtering: if at most (1−t)·|A| of A's
    * tokens are outside B, then A's first ⌊(1−t)·|A|⌋+1 tokens under
    * ANY fixed total order must intersect B — lossless for every
    * order. The order we pick is the PPJoin canonical one, ascending
    * corpus document frequency (one wordcount-shaped aggregation):
    * every prefix token is then among the RAREST its document has, so
    * the probe⋈postings join fans out against short posting lists
    * instead of stop-word floods. All stages are linear
    * scans/shuffles; the exact verify join re-checks every candidate.
    * Returns (ida, idb[, block], containment >= t).
    *
    * Cache contract: the result comes back materialized and PERSISTED
    * (pair-density-sized; both corpus-sized set caches released) —
    * the caller must `unpersist()` it when done. */
  def containmentPairs(probe: DataFrame, corpus: DataFrame, idCol: String,
      wsCol: String, threshold: Double,
      blockCol: Option[String] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1]: $threshold")
    val t = threshold
    val blockCols = blockCol.toSeq.map(col)
    val blockNames = blockCol.toSeq
    def shape(d: DataFrame) = d.select((col(idCol).as("id") +: blockCols :+
      col(wsCol).as("ws")): _*)
    val probeSets = eagerCache(shape(probe))
    val corpusSets = eagerCache(shape(corpus))
    def postings(sets: DataFrame) = sets.select((col("id") +: blockCols :+
      size(col("ws")).as("__n") :+ explode(col("ws")).as("tok")): _*)
    val corpusEx = postings(corpusSets)
    // document frequency measured over the CORPUS side — the side the
    // prefix tokens' posting lists come from
    val dfreq = corpusEx.groupBy((blockCols :+ col("tok")): _*)
      .agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("id").orderBy(col("__df"), col("tok"))
    val probes = postings(probeSets)
      // left join: a probe token absent from the corpus has df 0 — it
      // sorts first and (correctly) matches no posting
      .join(dfreq, blockNames :+ "tok", "left")
      .na.fill(0L, Seq("__df"))
      .withColumn("__r", row_number().over(wDoc))
      // +1e-9 before floor: (1-t) can round DOWN past the exact value
      // (1-0.9 → 0.09999999999999998), shrinking the prefix below the
      // bound while the verify filter passes boundary pairs in rounded
      // doubles; the guard only ever ENLARGES the prefix — lossless
      .filter(col("__r") <=
        floor((lit(1.0) - t) * col("__n") + lit(1e-9)).cast("int") + 1)
      .select((col("id") +: blockCols :+ col("tok")): _*)
    val l = probes.alias("l")
    val r = corpusEx.alias("r")
    val blockEq = blockCol.map(b => col(s"l.$b") === col(s"r.$b"))
      .getOrElse(lit(true))
    val candidates = l.join(r,
        blockEq && col("l.tok") === col("r.tok") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("ida"), col("r.id").as("idb"))
      .distinct()
    val a = probeSets.select((col("id").as("ida") +: blockCols :+
      col("ws").as("wsa")): _*)
    val b = corpusSets.select(col("id").as("idb"), col("ws").as("wsb"))
    val pairs = candidates.join(a, "ida").join(b, "idb")
      .select((col("ida") +: col("idb") +: blockCols :+
        // native count-only overlap: no intersection array per pair
        (call_function("overlap_size", col("wsa"), col("wsb"))
          .cast("double") / size(col("wsa"))).as("containment")): _*)
      .filter(col("containment") >= t)
    // materialize the pair-density-sized output, drop the two
    // corpus-sized set caches (the cosineNearDupPairs lifecycle)
    val out = pairs.persist()
    out.count()
    probeSets.unpersist(blocking = true)
    corpusSets.unpersist(blocking = true)
    out
  }

  /** Near-dup pair list → cluster resolution: connected components
    * over the pairs ([[Fuzzy.connectedComponents]] — hybrid driver
    * union-find / distributed large-star/small-star contraction, so a
    * beyond-driver pair graph converges in O(log^2 n) rounds even when
    * clusters are chain-shaped), each row labeled
    * with its cluster's smallest id, i.e. the canonical keeper. Rows
    * in no pair are their own cluster. This is the keep-one step every
    * dedup pipeline ends with, composable with ANY of the pair
    * generators above. Returns (idCol, cluster_id). */
  def resolveClusters(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    Fuzzy.connectedComponents(
        df.select(col(idCol).as("id")),
        pairs.select(col("ida").as("src"), col("idb").as("dst")))
      .select(col("id").as(idCol), col("label").as("cluster_id"))

  /** Cluster resolution keeping the BEST row per cluster instead of
    * the smallest id — the SemDeDup stance: when near-duplicates
    * collapse, retain the highest-quality representative (longest,
    * highest LM score, …), not the accidental first arrival. Same
    * connected components as [[resolveClusters]], then one window per
    * cluster ranked by (`scoreCol` DESC, id) — ties pin to the
    * smallest id so the keeper is deterministic. Returns every input
    * row: (idCol, cluster_id, keep). */
  def resolveClustersBest(df: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: Column): DataFrame = {
    val labeled = resolveClusters(df, idCol, pairs)
      .join(df.select(col(idCol), scoreCol.as("__score")), Seq(idCol))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("__score").desc, col(idCol))
    labeled.withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("keep"))
  }

  // ---------- incremental ingestion screen ----------

  /** Dedup-on-arrival for a continuously growing corpus: keep only the
    * `batch` rows whose normalized content fingerprint does not already
    * exist in `corpus`. ONE left-anti join on 128-bit md5 keys — the
    * corpus side projects only its fingerprint (column-pruned at the
    * scan), so at 100 TB the exchange carries 32-hex keys, not
    * documents; on a real deployment the corpus fingerprints live as
    * their own bucketed table and the join is co-located. */
  def newAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      contentCol: String): DataFrame =
    batch.withColumn("__fp", TextAnalysis.fingerprint(col(contentCol)))
      .join(corpus.select(TextAnalysis.fingerprint(col(contentCol)).as("__fp")),
        Seq("__fp"), "left_anti")
      .drop("__fp")

  // ---------- incrementally-maintained cluster table ----------

  /** One [[maintainClusters]] commit's receipts, for specs and
    * monitoring: the new label-table version, how many existing
    * clusters the batch touched, how many existing member rows were
    * re-resolved (the DELTA-BOUNDED work — everything else was never
    * read), and how many arrival rows were labeled. */
  final case class ClusterMaintenance(version: Long,
      touchedClusters: Long, touchedRows: Long, newRows: Long)

  /** Incrementally-MAINTAINED duplicate clusters — the churn-time
    * complement of [[resolveClusters]]: a versioned (id, cluster_id)
    * table ([[graft.sources.VersionedTable]], cluster_id = the
    * component's smallest id) absorbs one arrival batch WITHOUT
    * re-resolving the corpus. Re-running full CC per batch is a
    * whole-corpus shuffle each cycle; here the work is bounded by the
    * DELTA'S NEIGHBORHOOD:
    *
    *  1. `newPairs` (ida, idb — from any pair generator, e.g.
    *     [[minhashNearDupPairs]] between arrivals and corpus) name
    *     the only places clusters can change; their endpoint set is
    *     delta-bounded, collected under the
    *     [[IdPredicate.MaxCollectedIds]] cap;
    *  2. TOUCHED clusters = labels of endpoints already in the table,
    *     found by a stats-pruned [[graft.sources.VersionedTable.readWhere]]
    *     through a constant-size [[IdPredicate]] range cover (+ exact
    *     re-filter — the cover is a superset by construction);
    *  3. the sub-graph re-resolved is (touched clusters' star edges
    *     id→cluster_id) ∪ newPairs over (touched members ∪ endpoints
    *     ∪ `newIds`) — [[Fuzzy.connectedComponents]] (a near-star
    *     graph: the driver path for small deltas, star contraction
    *     past it);
    *  4. ONE [[graft.sources.VersionedTable.merge]] upserts the
    *     re-resolved labels; untouched clusters are never read,
    *     never rewritten.
    *
    * Min-id labels are STABLE under this maintenance: an untouched
    * component's minimum cannot change, and a merge of touched
    * components takes the min of their mins — exactly what full CC
    * over the accumulated pair set would produce, so maintained
    * labels ≡ full recompute at every version (spec-pinned, and the
    * q206 oracle replays the full closure). Unknown pair endpoints
    * (in neither the table nor `newIds`) refuse loudly — a silent
    * skip would drop a merge and the invariant with it. Arrivals
    * with no pair become singletons. `newIds` already present in the
    * table refuse (an id is immutable corpus identity; re-arrival is
    * the arrival screen's business, [[newAgainstCorpus]]). */
  def maintainClusters(spark: org.apache.spark.sql.SparkSession,
      labelRoot: String, idCol: String, newIds: DataFrame,
      newPairs: DataFrame): ClusterMaintenance = {
    import graft.sources.VersionedTable
    // pin the pair feed ONCE: it is typically an expensive generator
    // (banded LSH between arrivals and corpus), and it feeds both the
    // endpoint set here and the CC edge set below
    val pairs = newPairs.select(col("ida"), col("idb"))
      .localCheckpoint(true)
    // the endpoint set and the arrival set are independent pins, and
    // their id-cover collects are independent too — overlap the pair
    // (guide §2.6: this method is a chain of small driver actions;
    // the latency is the action count, not any one job)
    val Seq(ends, arrivals) = Par[DataFrame](
      () => pairs.select(col("ida").as("id"))
        .union(pairs.select(col("idb").as("id")))
        .distinct().localCheckpoint(true),
      () => newIds.select(col(idCol).as("id")).distinct()
        .localCheckpoint(true))
    val Seq(endIds, arrivalIdsE) = Par[Seq[Any]](
      () => ends.orderBy("id")
        .limit(IdPredicate.MaxCollectedIds + 1)
        .collect().map(_.get(0)).toSeq,
      () => arrivals.orderBy("id")
        .limit(IdPredicate.MaxCollectedIds + 1)
        .collect().map(_.get(0)).toSeq)
    require(endIds.length <= IdPredicate.MaxCollectedIds,
      s"maintainClusters: pair endpoints past " +
        s"${IdPredicate.MaxCollectedIds} — split the arrival batch")
    // endpoint rows already in the table (pruned scan + exact filter)
    val endCover = IdPredicate.predicate(col(idCol), endIds)
      .getOrElse(lit(true))
    val endRows =
      if (endIds.isEmpty)
        VersionedTable.read(spark, labelRoot).limit(0)
      else VersionedTable.readWhere(spark, labelRoot, endCover)
        .join(ends.select(col("id").as(idCol)), Seq(idCol), "left_semi")
        .localCheckpoint(true)
    // the arrival cover must refuse past the cap like the endpoint
    // and label collects do — a silent truncation would let an
    // uncovered re-arrival's row dodge the pruned scan, pass this
    // check, and get its existing label silently overwritten
    val arrivalIds = arrivalIdsE
    require(arrivalIds.length <= IdPredicate.MaxCollectedIds,
      s"maintainClusters: arrivals past " +
        s"${IdPredicate.MaxCollectedIds} — split the arrival batch")
    // two independent hygiene counts, overlapped:
    // every pair endpoint must be a known doc (in the table or
    // arriving), and no arrival may already be in the table
    val Seq(unknown, reArrival) = Par[Long](
      () => ends
        .join(endRows.select(col(idCol).as("id")), Seq("id"),
          "left_anti")
        .join(arrivals, Seq("id"), "left_anti").count(),
      () => arrivals.join(
        VersionedTable.readWhere(spark, labelRoot,
          IdPredicate.predicate(col(idCol), arrivalIds)
            .getOrElse(lit(true)))
          .select(col(idCol).as("id")), Seq("id"), "left_semi").count())
    require(unknown == 0L,
      s"maintainClusters: $unknown pair endpoint(s) in neither the " +
        "label table nor newIds — a silently skipped pair drops a " +
        "cluster merge")
    require(reArrival == 0L,
      s"maintainClusters: $reArrival newIds already in the table — " +
        "ids are immutable identity; screen re-arrivals upstream")
    // touched clusters' full membership (the delta-bounded re-resolve
    // set); the label cover is a superset — exact semi-join restores it
    val touchedLabels = endRows.select(col("cluster_id")).distinct()
      .localCheckpoint(true)
    val labelIds = touchedLabels.orderBy("cluster_id")
      .limit(IdPredicate.MaxCollectedIds + 1)
      .collect().map(_.get(0)).toSeq
    require(labelIds.length <= IdPredicate.MaxCollectedIds,
      s"maintainClusters: touched clusters past " +
        s"${IdPredicate.MaxCollectedIds} — split the arrival batch")
    val members =
      if (labelIds.isEmpty)
        VersionedTable.read(spark, labelRoot).limit(0)
      else VersionedTable.readWhere(spark, labelRoot,
          IdPredicate.predicate(col("cluster_id"), labelIds)
            .getOrElse(lit(true)))
        .join(touchedLabels, Seq("cluster_id"), "left_semi")
        .localCheckpoint(true)
    val Seq(touchedClusters, touchedRows, newRowsCount) = Par[Long](
      () => touchedLabels.count(), () => members.count(),
      () => arrivals.count())
    // near-star sub-graph: existing star edges + the delta pairs
    val starEdges = members.filter(col(idCol) =!= col("cluster_id"))
      .select(col(idCol).as("src"), col("cluster_id").as("dst"))
    val edges = starEdges.union(
      pairs.select(col("ida").as("src"), col("idb").as("dst")))
    val nodes = members.select(col(idCol).as("id"))
      .union(ends).union(arrivals).distinct()
    val relabeled = Fuzzy.connectedComponents(nodes, edges)
      .select(col("id").as(idCol), col("label").as("cluster_id"))
    // upsert ONLY rows whose label changed (or is new): a blanket
    // upsert of unchanged members would COW-rewrite their files for
    // nothing — write amplification the delta-bounding exists to avoid
    val changed = relabeled.join(
        members.withColumnRenamed("cluster_id", "__old"),
        Seq(idCol), "left")
      .filter(col("__old").isNull || col("__old") =!= col("cluster_id"))
      .drop("__old")
      .localCheckpoint(true) // read by BOTH the isEmpty probe and merge
    val newRows = newRowsCount
    // a no-op batch (no arrivals, no label movement) commits nothing
    val v =
      if (changed.isEmpty)
        VersionedTable.currentVersion(spark, labelRoot).getOrElse(
          throw new IllegalArgumentException(
            s"$labelRoot: no versioned label table"))
      else VersionedTable.merge(spark, labelRoot, changed,
        keys = Seq(idCol))
    ClusterMaintenance(v, touchedClusters, touchedRows, newRows)
  }

  // ---------- span-level exact substring dedup ----------

  /** Span-level exact duplicate statistics at k-token granularity — the
    * substring-dedup screen of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (arXiv:2107.06499), re-expressed as
    * relational operators instead of a suffix array: a k-token span
    * that appears verbatim in `minDocs`+ documents is "duplicated", and
    * each document reports how much of it is built from such spans.
    *
    * Returns (idCol, n_spans, n_dup_spans, dup_pct_flagged) where
    * n_spans counts the document's distinct k-gram spans and
    * n_dup_spans those shared with at least `minDocs - 1` other docs;
    * `flagPct` sets the integer-exact flag threshold.
    *
    * Scale shape: one explode of distinct shingles per doc, ONE
    * aggregation keyed on the span's md5 (the shuffle carries a fixed
    * 32-hex key, never the span text — and md5 is engine-portable, so
    * the oracle replays the exact same keys), then one left join back
    * on the same key — two hash exchanges total, both on narrow rows.
    * Docs in no duplicated span never appear in the (small) dup-key
    * side of the join. */
  def spanDupStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2, flagPct: Int = 50): DataFrame = {
    require(k > 0 && minDocs >= 2, s"need k > 0, minDocs >= 2: $k, $minDocs")
    val ex = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), k)).as("sh"))
      .select(col("id"), md5(col("sh")).as("h"))
    val dupKeys = ex.groupBy("h")
      // shingles are distinct per doc, so count(*) = docs containing it
      .agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("h"), lit(1).as("__dup"))
    ex.join(dupKeys, Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__dup"), lit(0))).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans") * 100 >= col("n_spans") * flagPct)
          .as("span_dup_flagged"))
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over the token multiset: each token votes ±1 on
    * every bit of its xxhash64; the fingerprint keeps the majority sign.
    * Native [[graft.functions.SimHash64]] expression — one compiled
    * pass per row. */
  def simhash64(text: Column): Column = call_function("simhash64", text)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs, banded by the GENERALIZED pigeonhole
    * principle (Manku, Jain & Das Sarma, "Detecting Near-Duplicates
    * for Web Crawling", WWW 2007): with `bands = maxHamming +
    * exactBands` disjoint bit-bands, at most `maxHamming` bands can
    * contain a differing bit, so two fingerprints within the radius
    * agree EXACTLY on at least `exactBands` bands — some
    * C(bands, exactBands) combination of bands matches as one key.
    * Full recall at every radius, never all-pairs, band count DERIVED
    * from the radius.
    *
    * `exactBands` is the key-width dial: candidates scale as
    * N^2 / 2^keyBits with keyBits ≈ exactBands·(64/bands), so m=1's
    * 8-bit keys at maxHamming=7 saturate at ~256 buckets (measured
    * quadratic at 10x bench corpus, SCALING.md) while m=2's 14-bit
    * keys buy 64x more keyspace for C(9,2)=36 key rows per doc. The
    * requires keep (keyBits > 8) and the combo fan-out bounded; raise
    * `exactBands` as the corpus outgrows the keyspace, or use MinHash
    * LSH past SimHash banding's reach. Key rows carry xxhash64(combo,
    * band values) — hash collisions only add candidates; the exact
    * hamming filter keeps the result identical.
    *
    * Cache contract: the result comes back materialized and PERSISTED
    * (pair-density-sized; the fingerprint cache released) — the
    * caller must `unpersist()` it when done. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, exactBands: Int = 1): DataFrame = {
    require(maxHamming >= 0 && exactBands >= 1,
      s"need maxHamming >= 0, exactBands >= 1: $maxHamming, $exactBands")
    val bands = maxHamming + exactBands
    require(bands <= 64, s"bands=$bands cannot exceed the 64 bits")
    // STRICTLY more than 8 bits: exactly-8-bit keys (radius 7 with
    // exactBands=1) are 256 buckets, measured going quadratic at 10x
    // corpus (SCALING.md) — refused, not just discouraged
    require(exactBands * (64 / bands) > 8,
      s"maxHamming=$maxHamming, exactBands=$exactBands: combined keys " +
        s"keep ${exactBands * (64 / bands)} bits (<= 8, a keyspace " +
        "measured quadratic at scale) — raise exactBands or use " +
        "MinHash LSH at this radius")
    val combos = (0 until bands).combinations(exactBands).toSeq
    require(combos.size <= 512,
      s"${combos.size} band combinations — lower exactBands")
    val widths = Array.tabulate(bands)(b =>
      64 / bands + (if (b < 64 % bands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    def bandVal(b: Int) = {
      // width 64 (bands=1, radius 0) needs the full-fingerprint mask:
      // 1L << 64 wraps to 1 on the JVM, which would zero every key
      // and silently degrade blocking to all-pairs
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      call_function("shiftright", col("fp"), lit(starts(b)))
        .bitwiseAND(lit(mask))
    }
    val fp = eagerCache(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("fp")))
    val banded = fp.select(col("id"), col("fp"),
      explode(array(combos.zipWithIndex.map { case (c, ci) =>
        xxhash64((lit(ci) +: c.map(bandVal)): _*)
      }: _*)).as("key"))
    val l = banded.alias("l")
    val r = banded.alias("r")
    val pairs = l.join(r,
        col("l.key") === col("r.key") && col("l.id") < col("r.id"))
      .select(col("l.id").as("ida"), col("r.id").as("idb"),
        hamming(col("l.fp"), col("r.fp")).as("hamming_dist"))
      .distinct()
      .filter(col("hamming_dist") <= maxHamming)
    // materialize the pair-density-sized output, drop the corpus-sized
    // fingerprint cache (the cosineNearDupPairs lifecycle)
    val out = pairs.persist()
    out.count()
    fp.unpersist(blocking = true)
    out
  }
}
