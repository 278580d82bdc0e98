package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fuzzy matching: the executing counterpart of SSIS Fuzzy Lookup /
  * Fuzzy Grouping, which the reference only *recognizes*
  * (data_engineering_parser.py:1204-1207, :1114).
  *
  * Similarity metric: normalized edit similarity
  * `1 - levenshtein(a,b) / max(len(a), len(b), 1)` over lower/trimmed
  * keys — public, deterministic, and computable identically in the
  * DuckDB oracle (SSIS's own metric is proprietary).
  *
  * Scale design: candidates are NEVER all-pairs. Pairs are generated by
  * a positional-free q-gram equi-join with the count filter of
  * Gravano et al. (VLDB'01): strings within edit distance d share at
  * least `max(|a|,|b|) - q + 1 - q*d` q-grams. With d bounded by
  * `(1-t)*max(len)` (from the similarity threshold), any pair at
  * similarity >= t MUST pass the count filter — the gram join is a
  * lossless blocking step, and the final `levenshtein` verification
  * keeps the result exactly equal to the all-pairs semantics the
  * oracle computes.
  *
  * Short strings: when `max(len) < minGramLen(q,t)` the q-gram bound
  * degenerates (<= 0 shared grams guaranteed), so strings shorter than
  * that route through a 1-gram (character) path whose bound
  * `max(len) - floor((1-t)*max(len)) >= 1` holds for every length —
  * any pair missed by the q-gram path has BOTH sides short (length
  * ratio >= t forces max < minGramLen), so the union stays exact.
  */
object Fuzzy {

  def normalize(c: Column): Column = lower(trim(c))

  /** Normalized edit similarity in [0,1]; both sides pre-normalized. */
  def editSimilarity(a: Column, b: Column): Column =
    lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(length(a), length(b), lit(1)).cast("double")

  /** q-grams as an array (duplicates kept — the count filter is on the
    * multiset; the equi-join overcounts duplicates, which only ADMITS
    * extra candidates, never drops a true pair). Empty when len < q. */
  private def qgrams(c: Column, q: Int): Column =
    when(length(c) >= q,
      transform(sequence(lit(1), length(c) - lit(q - 1)),
        i => c.substr(i, lit(q))))
      .otherwise(array().cast("array<string>"))

  /** Scala mirror of [[maxDist]] — keep in sync. */
  private def maxDistScala(t: Double, lmax: Int): Int = {
    val d0 = math.floor((1 - t) * lmax).toInt
    if (1.0 - (d0 + 1).toDouble / lmax >= t) d0 + 1 else d0
  }

  /** Smallest length L at-and-above which the q-gram count bound always
    * guarantees at least one shared gram at similarity threshold t. */
  def minGramLen(q: Int, t: Double): Int = {
    val ls = 1 to 10000
    // the bound is not monotone in L (floor steps) — take the last
    // failure, not the first success
    val lastBad = ls.filter(l => (l - q + 1) - q * maxDistScala(t, l) < 1)
    if (lastBad.isEmpty) 1 else lastBad.max + 1
  }

  /** Largest edit distance d with `1 - d/lmax >= t` — computed with the
    * SAME IEEE double arithmetic as the verification filter. A naive
    * `floor((1-t)*lmax)` under-counts when `(1-t)` is not exactly
    * representable (0.2*5 = 0.9999… floors to 0) and then DROPS true
    * pairs sitting exactly on the threshold. */
  private def maxDist(t: Double, lmax: Column): Column = {
    val d0 = floor(lit(1 - t) * lmax.cast("double")).cast("int")
    when(lit(1.0) - (d0 + lit(1)).cast("double") / lmax.cast("double") >= lit(t),
      d0 + lit(1)).otherwise(d0)
  }

  /** Count-filter lower bound on shared q-grams for a pair with lengths
    * (la, lb) at similarity threshold t. */
  private def gramBound(q: Int, t: Double, la: Column, lb: Column): Column = {
    val lmax = greatest(la, lb)
    (lmax - lit(q - 1)) - lit(q) * maxDist(t, lmax)
  }

  /** One blocking pass: explode grams of size q, equi-join on the gram,
    * apply the length-ratio filter, keep pairs meeting the count bound.
    * `a`/`b`: (id, key, len) with pre-normalized keys. */
  private def gramPath(a: DataFrame, b: DataFrame, q: Int, t: Double): DataFrame = {
    val ga = a.select(col("aid"), col("la"),
      explode(qgrams(col("akey"), q)).as("g"))
    val gb = b.select(col("bid"), col("lb"),
      explode(qgrams(col("bkey"), q)).as("g"))
    ga.join(gb, "g")
      .filter(col("la").cast("double") >= lit(t) * col("lb") &&
        col("lb").cast("double") >= lit(t) * col("la"))
      .groupBy("aid", "bid", "la", "lb").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= gramBound(q, t, col("la"), col("lb")))
      .select("aid", "bid")
  }

  /** Candidate (aid, bid) pairs: a LOSSLESS superset of all pairs with
    * editSimilarity >= t. `a` = (aid, akey), `b` = (bid, bkey), keys
    * pre-normalized. */
  def candidatePairs(a: DataFrame, b: DataFrame, t: Double, q: Int = 3): DataFrame = {
    require(t > 1.0 - 1.0 / q,
      s"threshold $t too low for q=$q gram filtering (needs > ${1.0 - 1.0 / q})")
    val la = a.withColumn("la", length(col("akey")))
    val lb = b.withColumn("lb", length(col("bkey")))
    val lMin = minGramLen(q, t)
    val long = gramPath(la, lb, q, t)
    // short-string rescue path: 1-gram blocking over strings the q-gram
    // bound cannot cover (see scaladoc — both sides of any missed pair
    // land here)
    val short = gramPath(la.filter(col("la") < lMin),
      lb.filter(col("lb") < lMin), 1, t)
    long.union(short).distinct()
  }

  /** Top-N fuzzy matches per distinct stream key:
    * (akey, bid, similarity, match_rank), similarity >= minSim, ranked
    * by (similarity DESC, bid) — the SSIS `MaxOutputMatchesPerInput`
    * semantics. Stream keys are deduplicated BEFORE matching — the
    * expensive work is per distinct key, and callers join the result
    * back on the key. */
  def topMatchesPerKey(streamKeys: DataFrame, ref: DataFrame,
      minSim: Double, maxMatches: Int, q: Int = 3): DataFrame = {
    require(maxMatches >= 1, s"maxMatches must be >= 1, got $maxMatches")
    val a = streamKeys.select(col("akey").as("aid"), col("akey"))
    val cand = candidatePairs(a, ref, minSim, q)
    val scored = cand
      .join(a, "aid").join(ref.select(col("bid"), col("bkey")), "bid")
      .withColumn("similarity", editSimilarity(col("akey"), col("bkey")))
      .filter(col("similarity") >= minSim)
    val w = Window.partitionBy("akey").orderBy(col("similarity").desc, col("bid"))
    scored.withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= maxMatches)
      .select("akey", "bid", "similarity", "match_rank")
  }

  /** Connected components over symmetric `edges` (src, dst): returns
    * (id, label) with label = the smallest id in the component.
    *
    * Hybrid execution: when the (deduplicated) edge set fits on the
    * driver (`driverLimit`), a local union-find resolves components in
    * one pass — the common case after key-dedup, where the graph is
    * over distinct keys, not rows. Larger graphs run alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public): each
    * round is two (groupBy-min + join) passes over the current edge
    * set, and the fixpoint — a star forest whose centers are the
    * component minima — arrives in O(log^2 n) rounds REGARDLESS of
    * graph diameter. (The previous distributed path was min-label
    * propagation: O(diameter) rounds, so a beyond-driver component
    * with diameter > maxIters could never reach its fixpoint — a
    * chain-shaped duplicate cluster at corpus scale is exactly that.)
    * `maxIters` bounds contraction ROUNDS and is a guard against
    * degenerate inputs, not a tuning knob. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 25, driverLimit: Long = 1000000L): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = sym.count()

    if (edgeCount <= driverLimit) {
      val cmp = (x: Any, y: Any) =>
        x.asInstanceOf[Comparable[Any]].compareTo(y.asInstanceOf[Comparable[Any]])
      val parent = mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      sym.collect().foreach { row =>
        val (ra, rb) = (find(row.get(0)), find(row.get(1)))
        if (ra != rb) {
          if (cmp(ra, rb) < 0) parent(rb) = ra else parent(ra) = rb
        }
      }
      val idField = nodes.schema.fields.head
      val labelRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(parent.keys.toSeq.map(k =>
          org.apache.spark.sql.Row(k, find(k))): _*)
      val schema = org.apache.spark.sql.types.StructType(
        Seq(idField.copy(name = "id"), idField.copy(name = "__cc_label")))
      val labelDf = nodes.sparkSession.createDataFrame(labelRows, schema)
      val out = nodes.select(col("id"))
        .join(broadcast(labelDf), Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("__cc_label"), col("id")).as("label"))
      sym.unpersist(false)
      return out
    }
    // Large-star: per node u over its FULL neighborhood, connect every
    // strictly-larger neighbor to m = min({u} ∪ Γ(u)). Small-star: per
    // node u over its smaller neighbors N (edges oriented hi→lo),
    // connect N ∪ {u} to m = min(N). Both emit (hi, lo)-oriented,
    // self-loop-free, deduplicated edge sets — the fixpoint of the
    // alternation is the star forest.
    // Round shape (r20): each star repartitions its doubled/oriented
    // edge view by src ONCE — the groupBy-min (partial aggregation,
    // skew-safe where a window would serialize a star center's whole
    // neighborhood through one task) and the min join both reuse that
    // one exchange (§2.4 "two operations keyed the same way share one
    // exchange"), and the SHUFFLE_HASH hint keeps the join build on
    // the co-partitioned mins side — no per-round broadcast BUILD job
    // (2 driver-serialized builds per round previously). largeStar
    // emits WITHOUT a distinct: smallStar is duplicate-insensitive
    // (min unaffected; its own final distinct dedups the satellite
    // emission), so the per-round edge SET — and therefore the
    // fixpoint, the round count, and the star certificate — is
    // unchanged while a full exchange+dedup per round disappears.
    def largeStar(e: DataFrame): DataFrame = {
      val g = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("src"))
      val mins = g.groupBy("src").agg(min("dst").as("__nm"))
        .select(col("src"), least(col("src"), col("__nm")).as("__m"))
      g.join(mins.hint("shuffle_hash"), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val g = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
        .repartition(col("src"))
      val mins = g.groupBy("src").agg(min("dst").as("__m"))
      val sats = g.join(mins.hint("shuffle_hash"), "src")
        .filter(col("dst") =!= col("__m"))
        .select(col("dst").as("src"), col("__m").as("dst"))
      sats.union(mins.select(col("src"), col("__m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // Lineage is cut EVERY round by materializing to a persisted RDD
    // and re-wrapping it as a leaf frame: each round references the
    // previous round's frame several times, so an uncut lineage grows
    // multiplicatively and the PLAN itself becomes the bottleneck
    // (plan stringification OOMed before any data moved). Explicit
    // RDD handles — unlike localCheckpoint — let each superseded
    // round's storage be RELEASED as soon as the next one lands, so
    // peak storage is two edge-set copies, not O(rounds) of them.
    val spark = nodes.sparkSession
    def pin(df: DataFrame): (org.apache.spark.rdd.RDD[
        org.apache.spark.sql.Row], DataFrame) = {
      val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
      (rdd, spark.createDataFrame(rdd, df.schema))
    }
    var (curRdd, cur) = pin(sym.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct())
    var curCount = curRdd.count()
    sym.unpersist(false) // only needed to seed the first round
    var converged = curCount == 0L
    var it = 0
    while (!converged && it < maxIters) {
      val (nextRdd, next) = pin(smallStar(largeStar(cur)))
      val nextCount = nextRdd.count()
      // exact set equality (both sides distinct): equal sizes + empty
      // anti-join — one bounded job per round, O(log^2 n) rounds total
      converged = nextCount == curCount &&
        next.join(cur, Seq("src", "dst"), "left_anti").count() == 0L
      curRdd.unpersist(false)
      curRdd = nextRdd
      cur = next
      curCount = nextCount
      it += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint after $maxIters contraction rounds")
    // defensive star-shape certificate: at the fixpoint no center may
    // itself be a satellite (a chain would silently mislabel) — one
    // bounded job over the contracted edge set, refuses loudly
    val chained = cur.select(col("dst").as("__x")).distinct()
      .join(cur.select(col("src").as("__x")).distinct(),
        Seq("__x"), "left_semi").count()
    require(chained == 0L,
      s"connectedComponents: fixpoint is not a star forest " +
        s"($chained chained centers)")
    // star forest: every remaining edge points a satellite at its
    // component's minimum; absent nodes label themselves
    val sats = cur.groupBy("src").agg(min("dst").as("__cc_label"))
      .select(col("src").as("id"), col("__cc_label"))
    // (curRdd stays persisted: `out` reads the final star edges, and
    // the caller decides when to materialize — the eagerCache stance)
    nodes.select(col("id"))
      .join(sats, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("__cc_label"), col("id")).as("label"))
  }

  /** Fuzzy grouping over (id, key): returns (id, key_out) where key_out
    * is the smallest id in the row's near-duplicate component (edges =
    * verified pairs at editSimilarity >= minSim).
    *
    * Rows are first collapsed to DISTINCT normalized keys (keeping the
    * smallest id as the key's representative): identical keys are
    * trivially same-component at any threshold, so pair generation,
    * verification, and label propagation all run on the distinct-key
    * table — on duplicate-heavy corpora (the common case for grouping)
    * that is orders of magnitude smaller than the row table, and the
    * expensive O(candidates) work never touches row multiplicity. */
  def groupLabels(d: DataFrame, idCol: String, keyCol: String,
      minSim: Double, q: Int = 3): DataFrame = {
    val rows = d.select(col(idCol).as("rid"), normalize(col(keyCol)).as("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    rows.count()
    val keys = rows.groupBy("key").agg(min("rid").as("kid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    keys.count()
    val a = keys.select(col("kid").as("aid"), col("key").as("akey"))
    val b = keys.select(col("kid").as("bid"), col("key").as("bkey"))
    val cand = candidatePairs(a, b, minSim, q)
      .filter(col("aid") =!= col("bid"))
    val edges = cand
      .join(a, "aid").join(b, "bid")
      .filter(editSimilarity(col("akey"), col("bkey")) >= minSim)
      .select(col("aid").as("src"), col("bid").as("dst"))
    val keyLabels = connectedComponents(keys.select(col("kid").as("id")), edges)
    // map back: row label = its key's component label (= min id in the
    // component, because each kid is already the min id of its key
    // class). rows/keys stay cached until the caller's action consumes
    // the result — eager unpersist would force recomputation.
    rows.join(keys, "key")
      .join(keyLabels, col("kid") === keyLabels("id"))
      .select(col("rid").as(idCol), col("label").as("key_out"))
  }
}
