package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. The
  * reference only recognizes Term Lookup/Extraction
  * (data_engineering_parser.py:1119-1120); this is the executing
  * surface, all native expressions (no UDFs — every op stays inside
  * whole-stage codegen or native higher-order functions).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  // ---------- language ID ----------

  /** Marker stopwords per language for the n-gram-free heuristic.
    * Deliberately tiny and deterministic; real corpora would use a
    * char-n-gram profile, same plan shape. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "y", "es", "las"))

  /** Count of tokens that are in `words`. */
  private def markerHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  /** Per-language marker-hit scores as columns `score_<lang>`. */
  def langScores(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    langMarkers.map { case (lang, words) => lang -> markerHits(t, words) }
  }

  /** Predicted language: argmax marker score, ties broken by the
    * declaration order above, 'und' (undetermined) when all zero. */
  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), els) =>
      when(s === best && best > 0, lit(lang)).otherwise(els)
    }
  }

  // ---------- quality scoring ----------

  val stopwords: Seq[String] =
    Seq("the", "a", "is", "and", "of", "to", "in", "that", "it", "for")

  def nTokens(text: Column): Column = size(tokens(text))

  def meanTokenLen(text: Column): Column =
    (length(text) - nTokens(text) + lit(1)).cast("double") / nTokens(text)

  def stopwordRatio(text: Column): Column =
    markerHits(tokens(text), stopwords).cast("double") / nTokens(text)

  def alphaRatio(text: Column): Column =
    (length(regexp_replace(text, "[^A-Za-z]", ""))).cast("double") /
      greatest(length(text), lit(1))

  /** Composite quality gate in the C4/Gopher style: enough tokens, sane
    * mean token length, some stopword mass. */
  def qualityOk(text: Column): Column =
    nTokens(text).between(10, 100000) &&
      meanTokenLen(text).between(2.0, 12.0) &&
      stopwordRatio(text) >= 0.01

  // ---------- token counting ----------

  /** Whitespace token count — long, matching the BIGINT every SQL
    * engine returns for a list length. */
  def tokenCountWs(text: Column): Column = nTokens(text).cast("long")

  /** BPE-ish token estimate: word pieces of ≤4 chars — ceil(len/4) per
    * whitespace token plus one per non-alnum char. Both terms are exact
    * integer arithmetic, reproducible in any engine. */
  def tokenCountBpeIsh(text: Column): Column = {
    val pieces = aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / lit(4.0)).cast("long"))
    val punct = length(regexp_replace(text, "[A-Za-z0-9 ]", "")).cast("long")
    pieces + punct
  }

  // ---------- fingerprinting ----------

  /** Whole-document fingerprint: md5 of the whitespace-normalized,
    * lowercased text. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Min-hash-of-words fingerprint (1-gram winnow): the smallest md5
    * over the distinct token set — survives token reordering. */
  def minWordFingerprint(text: Column): Column =
    array_min(transform(array_distinct(tokens(text)), t => md5(t)))

  // ---------- term extraction ----------

  /** Term frequencies over a corpus: explode tokens → count — the
    * Term Extraction analog (one shuffle on the term). */
  def termFrequencies(df: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 1L): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .filter(col("term_count") >= minCount)

  /** Term Lookup: keep only rows whose text contains at least one term
    * from the (broadcast) term list; adds the matched terms. */
  def termLookup(df: org.apache.spark.sql.DataFrame, textCol: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val termArr = array(terms.map(lit): _*)
    df.withColumn("matched_terms",
        array_intersect(array_distinct(tokens(col(textCol))), termArr))
      .filter(size(col("matched_terms")) > 0)
  }

  // ---------- TF-IDF ----------

  /** Per-document top-`k` terms by TF-IDF. tf is the in-document count,
    * idf = ln(N / df) with exact integer N and df; the only float op is
    * the final tf·idf product, surfaced rounded to 6 decimals (the q27
    * cosine discipline — ln differs across engines at ~1 ulp, far
    * below the rounding grid). Rank ties break on the term string.
    * Returns (idCol, term, tf, df, tfidf, rank).
    *
    * Scale shape: one explode → one (id, term) aggregation, one
    * term-level aggregation (vocabulary-sized), a join of the two on
    * the term, and the per-doc top-k window — the same exchanges a
    * plain wordcount needs; the df side is vocabulary-sized, so the
    * join broadcasts on real corpora. */
  def tfIdfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // corpus size N as a single-row aggregate broadcast into the plan
    // — one job total, no separate driver-side count() action
    val nDf = df.agg(count(lit(1)).cast("double").as("__n"))
    val tf = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
    // rank over the ROUNDED score: raw doubles differ across engines
    // at ~1 ulp, which could flip the order of two near-equal scores
    val w = Window.partitionBy("id")
      .orderBy(col("__score").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nDf))
      .withColumn("__score",
        round(col("tf") * log(col("__n") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("term"), col("tf"), col("df"),
        col("__score").as("tfidf"), col("rank"))
  }

  // ---------- vocabulary / OOV ----------

  /** Top-`vocabSize` corpus vocabulary by frequency (ties on the term
    * string) and each document's out-of-vocabulary token rate against
    * it — the coverage check run before committing to a tokenizer
    * vocab. All integer arithmetic. Returns (idCol, n_tokens, n_oov,
    * oov_flagged at `flagPct`).
    *
    * Scale: wordcount aggregation → top-k via orderBy+limit (planned
    * as TakeOrderedAndProject — per-partition partial top-k merged at
    * the driver, bounded by k, NEVER a single-partition shuffle of the
    * full term table) → k-row broadcast join back onto the exploded
    * tokens. */
  def vocabOovRate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocabSize: Int,
      flagPct: Int = 50): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val vocab = ex.groupBy("term").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("__in_vocab"))
    ex.join(vocab, Seq("term"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_flagged",
        col("n_oov") * 100 >= col("n_tokens") * flagPct)
  }

  // ---------- intra-document repetition (n-gram form) ----------

  /** Gopher's duplicate-n-gram screen, occurrence form: the share of a
    * document's k-gram occurrences that are repeats of an earlier
    * occurrence, i.e. (occurrences − distinct) / occurrences. Pure
    * projection — occurrences come from the token count
    * (max(n−k,0)+1), distinct from the native shingle set — exact
    * integer numerator/denominator, no shuffle. */
  def repeatedNgramCounts(text: Column, k: Int): (Column, Column) = {
    val occ = greatest(nTokens(text) - k, lit(0)) + lit(1)
    val dis = size(call_function("token_shingles", text, lit(k)))
    (occ.cast("long"), (occ - dis).cast("long"))
  }

  // ---------- PII redaction ----------

  /** (pattern, replacement) pairs applied in order. Patterns stay in
    * the common Java-regex/RE2 subset (char classes, bounded repeats,
    * \b) so an external engine can reproduce the redaction exactly. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>")

  /** Scrub emails/phones/IPs to typed placeholders — the standard
    * pre-training redaction pass. A chain of native regexp_replace
    * calls: whole-stage codegen, one text traversal per pattern, no
    * UDF. */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  // ---------- benchmark-contamination screen ----------

  /** N-gram contamination screen (the GPT-3-style eval-overlap check):
    * for each corpus document, how many of its distinct shingles occur
    * ANYWHERE in the benchmark set. Executes as explode → ONE
    * shuffle-on-shingle left-semi join against the deduped benchmark
    * shingles → count per doc; benchmark shingles are a set, never a
    * per-pair comparison, so cost is linear in corpus shingle volume
    * regardless of benchmark document count. Output: (id, n_shingles,
    * n_hit, contaminated) with `contaminated` = hit ratio ≥ threshold
    * decided in exact integer arithmetic (engine-portable). */
  def contaminationScreen(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, idCol: String,
      shingleCol: String, thresholdPct: Int): org.apache.spark.sql.DataFrame = {
    val benchSh = bench.select(explode(col(shingleCol)).as("sh")).distinct()
    val docSh = corpus.select(col(idCol), explode(col(shingleCol)).as("sh"))
    val hits = docSh.join(benchSh, Seq("sh"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_hit"))
    corpus.select(col(idCol), size(col(shingleCol)).cast("long").as("n_shingles"))
      .join(hits, Seq(idCol), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contaminated",
        col("n_hit") * 100 >= col("n_shingles") * thresholdPct &&
          col("n_shingles") > 0)
  }

  /** The contamination screen as it runs at 100 TB: the benchmark's
    * shingle set is first compacted into a ~bits/8-byte Bloom filter
    * (Spark's own distributed `BloomFilterAggregate`, built in one
    * pass), every corpus document counts its bloom hits in a pure
    * projection against the inlined sketch — no join, no shuffle, no
    * per-row state — and only documents whose BLOOM hit ratio reaches
    * the threshold proceed to the exact shingle semijoin.
    *
    * PROVABLY the same answer as [[contaminationScreen]] restricted to
    * its contaminated rows: a Bloom filter has no false negatives, so
    * per-doc bloomHits >= exactHits — every truly contaminated doc
    * passes the prefilter; false-positive survivors are then killed by
    * the exact join. The corpus is deliberately scanned twice (both
    * map-only: prefilter projection, then the exact pass over
    * candidates) — at scale two scans beat one scan plus a corpus-wide
    * shuffle join; at bench scale the exact screen is already cheap,
    * so this variant only wins once the join dominates. Returns the
    * contaminated rows (idCol, n_shingles, n_hit, contaminated=true),
    * exact counts. */
  def contaminationScreenBloom(corpus: org.apache.spark.sql.DataFrame,
      bench: org.apache.spark.sql.DataFrame, idCol: String,
      shingleCol: String, thresholdPct: Int,
      bloomBitsPerItem: Int = 16): org.apache.spark.sql.DataFrame = {
    // the benchmark shingle set is read twice here (item count, bloom
    // build) — persist the small side, not the corpus
    val benchSh = bench.select(explode(col(shingleCol)).as("sh")).distinct()
      .persist()
    val nShingles = benchSh.count()
    // empty benchmark: nothing can be contaminated — and the bloom
    // aggregate over zero rows yields a NULL sketch that
    // bloom_might_contain rejects at analysis time
    if (nShingles == 0L) {
      benchSh.unpersist()
      return contaminationScreen(corpus.limit(0), bench, idCol,
        shingleCol, thresholdPct).filter(col("contaminated"))
    }
    val bf = benchSh.agg(call_function("bloom_agg", xxhash64(col("sh")),
        lit(nShingles), lit(nShingles * bloomBitsPerItem)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    benchSh.unpersist() // sketch materialized — the cache is dead weight
    val bloomHits = size(filter(col(shingleCol),
      s => call_function("bloom_might_contain", lit(bf), xxhash64(s))))
    val candidates = corpus
      .filter(bloomHits * 100 >= size(col(shingleCol)) * thresholdPct)
    contaminationScreen(candidates, bench, idCol, shingleCol, thresholdPct)
      .filter(col("contaminated"))
  }

  /** Count-min-sketch term counts with a certified error contract — at
    * 100 TB the sketch (one `ceil(2/eps)·ceil(ln(1/(1-conf)))` counter
    * grid, built by Spark's `count_min_sketch` aggregate in one pass,
    * merged commutatively so the result is deterministic) replaces the
    * full term aggregation when only heavy hitters matter. This
    * operator certifies the contract the way q85 certifies HLL: each
    * term reports its exact count, and the corpus-level `viol_ok` flag
    * asserts that the number of terms whose estimate breaks
    * `exact <= est <= exact + eps·total` stays within the allowance
    * the CMS guarantee implies (the lower bound always holds; the
    * upper holds per term with prob. >= confidence, so over V terms up
    * to ~(1-conf)·V legitimate violations are EXPECTED — a per-term
    * ok flag would be a probabilistic gate, not a contract).
    *
    * Scale shape: only two driver-side scalars exist (the token total
    * and the serialized sketch, both from ONE single-row aggregate
    * pass); the vocabulary readout runs distributed — the native
    * [[graft.functions.CmsEstimate]] projection probes the
    * sketch-literal per term inside codegen, and the violation audit
    * is a single-row aggregate broadcast back. The vocabulary is
    * never collected. Returns (term, n_exact, viol_ok). */
  def cmsTermCounts(df: org.apache.spark.sql.DataFrame, textCol: String,
      eps: Double, confidence: Double,
      seed: Int): org.apache.spark.sql.DataFrame = {
    val ex = df.select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    // One pass: corpus token total + the sketch, together.
    val head = ex.agg(count(lit(1)).as("n"), expr(
        s"count_min_sketch(term, CAST($eps AS DOUBLE), " +
          s"CAST($confidence AS DOUBLE), $seed)").as("cms"))
      .head()
    val total = head.getLong(0)
    val bytes = head.getAs[Array[Byte]]("cms")
    val slack = math.ceil(eps * total).toLong
    val perTerm = ex.groupBy("term").agg(count(lit(1)).as("n_exact"))
      .withColumn("__ok",
        call_function("cms_estimate", lit(bytes), col("term"))
          .between(col("n_exact"), col("n_exact") + slack))
    // Bounded-false-flag audit: expected violations ≈ (1-conf)·V;
    // allow 5x that plus a small-vocabulary floor of 3.
    val audit = perTerm
      .agg(sum(when(!col("__ok"), 1L).otherwise(0L)).as("n_viol"),
        count(lit(1)).as("n_terms"))
      .select((col("n_viol") <= greatest(lit(3L),
        ceil(col("n_terms") * lit(5.0 * (1.0 - confidence))).cast("long")))
        .as("viol_ok"))
    perTerm.select(col("term"), col("n_exact"))
      .crossJoin(org.apache.spark.sql.functions.broadcast(audit))
  }

  // ---------- deterministic corpus shuffle ----------

  /** Seeded shuffle key: md5(seed || id) — engine-portable (md5 hex is
    * identical everywhere), so a shuffled corpus ordering is exactly
    * reproducible across runs and engines. */
  def shuffleKey(id: Column, seed: String): Column =
    md5(concat(lit(seed), id.cast("string")))

  /** C4-style line-level cleaning (Raffel et al., arXiv:1910.10683
    * §2.2 — the public web-corpus curation rules): keep only lines
    * that (1) are non-empty after trimming, (2) end in terminal
    * punctuation, (3) carry at least `minTokens` whitespace tokens,
    * and (4) contain no boilerplate blacklist phrase (lower-cased
    * substring test). Returns the KEPT lines as array<string> —
    * rejoin with `array_join(_, "\n")` for the cleaned document.
    * A pure per-row array lambda (split → filter): zero shuffle at
    * any scale, and every rule is engine-portable (no regex — the
    * terminal-punctuation test is a last-character set member). */
  def cleanLines(text: Column, minTokens: Int = 3,
      blacklist: Seq[String] = Seq("cookie", "javascript",
        "terms of use", "privacy policy")): Column =
    filter(split(text, "\n"), l => {
      val lt = trim(l)
      // foldLeft, not reduce: an EMPTY blacklist (punctuation/length
      // rules only) is a legitimate configuration. The LINE is
      // lower-cased for the substring test, so the phrases must be
      // too — lower-casing them here (instead of requiring it of the
      // caller) keeps a mixed-case entry like "Cookie" from silently
      // never matching.
      val noBoiler = blacklist.map(_.toLowerCase).foldLeft(lit(true)) {
        (acc, b) => acc && !lower(lt).contains(b)
      }
      length(lt) > 0 &&
        substring(lt, -1, 1).isin(".", "!", "?") &&
        size(split(lt, " ")) >= minTokens &&
        noBoiler
    })

  /** Temperature-scaled source rebalancing at τ = 0.5 — the standard
    * multilingual-pretraining mixing rule (sampling ∝ n_g^τ,
    * interpolating natural ∝ n_g toward uniform; Conneau & Lample,
    * arXiv:1901.07291 §3.1): each group keeps EXACTLY
    * round(sqrt(n_min · n_g)) = n_g^0.5 · n_min^0.5 documents, chosen
    * by seeded md5 rank. The exact-count form (vs a keep-probability)
    * is deliberate: quotas are integers derived through sqrt — IEEE
    * correctly-rounded, so any engine computes the identical quota,
    * where a pow(n, τ) would drift — and md5 ranks replay anywhere
    * (the q117 discipline). One count aggregate broadcast back + one
    * per-group window on the rank: the wordcount shuffle shape, group
    * skew bounded by the largest single group. Returns kept rows +
    * (group_n, mix_quota, mix_rank). */
  def temperatureQuota(df: org.apache.spark.sql.DataFrame,
      groupCol: String, idCol: String, seed: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("group_n"))
    val nmin = counts.agg(min(col("group_n")).as("__nmin"))
    val key = md5(concat(lit(s"tq:$seed:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(key, col(idCol))
    df.join(broadcast(counts), groupCol)
      .crossJoin(broadcast(nmin))
      .withColumn("mix_quota",
        round(sqrt(col("__nmin").cast("double") * col("group_n")))
          .cast("long"))
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= col("mix_quota"))
      .drop("__nmin")
  }

  // ---------- repetition scoring ----------

  /** Gopher-style repetition signals: documents dominated by one
    * repeated token (boilerplate, generated spam) get flagged.
    * Executes as explode → count per (doc, token) → one re-aggregation
    * per doc — two shuffles on (doc, token)/(doc), partial-aggregated
    * map-side, linear in corpus token volume. The flag compares in
    * exact integer arithmetic (engine-portable). Output: (id,
    * n_tokens, top_token_count, n_distinct_tokens, repetitive). */
  def repetitionScores(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, thresholdPct: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(
        sum(col("__c")).as("n_tokens"),
        max(col("__c")).as("top_token_count"),
        count(lit(1)).as("n_distinct_tokens"))
      .withColumn("repetitive",
        col("top_token_count") * 100 >= col("n_tokens") * thresholdPct)

  // ---------- sequence packing ----------

  /** Concatenate-then-chunk sequence packing — the standard LLM
    * pre-training batcher: documents are laid out in `idCol` order,
    * token counts accumulate into a global stream offset, and each
    * document's bin is the `budget`-sized chunk its start offset falls
    * in. Output: (idCol, n_tokens, start_offset, bin_id), all exact
    * integer arithmetic.
    *
    * The global running sum is NOT a global window (that plans an
    * Exchange SinglePartition — one task carries the whole corpus).
    * Two-phase distributed prefix sum instead: deterministic range
    * shards on the id, per-shard token totals collected (ONE tiny row
    * per shard), driver-side prefix over the shard totals, then an
    * intra-shard cumulative window with the shard base added back — the
    * wide work stays spread over all shards, and the only global data
    * motion is `shards` rows. */
  def packSequences(df: org.apache.spark.sql.DataFrame, idCol: String,
      tokenCol: Column, budget: Long,
      shards: Int = 256): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import org.apache.spark.sql.expressions.Window
    val bounds = df.agg(min(col(idCol)).cast("long"),
      max(col(idCol)).cast("long")).head()
    if (bounds.isNullAt(0))
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as(idCol), lit(0L).as("n_tokens"),
          lit(0L).as("start_offset"), lit(0L).as("bin_id")).limit(0)
    val lo = bounds.getLong(0)
    val width = math.max(1L, (bounds.getLong(1) - lo) / shards + 1)
    // integer `div`, not `/`: Spark's / on bigints is double division,
    // which loses exactness past 2^53 — ids can be hashes
    val sharded = df.select(col(idCol), tokenCol.cast("long").as("n_tokens"),
      expr(s"(CAST(`$idCol` AS BIGINT) - ${lo}L) div ${width}L")
        .as("__shard"))
    val totals = sharded.groupBy("__shard")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val bases = totals.scanLeft((0L, 0L)) { case ((_, acc), (sh, t)) =>
      (sh, acc + t)
    }.sliding(2).map { case Array((_, acc), (sh, _)) => sh -> acc }.toMap
    val baseMap = map(totals.flatMap { case (sh, _) =>
      Seq(lit(sh), lit(bases(sh))) }: _*)
    val w = Window.partitionBy("__shard").orderBy(col(idCol))
    sharded
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens") +
          element_at(baseMap, col("__shard")))
      .withColumn("bin_id", expr(s"start_offset div ${budget}L"))
      .drop("__shard")
  }

  // ---------- stratified training-mix sampling ----------

  /** Deterministic stratified sampler for training-mix curation: a row
    * survives iff `id % buckets < rate(stratum)` — i.e. keep
    * rate/buckets of each stratum, downsampling over-represented
    * strata (the lang/domain rebalance every mix recipe needs). Keyed
    * bucketing, not rand(): reproducible across runs, engines, and
    * partitionings, and a pure narrow filter — no shuffle, no sort,
    * pushdown-friendly. */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame,
      strataCol: String, idCol: String, rates: Map[String, Int],
      defaultKeep: Int, buckets: Int = 10): org.apache.spark.sql.DataFrame = {
    require(buckets > 0 && (rates.values ++ Seq(defaultKeep)).forall(r =>
      r >= 0 && r <= buckets), s"rates must lie in [0, $buckets]")
    val rate = rates.foldLeft(lit(defaultKeep)) { case (els, (k, r)) =>
      when(col(strataCol) === lit(k), lit(r)).otherwise(els)
    }
    df.filter(pmod(col(idCol), lit(buckets)) < rate)
  }

  // ---------- document chunking ----------

  /** Split each document into fixed-size overlapping token windows —
    * the chunking pass feeding RAG indexing and context-window
    * training. Chunk i covers tokens [i·stride, i·stride + size);
    * windows start while their offset is inside the document, so a doc
    * with n tokens yields ceil(max(n - size, 0) / stride) + 1 chunks
    * (always ≥ 1; the last may be short). Pure per-row explode — all
    * integer arithmetic, no shuffle, chunk text rebuilt with
    * slice+concat so the oracle can replay it verbatim. Returns
    * (idCol, chunk_index, chunk_start, n_chunk_tokens, chunk_text). */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize: chunkSize=$chunkSize stride=$stride")
    val toks = tokens(col(textCol))
    val nChunks = ceil(greatest(size(toks) - lit(chunkSize), lit(0))
      .cast("double") / lit(stride)).cast("int") + lit(1)
    df.select(col(idCol), toks.as("__t"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_index"))
      .select(col(idCol), col("chunk_index"),
        (col("chunk_index") * stride).cast("long").as("chunk_start"),
        slice(col("__t"), col("chunk_index") * stride + 1, lit(chunkSize))
          .as("__c"))
      .select(col(idCol), col("chunk_index"), col("chunk_start"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Content-defined chunking: chunk boundaries fall where a token's
    * md5 low nibble ≡ 0 (mod `modulus`), so boundaries depend only on
    * LOCAL content — insert a sentence anywhere and every chunk
    * outside the edited region keeps its identity (the property that
    * makes CDC the block-level dedup splitter fixed-size windows can't
    * be; FastCDC's rolling-hash cut generalized to token streams).
    * The boundary probability is ceil(16/modulus)/16 per token, so the
    * expected chunk length is 16/ceil(16/modulus) tokens — exactly
    * `modulus` when modulus divides 16 (1, 2, 4, 8, 16); e.g.
    * modulus=3 matches 6 of the 16 nibble values (p=0.375, expected
    * length ~2.7, not 3). md5 parity makes the
    * boundary rule engine-portable, and the whole operator is a pure
    * per-row projection + explode — array lambdas compute boundary
    * positions and slice chunks with ZERO shuffles. A boundary token
    * ends its chunk; a trailing empty chunk (text ending on a
    * boundary) is dropped, so indices stay contiguous.
    * Returns (idCol, chunk_index, n_chunk_tokens, chunk_text). */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, modulus: Int): org.apache.spark.sql.DataFrame = {
    require(modulus > 0 && modulus <= 16,
      s"modulus must be in 1..16 (one md5 nibble): $modulus")
    val toks = tokens(col(textCol))
    // native digest read — no 32-char hex string + substring per token
    val isBnd = (t: Column) =>
      call_function("md5_low_byte", t) % 16 % modulus === 0
    val bpos = filter(
      transform(toks, (t, i) => when(isBnd(t), i).otherwise(lit(-1))),
      p => p >= 0)
    // all chunks of a document are materialized INSIDE its row (one
    // transform over the boundary list), then posexplode'd: exploding
    // first and slicing per chunk row carries the full token array
    // once per chunk — O(chunks x tokens) intermediate per document,
    // which spills the downstream sort at scale (measured 2x-over-
    // linear at 10x corpus, SCALING.md)
    val chunks = transform(sequence(lit(0), size(col("__b"))), ci => {
      val s = when(ci === 0, lit(0))
        .otherwise(element_at(col("__b"), ci) + 1)
      val e = when(ci === size(col("__b")), size(col("__t")))
        .otherwise(element_at(col("__b"), ci + 1) + 1)
      struct((e - s).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__t"), s + 1, e - s)).as("chunk_text"))
    })
    df.select(col(idCol), toks.as("__t"), bpos.as("__b"))
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_index", "__c")))
      .filter(col("__c.n_chunk_tokens") > 0)
      .select(col(idCol), col("chunk_index"),
        col("__c.n_chunk_tokens").as("n_chunk_tokens"),
        col("__c.chunk_text").as("chunk_text"))
  }

  /** Deterministic train/val/test assignment from md5 — the split
    * every training-data pipeline needs, reproducible across runs,
    * engines, and corpus growth (a document's split NEVER changes when
    * other documents arrive, unlike randomSplit). The bucket is the
    * low byte of md5("split:seed:id") (two nibbles via the hex
    * alphabet — engine-portable), so fractions are granted in 1/256
    * steps: [0, trainCut) train, [trainCut, valCut) val, rest test.
    * Pure projection — zero shuffles, survives any scale. Returns the
    * input plus (split_bucket, split). */
  def deterministicSplit(df: org.apache.spark.sql.DataFrame, idCol: String,
      seed: Int, trainCut: Int, valCut: Int): org.apache.spark.sql.DataFrame = {
    require(0 < trainCut && trainCut < valCut && valCut <= 256,
      s"need 0 < trainCut < valCut <= 256: $trainCut, $valCut")
    // a NULL id would hash NULL and silently land in 'test' —
    // contaminating evaluation; fail loudly instead (the Lookup
    // NoMatch=Fail discipline)
    val bucket = when(col(idCol).isNull,
        raise_error(lit(s"deterministicSplit: NULL $idCol")))
      .otherwise(call_function("md5_low_byte",
        concat(lit(s"split:$seed:"), col(idCol).cast("string"))))
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < trainCut, "train")
          .when(col("split_bucket") < valCut, "val")
          .otherwise(lit("test")))
  }

  /** Leakage-safe split: assign train/val/test by a GROUP key, not the
    * document id — every row of a group lands in the same split, so
    * correlated documents (one domain's pages, one dedup cluster's
    * near-twins) cannot straddle train and test and leak evaluation
    * signal. This is [[deterministicSplit]] keyed on the group: same
    * 1/256 md5 buckets, same growth-stability (a group's split never
    * changes as other groups arrive), still a pure projection. For the
    * strongest guard, pass a dedup CLUSTER id (resolveClusters /
    * semanticDedup output joined on) as the group — then near-dups
    * can't leak by construction. Fractions land on GROUP counts;
    * groups with many documents skew the per-ROW fractions, which is
    * inherent to any leakage-safe split (the alternative IS the leak). */
  def groupAwareSplit(df: org.apache.spark.sql.DataFrame, groupCol: String,
      seed: Int, trainCut: Int, valCut: Int): org.apache.spark.sql.DataFrame =
    deterministicSplit(df, groupCol, seed, trainCut, valCut)

  /** Unigram language-model score: each document's mean token
    * log-probability under the corpus's own unigram distribution — the
    * classic cheap fluency/quality proxy (gibberish and boilerplate
    * both sit far from the corpus distribution). One wordcount-shaped
    * aggregation builds the distribution, the total rides along as a
    * single-row broadcast aggregate (no separate count job), and the
    * per-document mean is one more partial-aggregated pass — the same
    * exchanges TF-IDF needs, nothing more. Log noise killed at
    * 6-decimal rounding. Returns (idCol, n_tokens, mean_logprob). */
  def unigramLogProbScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val freq = ex.groupBy("term").agg(count(lit(1)).as("__cnt"))
    val nDf = ex.agg(count(lit(1)).cast("double").as("__n"))
    ex.join(freq, "term")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nDf))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("__cnt") / col("__n"))), 6).as("mean_logprob"))
      .select(col("id").as(idCol), col("n_tokens"), col("mean_logprob"))
  }

  /** Per-document token-distribution entropy — the Shannon statistic
    * behind low-diversity screens (generated spam and boilerplate
    * concentrate probability mass on few tokens; Gopher-style filters
    * threshold on it next to the top-token ratio, which
    * [[repetitionScores]] already covers point-wise): H = −Σ (c/n)·
    * ln(c/n) over the document's own token counts, plus the
    * normalized H/ln(n_distinct) in [0,1] (1 = uniform usage; pinned
    * to 1.0 for single-token docs where the bound is degenerate).
    * Exchanges: one (doc, token) wordcount + one per-doc
    * re-aggregation — the repetitionScores shapes; counts are exact
    * integers, entropy rounded to 6 (the q114 sum-order discipline).
    * Returns (idCol, n_tokens, n_distinct, entropy, entropy_ratio). */
  def tokenEntropy(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ex = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
    val perTerm = ex.groupBy("id", "term").agg(count(lit(1)).as("__c"))
    // per-doc total rides the SAME partitioning the final aggregate
    // needs — the window adds no exchange
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
    val withTot = perTerm
      .withColumn("__n", sum(col("__c")).over(w))
      .withColumn("__p", col("__c").cast("double") / col("__n"))
    withTot.groupBy("id")
      // + 0.0 normalizes the single-term doc's -0.0 (both engines)
      .agg(max(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        round(-sum(col("__p") * log(col("__p"))) + lit(0.0), 6).as("__h"))
      .select(col("id").as(idCol), col("n_tokens"), col("n_distinct"),
        col("__h").as("entropy"),
        when(col("n_distinct") === 1, lit(1.0))
          .otherwise(round(col("__h") / log(col("n_distinct")), 6))
          .as("entropy_ratio"))
  }

  /** Interpolated BIGRAM LM quality score — [[unigramLogProbScore]]
    * with first-order context (Jelinek-Mercer interpolation, the
    * smoothing KenLM-style corpus filters use): each document's mean
    * ln(λ·C(w1w2)/C(w1) + (1−λ)·C(w2)/N) over its consecutive
    * non-empty token pairs. Interpolating against the unigram term
    * guarantees a nonzero probability for every observed bigram
    * (C(w2) ≥ 1), so the self-scored form needs no OOV floor. λ is
    * fixed at 0.5 — exactly representable in binary, so an
    * independent engine's literal is bit-identical (0.7 would not
    * be) — and the mean is rounded to 6 decimals (the q114 sum-order
    * discipline). Exchanges: bigram wordcount + unigram wordcount +
    * the per-doc re-aggregation — the shapes TF-IDF already pays;
    * docs with fewer than two tokens have no bigrams and drop out.
    * Returns (idCol, n_bigrams, mean_logprob). */
  def bigramLogProbScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    val idx = when(size(col("__t")) >= 2,
      sequence(lit(1), size(col("__t")) - 1)).otherwise(array().cast("array<int>"))
    val bi = df.select(col(idCol).as("id"), toks.as("__t"))
      .select(col("id"), explode(transform(idx, i =>
        struct(element_at(col("__t"), i).as("w1"),
          element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col("id"), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val ex = df.select(explode(toks).as("term"))
    val bfreq = bi.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val ufreq = ex.groupBy("term").agg(count(lit(1)).as("__cu"))
    val nDf = ex.agg(count(lit(1)).cast("double").as("__n"))
    bi.join(bfreq, Seq("w1", "w2"))
      .join(ufreq.select(col("term").as("w1"), col("__cu").as("__c1")), "w1")
      .join(ufreq.select(col("term").as("w2"), col("__cu").as("__c2")), "w2")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nDf))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(lit(0.5) * col("__cb") / col("__c1") +
          lit(0.5) * col("__c2") / col("__n"))), 6).as("mean_logprob"))
      .select(col("id").as(idCol), col("n_bigrams"), col("mean_logprob"))
  }

  /** Frozen unigram distribution: the top `vocabSize` reference-corpus
    * terms by count (ties broken by term — engine-portable), each
    * scored log(cnt/total) with total over ALL non-empty tokens, OOV
    * handled by the scorer's floor. The term aggregate is the
    * wordcount exchange; the collect is vocabSize-bounded BY
    * CONSTRUCTION (top-V limit, the q93 vocab discipline), and the
    * total rides on the term table — corpus-sized nothing reaches the
    * driver. */
  def unigramVocab(ref: org.apache.spark.sql.DataFrame, textCol: String,
      vocabSize: Int): Seq[(String, Double)] = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val f = ref.select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      val totalRow = f.agg(sum(col("cnt")).cast("double")).head()
      if (totalRow.isNullAt(0)) Seq.empty
      else {
        val total = totalRow.getDouble(0)
        f.orderBy(col("cnt").desc, col("term")).limit(vocabSize)
          .select(col("term"), log(col("cnt") / lit(total)).as("lp"))
          .collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
      }
    } finally { f.unpersist(); () }
  }

  /** Score documents under a FROZEN unigram vocabulary — a PURE
    * PROJECTION: the (term → logprob) map ships as a literal (bounded
    * by vocabSize, like the CMS sketch literal) and the mean is an
    * array fold per row, so the operator costs ZERO exchanges at any
    * scale and runs UNCHANGED under Structured Streaming
    * (StreamingSpec parity). This is the deployment shape — the
    * distribution is trained once on a reference corpus
    * ([[unigramVocab]]) and new data is scored on arrival;
    * [[unigramLogProbScore]] is the corpus-self-scored batch form, and
    * the two agree exactly when the vocabulary covers every term.
    * OOV terms score `oovLogProb`. Returns (idCol, n_tokens,
    * mean_logprob); a zero-token document scores 0.0. */
  def unigramScoreFrozen(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocab: Seq[(String, Double)],
      oovLogProb: Double): org.apache.spark.sql.DataFrame = {
    val lpMap: Column =
      if (vocab.isEmpty) lit(null).cast("map<string,double>")
      else map_from_arrays(typedlit(vocab.map(_._1)),
        typedlit(vocab.map(_._2)))
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val n = size(ts)
    val s = aggregate(ts, lit(0.0),
      (acc, t) => acc + coalesce(element_at(lpMap, t), lit(oovLogProb)))
    df.select(col(idCol), n.cast("long").as("n_tokens"),
      round(when(n === 0, lit(0.0)).otherwise(s / n), 6).as("mean_logprob"))
  }

  /** Deterministic per-group quota sample: exactly `min(n, |group|)`
    * rows per group, chosen by ascending md5 rank — the eval-set /
    * holdout constructor. md5 hex ordering is engine-portable and
    * seeded, so the SAME rows are chosen on any engine and any run,
    * and (unlike rate-based sampling) small strata still fill their
    * quota. ONE hash exchange on the group key feeding a windowed
    * rank — scales with the widest stratum, not the corpus. Returns
    * the quota rows with their (sample_rank) attached. */
  def quotaSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
      idCol: String, n: Int, seed: Int): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"quota must be positive: $n")
    import org.apache.spark.sql.expressions.Window
    val key = md5(concat(lit(s"qs:$seed:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(groupCol)).orderBy(key, col(idCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= n)
  }

  /** Skew-proof [[quotaSample]] — same selection and same
    * `sample_rank` output (the n ascending-md5-rank rows per group,
    * (key, id) ties), WITHOUT the widest-stratum wall: the windowed
    * form sorts each group on one task, and at corpus scale one
    * stratum is billions of rows while the quota is thousands. Here
    * the per-group rank-key THRESHOLD BUCKET comes from one bounded
    * (group × first-byte-of-key) histogram (256 monotone buckets —
    * the hex prefix orders exactly like the full key):
    *
    *  1. rows in buckets below the threshold are kept by a narrow
    *     FILTER (their count is the driver-computed `base` ≤ n);
    *  2. rows above are dropped the same way;
    *  3. only the threshold bucket — an expected 1/256 of a wide
    *     group — is sorted, taking its `n - base` smallest;
    *  4. the final `sample_rank` window runs over SURVIVORS only:
    *     ≤ min(n, |group|) rows per group, so the sample SIZE — not
    *     the stratum width — is the scale axis of every sort.
    *
    * Survivor ranks equal global ranks because the survivors are
    * exactly the n smallest keys. The histogram refuses loudly past
    * `maxHistRows` (group-cardinality explosion) and points at
    * [[quotaSample]], whose one-window shape is right when groups
    * are many and small. */
  def quotaSampleSkew(df: org.apache.spark.sql.DataFrame,
      groupCol: String, idCol: String, n: Int, seed: Int,
      maxHistRows: Int = 262144): org.apache.spark.sql.DataFrame = {
    require(n > 0, s"quota must be positive: $n")
    import org.apache.spark.sql.expressions.Window
    val s = df.sparkSession
    // one upstream pass: histogram populates the cache, both output
    // branches read it
    val src = df.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    val outCols = df.columns.map(col).toSeq
    val key = md5(concat(lit(s"qs:$seed:"), col(idCol).cast("string")))
    val tagged = src.withColumn("__k", key)
      .withColumn("__b", substring(col("__k"), 1, 2))
    val hist = tagged.groupBy(col(groupCol).as("__g"), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .limit(maxHistRows + 1).collect()
    require(hist.length <= maxHistRows,
      s"quotaSampleSkew: histogram past $maxHistRows rows — group " +
        "cardinality is the scale axis here, not group width; use " +
        "quotaSample (one exchange, per-group windows)")
    // per group, ascending bucket order: threshold = first bucket
    // where the running count EXCEEDS n; base = count strictly below
    val thresholds = hist.groupBy(_.get(0)).iterator.flatMap {
      case (g, rows) =>
        var acc = 0L
        var res: Option[(Any, String, Long)] = None
        for (r <- rows.sortBy(_.getString(1)) if res.isEmpty) {
          val c = r.getLong(2)
          if (acc + c > n) res = Some((g, r.getString(1), acc))
          else acc += c
        }
        res
    }.toSeq
    val wRank = Window.partitionBy(col(groupCol))
      .orderBy(col("__k"), col(idCol))
    def ranked(survivors: org.apache.spark.sql.DataFrame) = survivors
      .withColumn("sample_rank", row_number().over(wRank))
      .select(outCols :+ col("sample_rank"): _*)
    if (thresholds.isEmpty)
      // every group fits inside the quota: survivors = everything,
      // and every group is ≤ n rows wide — no wall to dodge
      return ranked(tagged)
    val gField = df.schema(groupCol)
    val thSchema = org.apache.spark.sql.types.StructType(Seq(
      gField.copy(name = "__g"),
      org.apache.spark.sql.types.StructField("__t",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__base",
        org.apache.spark.sql.types.LongType)))
    val thDf = s.createDataFrame(java.util.Arrays.asList(
      thresholds.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)): _*),
      thSchema)
    val joined = tagged.join(broadcast(thDf),
      col(groupCol) <=> col("__g"), "left")
    val bulk = joined.filter(col("__t").isNull || col("__b") < col("__t"))
    val boundary = joined.filter(col("__b") === col("__t"))
      .withColumn("__r", row_number().over(wRank))
      .filter(col("__r") <= lit(n) - col("__base"))
      .drop("__r")
    ranked(bulk.unionByName(boundary)
      .select((outCols :+ col("__k")): _*))
  }

  /** Decontamination by EXCISION: instead of dropping a document that
    * overlaps an evaluation benchmark (the q74/q96 flagging stance),
    * cut out exactly the contaminated k-token spans and keep the rest
    * — the treatment big-model pipelines apply when a crawl document
    * is valuable but quotes a benchmark. A token is removed iff some
    * k-shingle containing it appears in the benchmark's shingle set;
    * everything else survives in order.
    *
    * Scale shape: shingle semi-join against the benchmark set (the
    * q96 exchange), covered-position expansion from HITS only
    * (k-bounded — clean docs cost nothing), positions grouped into
    * per-affected-doc arrays (one exchange of the SMALL hit set), and
    * the excision itself is a per-row array lambda after a join on the
    * doc id — the token table is never shuffled and reassembly needs
    * no aggregation at all. Returns every non-benchmark row:
    * (idCol, n_tokens, n_removed, clean_text). */
  def exciseContaminatedSpans(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      benchmark: org.apache.spark.sql.DataFrame, benchTextCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // NULL text would silently excise nothing while an oracle computes
    // NULL counts — fail loudly instead (the deterministicSplit
    // discipline)
    val toks = tokens(when(col(textCol).isNull,
      raise_error(lit("exciseContaminatedSpans: NULL text")))
      .otherwise(col(textCol)))
    // shingle starts: 0..max(n-k, 0) — a doc shorter than k contributes
    // ONE short shingle (the TokenShingles contract, and the oracle's)
    def shingleAt(ts: Column, i: Column): Column =
      array_join(slice(ts, i + 1,
        least(lit(k), size(ts) - i)), "\u0001")
    val docSh = df.select(col(idCol).as("id"), toks.as("__t"))
      .select(col("id"), col("__t"),
        explode(sequence(lit(0), greatest(size(col("__t")) - k, lit(0))))
          .as("i"))
      .select(col("id"), col("i"), size(col("__t")).as("n"),
        shingleAt(col("__t"), col("i")).as("sh"))
    val benchSh = benchmark
      .select(explode(call_function("token_shingles",
        col(benchTextCol), lit(k))).as("sh"))
      .distinct()
    val covered = docSh.join(benchSh, Seq("sh"), "left_semi")
      .select(col("id"),
        explode(sequence(col("i"), least(col("i") + (k - 1), col("n") - 1)))
          .as("pos"))
      .groupBy("id").agg(collect_set(col("pos")).as("__cov"))
    df.select(col(idCol).as("id"), toks.as("__t"))
      .join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        when(col("__cov").isNull, concat_ws(" ", col("__t")))
          // kept positions via hash-based array_except (O(n + c),
          // order-preserving) — an array_contains per token would be
          // O(n·c) on a heavily-quoted document
          .otherwise(concat_ws(" ", transform(
            array_except(sequence(lit(0), size(col("__t")) - 1),
              col("__cov")),
            p => element_at(col("__t"), p + 1))))
          .as("clean_text"))
  }

  // ---------- per-group corpus caps ----------

  /** Per-group token-budget cap — the per-domain/per-source ceiling
    * every web-corpus mix applies so no single domain dominates the
    * training set: within each `groupCol` stratum, rows are taken in
    * `orderCol` order until their cumulative `tokenCol` mass would
    * exceed `budget`; the rest of the stratum is dropped. A row whose
    * PRIOR cumulative mass is under the budget is kept (so one
    * over-long document can't starve its group). Returns the kept rows
    * with (cum_tokens) attached, all exact integer arithmetic.
    *
    * Scale shape: ONE hash exchange on the group key feeding one
    * windowed cumulative sum — groups process independently, so the
    * operator scales with the widest single group, not the corpus. */
  def capPerGroupBudget(df: org.apache.spark.sql.DataFrame,
      groupCol: String, orderCol: String, tokenCol: Column,
      budget: Long): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__tok", tokenCol.cast("long"))
      .withColumn("cum_tokens", sum(col("__tok")).over(w))
      .filter(col("cum_tokens") - col("__tok") < budget)
      .drop("__tok")
  }

  /** Skew-proof per-group token-budget cap — [[capPerGroupBudget]]'s
    * selection (keep a row iff its PRIOR cumulative `tokenCol` mass
    * within the group, in (`orderCol` ASC, `idCol` ASC) order, is
    * under `budget`) WITHOUT the widest-group wall: the windowed
    * variant sorts each group on one task, and at web-corpus scale one
    * stratum ("web", "en") can be half the corpus. Here the sort never
    * touches the bulk of the data:
    *
    *  1. one bounded histogram — `sum(tokens)` per (group, monotone
    *     orderCol bucket), ≤ |groups|·`buckets` rows to the driver;
    *  2. per group, the driver finds the threshold bucket t where the
    *     running mass first EXCEEDS the budget (and the mass `base`
    *     strictly below it);
    *  3. rows in buckets below t are kept by a NARROW FILTER (no sort,
    *     no window, no exchange beyond a broadcast of the |groups|-row
    *     threshold table); rows in buckets above t are dropped the
    *     same way; ONLY the threshold bucket's rows — an expected
    *     1/`buckets` of each over-budget group — pay the windowed
    *     cumulative sum, seeded with `base`.
    *
    * Exactness needs strictly positive tokens (a zero-token row at an
    * exact budget boundary would be kept by the bulk filter but
    * dropped by the window) — enforced in-plan with a loud
    * `raise_error`, as are NULL order keys. Returns the kept rows with
    * the input's columns (no cum_tokens: materializing per-row prefix
    * sums for every kept row would reintroduce the full-group window
    * this variant exists to avoid). All-identical `orderCol` values
    * degrade gracefully: one bucket = the windowed behavior.
    *
    * The histogram refuses loudly past `maxHistRows` (group-cardinality
    * explosion — e.g. per-URL caps) and points at [[capPerGroupBudget]],
    * whose one-exchange shape is right when groups are many and small. */
  def capPerGroupBudgetSkew(df: org.apache.spark.sql.DataFrame,
      groupCol: String, orderCol: String, idCol: String,
      tokenCol: Column, budget: Long, buckets: Int = 1024,
      maxHistRows: Int = 262144): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(buckets > 1, s"buckets must be > 1: $buckets")
    val s = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    // one pass over the (possibly expensive) upstream: the bounds
    // aggregate populates the cache, the histogram and both output
    // branches read it (without this the upstream lineage runs 4x)
    val src = df.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    val outCols = df.columns.map(col).toSeq
    val tok = when(tokenCol.isNull || tokenCol.cast("long") <= 0L,
      raise_error(lit("capPerGroupBudgetSkew: tokens must be strictly " +
        "positive (a zero-token row at an exact budget boundary is " +
        "ambiguous between the bulk filter and the window)")))
      .otherwise(tokenCol.cast("long"))
    // NULL/NaN order keys refuse loudly: a NaN would bucket to null
    // and silently fail BOTH the bulk and the boundary filter — a
    // vanished row, the worst failure mode for a selection operator
    val ord = when(col(orderCol).isNull ||
        isnan(col(orderCol).cast("double")) ||
        abs(col(orderCol).cast("double")) === lit(Double.PositiveInfinity),
      raise_error(lit("capPerGroupBudgetSkew: NULL/NaN/Inf order key")))
      .otherwise(col(orderCol).cast("double"))
    val bounds = src.agg(min(col(orderCol).cast("double")),
      max(col(orderCol).cast("double"))).head()
    if (bounds.isNullAt(0)) {
      require(src.isEmpty, "capPerGroupBudgetSkew: order key all NULL")
      src.unpersist(false)
      return df
    }
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = (hi - lo) / buckets
    // floor of a monotone map — rows in a lower bucket strictly
    // precede rows in a higher one under (orderCol, idCol); the
    // degenerate all-equal case keeps `ord` in the expression so the
    // NULL/NaN refusal fires on every path
    val bucketOf =
      if (width <= 0d || width.isNaN) (ord * lit(0d)).cast("int")
      else least(floor((ord - lit(lo)) / lit(width)).cast("int"),
        lit(buckets - 1))
    val tagged = src.withColumn("__b", bucketOf).withColumn("__tok", tok)
    val hist = tagged.groupBy(col(groupCol).as("__g"), col("__b"))
      .agg(sum("__tok").as("__m"))
      .limit(maxHistRows + 1).collect()
    require(hist.length <= maxHistRows,
      s"capPerGroupBudgetSkew: histogram past $maxHistRows rows — " +
        "group cardinality is the scale axis here, not group width; " +
        "use capPerGroupBudget (one exchange, per-group windows)")
    val thresholds = hist.groupBy(_.get(0)).iterator.flatMap {
      case (g, rows) =>
        var acc = 0L
        var res: Option[(Any, Int, Long)] = None
        for (r <- rows.sortBy(_.getInt(1)) if res.isEmpty) {
          val m = r.getLong(2)
          if (acc + m > budget) res = Some((g, r.getInt(1), acc))
          else acc += m
        }
        res
    }.toSeq
    if (thresholds.isEmpty) return src // every group under budget
    // (src stays persisted on the main path: both output branches
    // read it, and the caller decides when to materialize)
    val gField = df.schema(groupCol)
    val thSchema = org.apache.spark.sql.types.StructType(Seq(
      gField.copy(name = "__g"),
      org.apache.spark.sql.types.StructField("__t",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("__base",
        org.apache.spark.sql.types.LongType)))
    val thDf = s.createDataFrame(java.util.Arrays.asList(
      thresholds.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3)): _*),
      thSchema)
    val joined = tagged.join(broadcast(thDf),
      col(groupCol) <=> col("__g"), "left")
    val bulk = joined.filter(col("__t").isNull || col("__b") < col("__t"))
      .select(outCols: _*)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined.filter(col("__b") === col("__t"))
      .withColumn("__cum",
        sum(col("__tok")).over(w) - col("__tok") + col("__base"))
      .filter(col("__cum") < budget)
      .select(outCols: _*)
    bulk.union(boundary)
  }

  // ---- DSIR: data selection via importance resampling --------------------
  // Xie et al. 2023 ("Data Selection for Language Models via Importance
  // Resampling", public): estimate hashed-feature distributions over a
  // small TARGET corpus (the domain you want more of) and the big raw
  // corpus, weight every raw document by its log likelihood ratio, and
  // keep the top of the ranking. The feature space is unigrams hashed
  // into `buckets` cells, so both "models" are one bounded count vector
  // each — trainable in one wordcount-shaped aggregate regardless of
  // corpus size, and the SCORING is a pure projection (the log-ratio
  // table rides along as a literal array), zero exchanges at any scale
  // and unchanged under Structured Streaming.

  /** Engine-portable hashed feature bucket of token `t`: the seeded
    * md5 low byte (the [[deterministicSplit]] idiom — native
    * `md5_low_byte`, replayed in SQL via strpos on the last two hex
    * chars) folded into [0, buckets). buckets must be ≤ 256; the DSIR
    * paper's hashed feature space is similarly small. */
  private def dsirBucket(t: Column, buckets: Int, seed: Int): Column =
    call_function("md5_low_byte", concat(lit(s"dsir:$seed:"), t)) % buckets

  /** Train the DSIR log likelihood-ratio table: per hashed bucket b,
    * ln p_target(b) − ln p_corpus(b), add-alpha smoothed. TWO bounded
    * aggregates (≤ `buckets` rows each collect to the driver); at
    * 100 TB the target side is small by definition and the corpus side
    * is one map-side-combined wordcount. */
  def dsirLogRatios(corpus: org.apache.spark.sql.DataFrame,
      corpusTextCol: String, target: org.apache.spark.sql.DataFrame,
      targetTextCol: String, buckets: Int, alpha: Double,
      seed: Int): Seq[Double] = {
    require(buckets > 0 && buckets <= 256,
      s"buckets must be in 1..256: $buckets")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    def bucketCounts(df: org.apache.spark.sql.DataFrame,
        textCol: String): Map[Int, Long] =
      df.select(explode(filter(tokens(col(textCol)),
          t => length(t) > 0)).as("t"))
        .select(dsirBucket(col("t"), buckets, seed).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tc = bucketCounts(target, targetTextCol)
    val cc = bucketCounts(corpus, corpusTextCol)
    val tTot = tc.values.sum.toDouble
    val cTot = cc.values.sum.toDouble
    (0 until buckets).map { b =>
      math.log((tc.getOrElse(b, 0L) + alpha) / (tTot + alpha * buckets)) -
        math.log((cc.getOrElse(b, 0L) + alpha) / (cTot + alpha * buckets))
    }
  }

  /** Score documents under a trained ratio table — a PURE PROJECTION
    * (the `buckets` doubles ship as an array literal; the per-doc
    * weight is a left fold over the token array). Returns (idCol,
    * n_tokens, dsir_logweight): the summed log likelihood ratio,
    * rounded to 6 places so the fold order can never leak into a
    * downstream exact compare (the q127 frozen-LM discipline). */
  def dsirScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, ratios: Seq[Double], buckets: Int,
      seed: Int): org.apache.spark.sql.DataFrame = {
    require(ratios.size == buckets,
      s"ratio table size ${ratios.size} != buckets $buckets")
    val rArr = typedlit(ratios)
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val w = aggregate(ts, lit(0.0), (acc, t) =>
      acc + element_at(rArr, dsirBucket(t, buckets, seed) + 1))
    df.select(col(idCol), size(ts).cast("long").as("n_tokens"),
      round(w, 6).as("dsir_logweight"))
  }

  /** BM25 ranked retrieval over the corpus (Robertson/Okapi, the
    * Lucene-default scoring): per document,
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) over the
    * query terms, idf(t) = ln((N−df+0.5)/(df+0.5) + 1).
    *
    * Scale shape: ONE corpus aggregate collects the collection stats
    * (N, avgdl, and per-query-term document frequencies — a single
    * row, bounded by the query length), then scoring is a PURE
    * PROJECTION (idf/avgdl ride as literals, tf is an array count per
    * term) and the cut is a distributed TakeOrdered. Scores are
    * rounded to 6 places (the q127 discipline) so term-sum order can
    * never leak into an exact compare. Returns (idCol, bm25) for the
    * top `topN` by (bm25 desc, id).
    *
    * Null-text rows are excluded from BOTH the collection stats and
    * the ranking (they carry no terms, but counting them in N would
    * skew idf/avgdl), and `queryTerms` is a SET — duplicates collapse
    * to one contribution (no query-tf weighting). Both choices match
    * [[Bm25Index]], keeping its maintained-state exactness claim
    * unconditional. */
  def bm25TopN(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], topN: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val terms = queryTerms.distinct
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(topN > 0, s"topN must be positive: $topN")
    val docs = df.filter(col(textCol).isNotNull)
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val statAggs = Seq(count(lit(1)).as("n"),
        sum(size(ts)).cast("long").as("sum_dl")) ++
      terms.map(t =>
        sum(when(array_contains(ts, t), 1L).otherwise(0L)).as(s"df_$t"))
    val r = docs.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val n = r.getLong(0)
    require(n > 0, "bm25 over an empty corpus")
    val avgdl = r.getLong(1).toDouble / n.toDouble
    val idf = terms.zipWithIndex.map { case (t, i) =>
      val dfc = r.getLong(2 + i)
      t -> math.log((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
    }
    val dl = size(ts).cast("double")
    val norm = lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl))
    val score = idf.map { case (t, w) =>
      val tf = size(filter(ts, x => x === lit(t))).cast("double")
      lit(w) * tf * lit(k1 + 1.0) / (tf + norm)
    }.reduce(_ + _)
    docs.select(col(idCol), round(score, 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topN)
  }

  /** DSIR selection: train on (target vs corpus), score the corpus,
    * keep the top `k` documents by log importance weight (rounded
    * weight desc, id asc — fully deterministic; true DSIR perturbs the
    * ranking with seeded Gumbel noise before the cut, which changes
    * WHICH near-tied docs land in the kept set but not the operator
    * shape). The cut is a distributed TakeOrdered — no single-partition
    * exchange. Zero-token documents are excluded: they carry no
    * evidence in either direction. */
  def dsirSelect(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, target: org.apache.spark.sql.DataFrame,
      targetTextCol: String, k: Int, buckets: Int = 64,
      alpha: Double = 1.0, seed: Int = 7): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val ratios = dsirLogRatios(corpus, textCol, target, targetTextCol,
      buckets, alpha, seed)
    dsirScore(corpus, idCol, textCol, ratios, buckets, seed)
      .filter(col("n_tokens") > 0)
      .orderBy(col("dsir_logweight").desc, col(idCol))
      .limit(k)
  }

  // ---- Naive-Bayes quality classifier (the GPT-3 filtering step) --------
  //
  // The classic web-corpus quality CLASSIFIER (Brown et al. 2020,
  // arXiv:2005.14165 Appendix A): train a cheap generative classifier
  // on "reference corpus = positive, raw crawl = negative", score every
  // document with a class probability, and keep a document when
  // np.random.pareto(9) > 1 - score — the smoothed cut that keeps a
  // tail of low-scoring documents instead of a hard threshold.
  // Distinct from DSIR (q155) in both math and role: DSIR reweights a
  // RATIO of bucket distributions for importance RESAMPLING (top-k by
  // weight, no priors, no probability); this is a per-class Bayes
  // model with document priors, a calibrated probability, and a
  // per-document stochastic keep/drop DECISION. Features are hashed
  // unigram buckets (the md5 idiom — engine-portable, vocabulary never
  // collected), so train = TWO bounded wordcount aggregates, score = a
  // pure projection, filter = one more projection: zero extra
  // exchanges at any scale.

  /** A trained classifier: document-count log prior ln(Npos/Nneg) plus
    * per-bucket conditional log ratios ln p(b|pos) − ln p(b|neg). */
  final case class NbQualityModel(logPrior: Double, logRatios: Seq[Double],
      buckets: Int, seed: Int)

  private def nbBucket(t: Column, buckets: Int, seed: Int): Column =
    call_function("md5_low_byte", concat(lit(s"nbq:$seed:"), t)) % buckets

  /** Train on labeled frames: the prior from document counts, the
    * conditionals from add-alpha-smoothed hashed-token counts. Two
    * bounded aggregates (≤ `buckets` rows each reach the driver) plus
    * two single-row counts — at 100 TB the reference side is small by
    * definition and the negative side is one map-side-combined
    * wordcount over a SAMPLE (pass one in; the model only needs the
    * distribution, not the corpus). */
  def nbTrainQuality(pos: org.apache.spark.sql.DataFrame,
      neg: org.apache.spark.sql.DataFrame, textCol: String,
      buckets: Int = 64, alpha: Double = 1.0,
      seed: Int = 7): NbQualityModel = {
    require(buckets > 0 && buckets <= 256,
      s"buckets must be in 1..256: $buckets")
    require(alpha > 0, s"smoothing alpha must be positive: $alpha")
    def bucketCounts(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.select(explode(filter(tokens(col(textCol)),
          t => length(t) > 0)).as("t"))
        .select(nbBucket(col("t"), buckets, seed).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (nPos, nNeg) = (pos.count(), neg.count())
    require(nPos > 0 && nNeg > 0,
      s"both classes need documents: pos=$nPos neg=$nNeg")
    val (pc, nc) = (bucketCounts(pos), bucketCounts(neg))
    val (pTot, nTot) = (pc.values.sum.toDouble, nc.values.sum.toDouble)
    val ratios = (0 until buckets).map { b =>
      math.log((pc.getOrElse(b, 0L) + alpha) / (pTot + alpha * buckets)) -
        math.log((nc.getOrElse(b, 0L) + alpha) / (nTot + alpha * buckets))
    }
    NbQualityModel(math.log(nPos.toDouble / nNeg.toDouble), ratios,
      buckets, seed)
  }

  /** Score under a trained model — a PURE PROJECTION (the ratio table
    * ships as an array literal). Returns (idCol, n_tokens, nb_logodds,
    * nb_prob): the class log-odds prior + Σ ratios(bucket(t)), and the
    * sigmoid-calibrated P(quality | doc). Both rounded to 6 places
    * (the q127 discipline) so fold order and libm noise never leak
    * into an exact compare. */
  def nbQualityScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, model: NbQualityModel): org.apache.spark.sql.DataFrame = {
    val rArr = typedlit(model.logRatios)
    val ts = filter(tokens(col(textCol)), t => length(t) > 0)
    val lo = round(lit(model.logPrior) + aggregate(ts, lit(0.0),
      (acc, t) => acc +
        element_at(rArr, nbBucket(t, model.buckets, model.seed) + 1)), 6)
    df.select(col(idCol), size(ts).cast("long").as("n_tokens"),
      lo.as("nb_logodds"),
      round(lit(1.0) / (lit(1.0) + exp(-lo)), 6).as("nb_prob"))
  }

  /** The GPT-3 keep rule: keep a document when a Pareto(α) draw
    * exceeds 1 − score — low-probability documents survive with
    * probability (2 − p)^(−α), so the kept set is not a hard
    * score cliff. The draw is a deterministic seeded md5 uniform
    * (16-bit, two hex-bucket probes — engine-portable), and the rule
    * is algebraically inverted to one comparison: keep ⟺
    * u > 1 − (2 − p)^(−α). A pure projection over [[nbQualityScore]]:
    * the whole classifier pipeline is train-aggregate + two
    * projections. Returns the scored frame filtered to the kept rows. */
  def nbQualityFilterPareto(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, model: NbQualityModel,
      paretoAlpha: Double = 9.0, seed: Int = 7): org.apache.spark.sql.DataFrame =
    nbQualityScore(df, idCol, textCol, model)
      .filter(nbParetoKeep(col(idCol), col("nb_prob"), paretoAlpha, seed))

  /** The Pareto keep DECISION as a boolean column over (id, calibrated
    * probability): keep ⟺ u(id) > 1 − (2 − p)^(−α), with u a seeded
    * md5 16-bit uniform (two hex-bucket probes — engine-portable). The
    * single definition behind [[nbQualityFilterPareto]] and any caller
    * that wants the flag without the filter (q167 emits it per row). */
  def nbParetoKeep(id: Column, prob: Column, paretoAlpha: Double = 9.0,
      seed: Int = 7): Column = {
    require(paretoAlpha > 0, s"pareto alpha must be positive: $paretoAlpha")
    val hi = call_function("md5_low_byte",
      concat(lit(s"nbp1:$seed:"), id.cast("string")))
    val lo = call_function("md5_low_byte",
      concat(lit(s"nbp2:$seed:"), id.cast("string")))
    val u = (hi * 256 + lo + lit(0.5)) / lit(65536.0)
    u > lit(1.0) - pow(lit(2.0) - prob, lit(-paretoAlpha))
  }
}
