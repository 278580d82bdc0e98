package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Bm25Index, Dedup, Fuzzy, IvfIndex, Multimodal, Par,
  Pca, Pq, Retrieval, Similarity, TextAnalysis}

/** BASELINE extension queries over documents/embeddings: dedup (exact,
  * MinHash-LSH, SimHash, n-gram Jaccard), similarity search (brute-force
  * and hyperplane-LSH ANN), text analysis (language ID, quality, token
  * counts, fingerprints, term extraction/lookup), and multimodal binary
  * plumbing. Oracle-checked wherever the math is engine-portable
  * (incl. brute-force ANN via 1e-6-rounded cosine ranks); hash-based
  * ops (xxhash64 signatures, LSH bucketing) are rows-only entries by
  * design.
  */
object ExtQueries extends QueryPack {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Shared churned-corpus + maintained-index fixture for q186/q187/
    * q189/q192 (the MvFixture discipline): embeddings and documents land as
    * VersionedTables, each index is created at v1, then ONE
    * deterministic churn timeline per corpus (append a %10==3 slice
    * under shifted ids, CDF-delete %7==2, update %13==5 — the exact
    * recipe the three oracles replay in SQL). The indexes are left
    * UNREFRESHED: each query refreshes idempotently (batch id =
    * corpus version) and pins its own invariants, so the family holds
    * in ANY execution order and on JVM-shared reruns. Memoized per
    * warehouse+dir. */
  private object IdxFixture {
    final case class P(emb: String, ivf: String, pqIvf: String,
        docTbl: String, bm25: String)
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, P]

    def get(s: SparkSession, dir: String): P = cache.getOrElseUpdate(
      s"${s.conf.get("spark.sql.warehouse.dir")}|$dir", build(s, dir))

    private def build(s: SparkSession, dir: String): P = {
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_idxfix/${java.util.UUID.randomUUID()}")
      val p = P(s"$base/emb", s"$base/ivf", s"$base/pq_ivf",
        s"$base/docs", s"$base/bm25")
      // the embedding timeline and the document timeline touch
      // DISJOINT tables/indexes — build them concurrently, and the
      // two index creates off emb v1 concurrently too (guide §2.6;
      // within each timeline the commits stay strictly ordered)
      Par(() => {
        val e = embs(s, dir).select(col("vec_id"), col("embedding"))
        VersionedTable.create(s, p.emb, e) // E v1
        // both creates read emb AT v1 and write disjoint index roots;
        // the PQ sibling (q192): same corpus, same churn timeline,
        // posting payload = 16-code PQ words instead of raw vectors
        Par(() => IvfIndex.create(s, p.emb, "vec_id", "embedding",
            nlist = 8, p.ivf),
          () => IvfIndex.create(s, p.emb, "vec_id", "embedding",
            nlist = 8, p.pqIvf, pq = Some((16, 64))))
        VersionedTable.append(s, p.emb,
          e.filter(col("vec_id") % 10 === 3)
            .select((col("vec_id") + lit(100000L)).as("vec_id"),
              col("embedding"))) // E v2
        VersionedTable.deleteWhere(s, p.emb, col("vec_id") % 7 === 2,
          cdf = true) // E v3
        VersionedTable.updateWhere(s, p.emb, col("vec_id") % 13 === 5,
          Map("embedding" -> reverse(col("embedding"))),
          cdf = true) // E v4
      }, () => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        VersionedTable.create(s, p.docTbl, d) // D v1
        Bm25Index.create(s, p.docTbl, "doc_id", "text", p.bm25)
        VersionedTable.append(s, p.docTbl,
          d.filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"),
              col("text"))) // D v2
        VersionedTable.deleteWhere(s, p.docTbl, col("doc_id") % 7 === 2,
          cdf = true) // D v3
        VersionedTable.updateWhere(s, p.docTbl, col("doc_id") % 13 === 5,
          Map("text" -> concat(col("text"), lit(" spark spark"))),
          cdf = true) // D v4
      })
      p
    }
  }

  /** Private fixture for q190 (as-of hybrid retrieval): the SAME
    * corpora as IdxFixture but with TWO refresh points, so an interior
    * corpus version has real index state to time-travel to — append →
    * refresh (the PIVOT both corpora sit at version 2), then delete +
    * update churn the heads past it. The final refresh is left to the
    * query (idempotent). Separate from IdxFixture because q186/q187/
    * q189 pin `watermark == 4 after ONE refresh commit` — a shared
    * fixture with an interior refresh would break their atomicity
    * pins. */
  private object AsOfFixture {
    final case class P(emb: String, ivf: String, pqIvf: String,
        docTbl: String, bm25: String)
    private val cache =
      scala.collection.concurrent.TrieMap.empty[String, P]

    def get(s: SparkSession, dir: String): P = cache.getOrElseUpdate(
      s"${s.conf.get("spark.sql.warehouse.dir")}|$dir", build(s, dir))

    private def build(s: SparkSession, dir: String): P = {
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_asoffix/${java.util.UUID.randomUUID()}")
      val p = P(s"$base/emb", s"$base/ivf", s"$base/pq_ivf",
        s"$base/docs", s"$base/bm25")
      // disjoint-corpus timelines built concurrently (guide §2.6);
      // each timeline's commits stay strictly ordered, and the two
      // index creates/refreshes off the SAME emb version overlap
      Par(() => {
        val e = embs(s, dir).select(col("vec_id"), col("embedding"))
        VersionedTable.create(s, p.emb, e) // E v1
        // the IVF-PQ sibling (q194 composes as-of + filter + PQ):
        // same corpus, same pivot refresh — compressed posting lists
        Par(() => IvfIndex.create(s, p.emb, "vec_id", "embedding",
            nlist = 8, p.ivf),
          () => IvfIndex.create(s, p.emb, "vec_id", "embedding",
            nlist = 8, p.pqIvf, pq = Some((16, 64))))
        // the pivot state: one appended slice, refreshed into EVERY
        // index — corpus version 2 everywhere
        VersionedTable.append(s, p.emb,
          e.filter(col("vec_id") % 10 === 4)
            .select((col("vec_id") + lit(100000L)).as("vec_id"),
              col("embedding"))) // E v2
        Par(() => IvfIndex.refresh(s, p.ivf), // lists v2, wm 2
          () => IvfIndex.refresh(s, p.pqIvf)) // pq lists v2, wm 2
        // churn PAST the pivot: the as-of answer must not see any of
        // it (one delete per corpus suffices to prove invisibility —
        // update/preimage handling is q186/q187's LIVE-path coverage,
        // and every extra commit here is wall-clock in q190's private
        // fixture build)
        VersionedTable.deleteWhere(s, p.emb, col("vec_id") % 7 === 6,
          cdf = true) // E v3
      }, () => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        VersionedTable.create(s, p.docTbl, d) // D v1
        Bm25Index.create(s, p.docTbl, "doc_id", "text", p.bm25)
        VersionedTable.append(s, p.docTbl,
          d.filter(col("doc_id") % 10 === 4)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"),
              col("text"))) // D v2
        Bm25Index.refresh(s, p.bm25) // postings v2, wm 2
        VersionedTable.deleteWhere(s, p.docTbl, col("doc_id") % 7 === 6,
          cdf = true) // D v3
      })
      p
    }
  }

  override val fixtures: Map[String, (SparkSession, String) => Unit] =
    Map(
      "idx_fixture" -> ((s, dir) => { IdxFixture.get(s, dir); () }),
      "asof_fixture" -> ((s, dir) => { AsOfFixture.get(s, dir); () }))

  override val fixtureUsers: Map[String, Set[String]] = Map(
    "idx_fixture" -> Set("q186_ivf_churn_maintain",
      "q187_bm25_incremental", "q189_hybrid_indexed",
      "q192_ivfpq_churn_maintain", "q193_filtered_ann"),
    "asof_fixture" -> Set("q190_asof_hybrid",
      "q194_asof_filtered_hybrid", "q200_asof_retrieval_eval"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q19_dedup_exact" -> { (s, dir) =>
      Dedup.exactKeepFirst(docs(s, dir), Seq("lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("lang"))
    },

    // q20 (raw minhash pair dump) retired in r12: xxhash64 banding has
    // no DuckDB replay, so the row could only ever be rows-only in the
    // gate. The operator's certification lives in q131_minhash_capture
    // (full-oracle planted-twin capture audit with in-query precision
    // recompute + recall bound) — strictly stronger than the dump.
    "q21_jaccard_block" -> { (s, dir) =>
      // EXACT same result set as the naive per-lang all-pairs join (the
      // oracle), but candidates come from PPJoin prefix filtering — the
      // all-pairs form was 48 s at sf0.1 and O(N²/langs) at scale.
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          array_distinct(Dedup.tokens(col("text"))).as("ws"))
      Dedup.jaccardNearDupPairs(d, "doc_id", "ws",
          threshold = 0.9, blockCol = Some("lang"))
        .orderBy(col("ida"), col("idb"))
    },

    // PII redaction: the corpus has no natural PII, so deterministic
    // contacts (email, phone, IP) are planted per doc in-query; the
    // oracle replays the same plant + the same ordered regex chain.
    "q73_pii_redact" -> { (s, dir) =>
      val planted = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit("-1234 at 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".1")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.redactPii(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    },

    // Benchmark-contamination screen: docs with doc_id % 97 == 0 stand
    // in as the "benchmark" set; every corpus doc reports how many of
    // its 3-token shingles leak into it (bench docs self-hit at 100%).
    "q74_contamination" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      TextAnalysis.contaminationScreen(d,
          d.filter(col("doc_id") % 97 === 0), "doc_id", "sh",
          thresholdPct = 80)
        .orderBy(col("doc_id"))
    },

    // Stratified training-mix sampler: downsample over-represented
    // 'en' (218 of 500 docs at sf0.01) to 30%, keep all 'de', half the
    // rest — keyed id-bucket filtering, reproducible in any engine.
    "q75_stratified_mix" -> { (s, dir) =>
      TextAnalysis.stratifiedSample(docs(s, dir), "lang", "doc_id",
          rates = Map("en" -> 3, "de" -> 10), defaultKeep = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Training-mix report: per (source, lang) — doc counts, quality
    // pass-rate numerator, exact-dedup uniques, token mass. The
    // telemetry every mix recipe is tuned against; one partial-
    // aggregated shuffle (countDistinct adds its expand internally).
    "q87_mix_report" -> { (s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(TextAnalysis.qualityOk(col("text")), 1L).otherwise(0L))
            .as("n_quality"),
          countDistinct(TextAnalysis.fingerprint(col("text")))
            .as("n_unique"),
          sum(TextAnalysis.tokenCountWs(col("text"))).as("n_tokens"))
        .orderBy(col("source"), col("lang"))
    },

    // The FULL curation pipeline, v2 — every stage this engine offers,
    // in the order a production training-data run uses them: quality
    // gate (narrow filter) → PII scrub (projection) → repetition
    // screen (two partial aggs + a semijoin) → exact fingerprint dedup
    // (one window exchange) → stratified mix (narrow filter) →
    // sequence packing (sharded prefix sum). The oracle replays every
    // stage in SQL; any drift in any stage breaks the hash.
    "q80_curation_v2" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_fp").orderBy("doc_id")
      // pinned (guide §1.2): the repetition screen and the dedup join
      // both read the scrubbed projection (redactPii's regex chain is
      // the expensive leg), and the packer re-reads its input for the
      // bounds pass and both prefix-sum phases — without the pins each
      // consumer re-ran the full quality+redact+window pipeline
      val scrubbed = docs(s, dir)
        .filter(TextAnalysis.qualityOk(col("text")))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.redactPii(col("text")).as("text"))
        .localCheckpoint(true)
      val calm = TextAnalysis.repetitionScores(scrubbed, "doc_id", "text",
        thresholdPct = 20).filter(!col("repetitive")).select("doc_id")
      val deduped = scrubbed.join(calm, Seq("doc_id"), "left_semi")
        .withColumn("doc_fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      val mixed = TextAnalysis.stratifiedSample(deduped, "lang", "doc_id",
          rates = Map("en" -> 5), defaultKeep = 10)
        .localCheckpoint(true)
      TextAnalysis.packSequences(mixed, "doc_id",
          TextAnalysis.tokenCountWs(col("text")), budget = 2048, shards = 8)
        .orderBy(col("doc_id"))
    },

    // Deterministic corpus shuffle: the oracle recomputes the seeded
    // md5 keys — identical hex in any engine — certifying the shuffle
    // ORDER itself (order is definitional from the key).
    "q79_corpus_shuffle" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.shuffleKey(col("doc_id"), "seed42").as("shuffle_key"))
        .orderBy(col("doc_id"))
    },

    // Dedup cluster resolution: n-gram-Jaccard pairs → connected
    // components → each doc labeled with its cluster's smallest id
    // (keep = canonical). The oracle rebuilds the closure with a
    // recursive CTE — the same discipline as q36's fuzzy grouping.
    "q78_dedup_clusters" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val pairs = Dedup.jaccardNearDupPairs(d, "doc_id", "sh",
        threshold = 0.8, blockCol = Some("lang"))
      Dedup.resolveClusters(docs(s, dir), "doc_id", pairs)
        .withColumn("keep", col("doc_id") === col("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // Best-keeper cluster resolution (the SemDeDup stance): the same
    // clusters as q78, but the keeper is the LONGEST document
    // (n_chars DESC, doc_id tie) — quality-aware retention instead of
    // first-arrival.
    "q120_cluster_best" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val pairs = Dedup.jaccardNearDupPairs(d, "doc_id", "sh",
        threshold = 0.8, blockCol = Some("lang"))
      Dedup.resolveClustersBest(docs(s, dir), "doc_id", pairs,
          col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // Gopher-style repetition screen: a doc whose single most frequent
    // token carries >= 20% of its token mass is flagged.
    "q77_repetition" -> { (s, dir) =>
      TextAnalysis.repetitionScores(docs(s, dir), "doc_id", "text",
          thresholdPct = 20)
        .orderBy(col("doc_id"))
    },

    // Concat-then-chunk sequence packing into 2048-token bins via the
    // two-phase distributed prefix sum (no global single-partition
    // window); the oracle computes the same offsets with a plain
    // global window, certifying the sharded math end-to-end.
    "q76_seq_packing" -> { (s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id",
          TextAnalysis.tokenCountWs(col("text")), budget = 2048,
          shards = 16)
        .orderBy(col("doc_id"))
    },

    // n-gram (3-token shingle) Jaccard near-dup: same lossless PPJoin
    // blocking as q21 but over shingle sets — order-sensitive where the
    // word-set form is bag-of-words. Oracle recomputes the exact
    // shingle construction and the all-pairs join.
    "q60_ngram_jaccard" -> { (s, dir) =>
      val d = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          Dedup.shingles(col("text"), 3).as("sh"))
      Dedup.jaccardNearDupPairs(d, "doc_id", "sh",
          threshold = 0.8, blockCol = Some("lang"))
        .orderBy(col("ida"), col("idb"))
    },

    // maxHamming=7 with exactBands=2 (Manku-style combined keys,
    // C(9,2)=36 combos x 14-bit keys): full recall by the generalized
    // pigeonhole, and the 64x-wider keyspace holds blocking power
    // when the corpus outgrows single-band 8-bit keys (256 buckets
    // went quadratic at 10x bench scale — SCALING.md).
    // q22 (raw simhash pair dump) retired in r12 — certification lives
    // in q132_simhash_capture (full-oracle pigeonhole-losslessness
    // contract). See the q20 note above for the rationale.
    "q23_langid" -> { (s, dir) =>
      val d = docs(s, dir)
      val scores = TextAnalysis.langScores(col("text"))
        .map { case (lang, c) => c.as(s"score_$lang") }
      d.select((col("doc_id") +: scores :+
          TextAnalysis.langId(col("text")).as("pred_lang")): _*)
        .orderBy(col("doc_id"))
    },

    "q24_quality" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).as("n_tokens"),
          TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.alphaRatio(col("text")).as("alpha_ratio"),
          TextAnalysis.qualityOk(col("text")).as("quality_ok"))
        .orderBy(col("doc_id"))
    },

    "q25_tokens" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    },

    "q26_fingerprint" -> { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("doc_fp"),
          TextAnalysis.minWordFingerprint(col("text")).as("min_word_fp"))
        .orderBy(col("doc_id"))
    },

    // Brute-force ANN is exact math, so it CAN be oracle-checked: both
    // sides surface cosine rounded to 1e-6 and rank over (rounded sim,
    // neighbor_id) — float-sum-order noise between engines lives at
    // ~1e-15 relative, far under the rounding grid, so display values
    // and ranks agree deterministically.
    "q27_ann_brute" -> { (s, dir) =>
      val e = embs(s, dir)
      val topk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF ANN with nprobe = nlist probes every inverted list, so the
    // search is exhaustive and must EXACTLY reproduce the brute-force
    // oracle (same rounding discipline as q27); nprobe < nlist is the
    // approximate scale path, exercised in ExtSpec.
    "q61_ann_ivf" -> { (s, dir) =>
      val e = embs(s, dir)
      val topk = Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // Trained IVF: two k-means iterations refine the quantizer, then a
    // full probe — exhaustive search is exact for ANY quantizer, so the
    // same brute-force oracle certifies the trained index end-to-end.
    "q72_ann_ivf_trained" -> { (s, dir) =>
      val e = embs(s, dir)
      val topk = Similarity.ivfTopK(e.filter(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8, trainIters = 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // q28 (raw LSH top-k dump) retired in r12 — certification lives in
    // q133_ann_twin_recall (deterministic full-oracle recall@1 = 1
    // planted-twin row). See the q20 note above for the rationale.

    // Embedding-cosine near-dup: the corpus has no natural near-dups,
    // so each vector gets a perturbed twin planted in-query; the
    // grid-blocked engine result must equal the all-pairs oracle
    // EXACTLY (the blocking is lossless at the threshold).
    "q47_embed_neardup" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      // pinned once (guide §1.2): the sizing aggregate and BOTH verify
      // broadcasts read this corpus-union subtree, and the broadcasts
      // build CONCURRENTLY — without the pin each re-runs the scan +
      // perturbation projection instead of reading stored rows
      val all = e.unionByName(pert).localCheckpoint(true)
      Similarity.cosineNearDupPairs(all, "vec_id", "embedding", threshold = 0.99)
        .select(col("ida"), col("idb"))
        .orderBy(col("ida"), col("idb"))
    },

    // Same contract under MULTI-BLOCKING (two independent seeded
    // segmentations, candidates = their intersection): the multi-index
    // scale dial must stay bit-for-bit lossless against the same
    // all-pairs oracle as q47 — every blocking is a pigeonhole-valid
    // superset, so intersecting them is too.
    "q128_embed_neardup_multiblock" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      // pinned once across the sizing pass and both verify broadcasts
      // (the q47 reasoning; two blockings read it once more)
      val all = e.unionByName(pert).localCheckpoint(true)
      Similarity.cosineNearDupPairs(all, "vec_id", "embedding",
          threshold = 0.99, blockings = 2)
        .select(col("ida"), col("idb"))
        .orderBy(col("ida"), col("idb"))
    },

    // The APPROXIMATE near-dup blocker under the oracle gate, recall
    // AUDITED in-query: one row per TRUE pair (the exact lossless
    // generator) flagged with whether signed-random-projection LSH
    // captured it, plus a corpus-level recall >= 0.95 assertion. The
    // oracle replays the identical md5-parity sign matrix, banding,
    // and verify in SQL (the q112 reproducibility contract), so
    // `captured` itself — not just the pair list — is hash-checked.
    // Verified pairs are a SUBSET of true pairs by construction
    // (precision 1); recall is the one approximation, and this row
    // pins it.
    "q129_lsh_neardup" -> { (s, dir) =>
      // bounded audit corpus, the q144 reasoning: the exact truth
      // generator this audit replays is the documented quadratic
      // floor (148 s of an 844 s sf1 bench unbounded), and the
      // recall statistic draws its power from the planted twin pairs,
      // not corpus scale. vec_id < 500 is the WHOLE table at the
      // sf0.01 gate; the production approx operator stays measured
      // unbounded (q130 + SCALING.md).
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") < 500)
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      // pinned once: the exact truth leg, the approx generator, and
      // their sizing passes all read this subtree (guide §1.2)
      val all = e.unionByName(pert).localCheckpoint(true)
      // bounded-corpus brute-force truth (mirrors the oracle's own
      // x JOIN y ON id< construction); the blocked generator's
      // losslessness is certified separately (q47/q89/q128)
      val exact = Similarity.cosineAllPairsBounded(all, "vec_id",
          "embedding", threshold = 0.99)
        .select(col("ida"), col("idb"))
      val approx = Similarity.cosineNearDupPairsApprox(all, "vec_id",
          "embedding", threshold = 0.99, planes = 32, bitsPerBand = 8,
          seed = 7)
        .select(col("ida"), col("idb"), lit(true).as("captured"))
      // pinned: read by the recall aggregate AND the final crossJoin
      // (truth-pair-bounded, ~hundreds of rows)
      val audited = exact.join(approx, Seq("ida", "idb"), "left")
        .select(col("ida"), col("idb"),
          coalesce(col("captured"), lit(false)).as("captured"))
        .localCheckpoint(true)
      val recall = audited.agg(
        (sum(col("captured").cast("long")).cast("double") / count(lit(1)))
          .as("__recall"))
      audited.crossJoin(broadcast(recall))
        .select(col("ida"), col("idb"), col("captured"),
          (col("__recall") >= 0.95).as("recall_ok"))
        .orderBy(col("ida"), col("idb"))
    },

    // Approximate SemDeDup end-to-end: LSH-blocked pairs → the same
    // connected-component resolution as q89. Clusters can only SPLIT
    // relative to exact (missed pairs), never merge below threshold —
    // and the oracle replays the same LSH in SQL, so the cluster
    // assignment is certified bit-for-bit, not rows-only.
    "q130_semantic_dedup_approx" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      // pinned once across sizing, banding, verify broadcasts, and the
      // component resolution's node scan (guide §1.2)
      Similarity.semanticDedupApprox(
          e.unionByName(pert).localCheckpoint(true), "vec_id",
          "embedding", threshold = 0.99, planes = 32, bitsPerBand = 8,
          seed = 7)
        .orderBy(col("vec_id"))
    },

    // The approximate near-dup blocker at the REALISTIC operating
    // threshold (production SemDeDup prunes at cosine ~0.9, not the
    // q129 boundary-twin 0.99): planted twins at GRADED angular
    // distances. The perturbation direction is ISOTROPIC — a
    // deterministic md5-parity ±1/√dim vector per planted id (so the
    // oracle rebuilds it bit-for-bit) — NOT a single-dimension bump:
    // an axis-aligned perturbation concentrates all its angle in one
    // coordinate of every ±1 sign row, measurably depressing capture
    // below the hyperplane model (0.902 observed vs 0.961 modeled at
    // grade 0.92 in the axis-aligned trial), while a direction spread
    // across all dims is the geometry the 1 − θ/π model describes —
    // and the geometry real near-dup embeddings have. The corpus is
    // unit-norm, so δ = 0.20/0.30/0.40/0.47 lands grades at cosine
    // ≈ 1 − δ²/2: 0.98 / 0.955 / 0.92 / ~0.90 (the last straddles
    // the threshold — its below-0.90 pairs legitimately leave the
    // truth set: boundary probes, not noise). 64 planes in 8-bit
    // bands (8 bands) is the operating point the model picks for
    // t = 0.90: per-plane match m = 1 − acos(c)/π = 0.856 at the
    // boundary, capture P = 1−(1−m^8)^8 = 0.935, rising to 0.9992 at
    // grade 0.98. recall_ok is NOT a hand-picked constant: the query
    // computes each truth pair's model capture probability p(c) from
    // its exact cosine and asserts observed captures ≥ Σp − 3σ
    // (σ² = Σp(1−p), the Poisson-binomial variance) — the bound the
    // (1−m^bitsPerBand)^bands model implies, replayed by the oracle
    // on its own side so the flag itself is hash-checked. Precision
    // stays 1 by construction (exact-cosine verify).
    "q144_lsh_neardup_t90" -> { (s, dir) =>
      // The audit corpus is BOUNDED (~500 vectors): the exact truth
      // generator this audit needs cannot prune at t=0.90 (grid cells
      // wider than the coordinate spread — candidates ~ all pairs,
      // the documented quadratic floor), and an audit's statistical
      // power comes from its ~2000+ planted graded pairs, not from
      // corpus scale. Unbounded, this row alone cost 57 s of a 197 s
      // sf0.1 bench for zero extra certification. The bound is a
      // seeded STRATIFIED sample — top-50 by md5 rank within each
      // label (the corpus's cluster structure) — not an id prefix
      // (r13 verdict item 8): the truth side sees every cluster's
      // geometry at every scale factor for the same cost, and the
      // oracle replays the identical selection. The PRODUCTION
      // operator (cosineNearDupPairsApprox) stays measured unbounded
      // at sf1 in SCALING.md.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("label"))
        .orderBy(md5(concat(lit("sm:"), col("vec_id").cast("string"))),
          col("vec_id"))
      val e = embs(s, dir)
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= 50)
        .select(col("vec_id"), col("embedding"))
      // ±1/8 per dim from md5('pt:<planted id>:<dim>') parity — the
      // signMatrix discipline. Keyed on the PLANTED id (computed in
      // its own select first, so the reference is unambiguous — a
      // single select would hit Spark's lateral-alias resolution and
      // silently bind to whichever id wins): every twin gets an
      // independent direction, so cross-grade twin-twin pairs sit at
      // compound angles instead of collinear freebies and the truth
      // mass stays at the graded distances.
      def plant(delta: Double, off: Int) = e
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
        .select(col("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") + lit(delta / 8.0) *
              when(conv(substring(md5(concat(lit("pt:"),
                  col("vec_id").cast("string"), lit(":"),
                  i.cast("string"))), 32, 1), 16, 10)
                .cast("int") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)))
              .cast("float")).as("embedding"))
      // pinned once (guide §1.2): each plant branch evaluates dim
      // md5-parity expressions per row and the window-sampled base is
      // itself an exchange+sort — without the pin the exact truth leg,
      // the approx generator, and both sizing passes each re-run all
      // four plant branches (the dominant plan-construction AND
      // recompute cost of this audit; measured ~1.9x on the query)
      val all = e.unionByName(plant(0.20, 100000))
        .unionByName(plant(0.30, 200000))
        .unionByName(plant(0.40, 300000))
        .unionByName(plant(0.47, 400000))
        .localCheckpoint(true)
      // bounded-corpus brute-force truth: at t=0.90 the blocked
      // generator can't prune (candidates ~ all pairs), so its
      // scaffolding is pure overhead here — and the DuckDB oracle
      // builds truth with the same id< nested loop
      val exact = Similarity.cosineAllPairsBounded(all, "vec_id",
        "embedding", threshold = 0.90)
      val approx = Similarity.cosineNearDupPairsApprox(all, "vec_id",
          "embedding", threshold = 0.90, planes = 64, bitsPerBand = 8,
          seed = 7)
        .select(col("ida"), col("idb"), lit(true).as("__c"))
      val m = lit(1.0) -
        acos(least(col("cosine_sim"), lit(1.0))) / lit(math.Pi)
      // pinned: read by the bound aggregate AND the final crossJoin
      // (truth-pair-bounded, ~thousands of rows)
      val cap = exact.join(approx, Seq("ida", "idb"), "left")
        .select(col("ida"), col("idb"),
          coalesce(col("__c"), lit(false)).as("captured"),
          (lit(1.0) - pow(lit(1.0) - pow(m, lit(8.0)), lit(8.0))).as("__p"))
        .localCheckpoint(true)
      val bound = cap.agg(
        sum(col("captured").cast("long")).as("__got"),
        sum(col("__p")).as("__ep"),
        sum(col("__p") * (lit(1.0) - col("__p"))).as("__var"))
      cap.crossJoin(broadcast(bound))
        .select(col("ida"), col("idb"),
          // positive ids: truncating div == floor div == DuckDB //
          expr("ida div 100000").as("grade_a"),
          expr("idb div 100000").as("grade_b"),
          col("captured"),
          (col("__got").cast("double") >=
            col("__ep") - lit(3.0) * sqrt(col("__var"))).as("recall_ok"))
        .orderBy(col("ida"), col("idb"))
    },

    // Certified capture audit for MinHash LSH (the raw q20 pair dump is
    // retired — xxhash64 bands have no DuckDB form, but the CONTRACT
    // does): per planted pair, did the production operator capture it?
    // An IDENTICAL twin (+200000) shares the signature, so capture is
    // deterministic. A NEAR twin (+300000, two appended tokens) is
    // probabilistic, so eligibility is gated on >= 30 DISTINCT
    // shingles — the near pair then sits at jaccard >= 30/32 = 0.94,
    // where P(miss all 16 bands) < 1e-10 even at the boundary, and a
    // repetitive doc (few distinct shingles → near pair UNDER the 0.5
    // threshold, legitimately uncaptured) can never enter the planted
    // set and fake a red row. The gate counts the SAME distinct
    // word-3-grams in both engines. precision_ok recomputes every
    // emitted pair's jaccard through the independent array_intersect/
    // array_union path and requires it to equal the native jaccard_sim
    // AND clear the threshold; recall_ok asserts planted capture
    // >= 0.99. The oracle predicts every flag, so the contract is
    // hash-certified (the q96 bloom-vs-exact discipline).
    "q131_minhash_capture" -> { (s, dir) =>
      val d = docs(s, dir)
        .filter(col("doc_id") < 300 &&
          size(Dedup.shingles(col("text"), 3)) >= 30)
        .select(col("doc_id"), col("text"))
      val twin = d.select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val near = d.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" qq zz")).as("text"))
      val all = d.unionByName(twin).unionByName(near)
      val pairs = Dedup.minhashNearDupPairs(all, "doc_id", "text",
        k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      val sets = all.select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val prec = pairs
        .join(sets.select(col("doc_id").as("ida"), col("sh").as("sha")), "ida")
        .join(sets.select(col("doc_id").as("idb"), col("sh").as("shb")), "idb")
        .select(col("jaccard_sim"),
          (size(array_intersect(col("sha"), col("shb"))).cast("double") /
            size(array_union(col("sha"), col("shb")))).as("jr"))
        .agg(coalesce(
          min(when(col("jr") >= 0.5 && col("jr") === col("jaccard_sim"), 1L)
            .otherwise(0L)) === 1L, lit(true)).as("precision_ok"))
      val planted = d.select(col("doc_id").as("ida"),
          (col("doc_id") + 200000).as("idb"), lit("identical").as("kind"))
        .unionByName(d.select(col("doc_id").as("ida"),
          (col("doc_id") + 300000).as("idb"), lit("near").as("kind")))
      val cap = planted.join(pairs.select(col("ida"), col("idb"),
          lit(true).as("__c")), Seq("ida", "idb"), "left")
        .select(col("ida"), col("idb"), col("kind"),
          coalesce(col("__c"), lit(false)).as("captured"))
      val rec = cap.agg((sum(col("captured").cast("long")).cast("double") /
        count(lit(1))).as("__r"))
      cap.crossJoin(broadcast(rec)).crossJoin(broadcast(prec))
        .select(col("ida"), col("idb"), col("kind"), col("captured"),
          (col("__r") >= 0.99).as("recall_ok"), col("precision_ok"))
        .orderBy(col("ida"), col("idb"))
    },

    // Certified capture audit for SimHash banding (the raw q22 dump is
    // retired): generalized pigeonhole is LOSSLESS within the radius, so
    // every planted pair must satisfy `captured OR hamming > radius` —
    // the identical twin (hamming 0) makes the captured branch
    // deterministic, the near twin exercises the radius boundary on
    // real fingerprints; the contract flag is TRUE on BOTH branches,
    // so (unlike q131) no probabilistic eligibility gate is needed —
    // the same shingle gate is kept only to share the oracle's
    // planted-set definition. Every flag is oracle-predicted TRUE.
    "q132_simhash_capture" -> { (s, dir) =>
      val d = docs(s, dir)
        .filter(col("doc_id") < 300 &&
          size(Dedup.shingles(col("text"), 3)) >= 30)
        .select(col("doc_id"), col("text"))
      val twin = d.select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val near = d.select((col("doc_id") + 300000).as("doc_id"),
        concat(col("text"), lit(" qq zz")).as("text"))
      val all = d.unionByName(twin).unionByName(near)
      val pairs = Dedup.simhashNearDupPairs(all, "doc_id", "text",
        maxHamming = 3, exactBands = 2)
      val fps = all.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("fp"))
      val planted = d.select(col("doc_id").as("ida"),
          (col("doc_id") + 200000).as("idb"), lit("identical").as("kind"))
        .unionByName(d.select(col("doc_id").as("ida"),
          (col("doc_id") + 300000).as("idb"), lit("near").as("kind")))
      planted
        .join(fps.select(col("doc_id").as("ida"), col("fp").as("__fa")), "ida")
        .join(fps.select(col("doc_id").as("idb"), col("fp").as("__fb")), "idb")
        .join(pairs.select(col("ida"), col("idb"), lit(true).as("__c")),
          Seq("ida", "idb"), "left")
        .select(col("ida"), col("idb"), col("kind"),
          (coalesce(col("__c"), lit(false)) ||
            Dedup.hamming(col("__fa"), col("__fb")) > 3)
            .as("capture_contract_ok"))
        .orderBy(col("ida"), col("idb"))
    },

    // Certified recall row for hyperplane-LSH ANN (the raw q28 top-k
    // dump is retired): each query vector gets an identical twin planted in
    // the corpus — identical vectors share EVERY band, so the twin is
    // always a candidate, its cosine is exactly 1, and LSH's rank-1
    // neighbor MUST be the twin (recall@1 = 1 as a deterministic,
    // oracle-predicted fact, not a probabilistic hope). ONLY the
    // deterministic claim is emitted — a candidate count would depend
    // on bucket occupancy, which no LSH guarantees per query.
    "q133_ann_twin_recall" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 20)
      val twins = q.select((col("vec_id") + 100000).as("vec_id"),
        col("embedding"))
      val corpus = e.unionByName(twins)
      Similarity.lshTopK(q, corpus, "vec_id", "embedding", k = 5,
          dim = 64, numPlanes = 16, bitsPerBand = 4)
        .groupBy(col("query_id"))
        .agg(max(when(col("rank") === 1,
            col("neighbor_id") === col("query_id") + 100000))
            .as("top1_is_twin"))
        .orderBy(col("query_id"))
    },

    // The directed ARRIVAL screen (batch-vs-corpus approximate
    // near-dup) under the gate: perturbed twins arrive against the
    // embeddings corpus, candidates come from shared LSH bands, exact
    // cosine verifies — and the oracle replays the whole path (sign
    // matrix, banding, bucket join, verify) in SQL, so the flagged
    // set is hash-certified bit-for-bit. The streaming form runs this
    // operator unchanged per micro-batch (StreamingSpec proves
    // arrival-split invariance).
    "q136_arrival_screen" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val batch = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      Similarity.nearDupAgainstCorpusApprox(batch, e, "vec_id",
          "embedding", threshold = 0.99, planes = 32, bitsPerBand = 8,
          seed = 7)
        .select(col("batch_id"), col("corpus_id"))
        .orderBy(col("batch_id"), col("corpus_id"))
    },

    // C4-style line filters (the corpus is single-line word soup, so
    // multi-line docs are planted in-query — the q73 PII-plant
    // stance): one good line, one boilerplate line (valid length +
    // punctuation, killed by the blacklist), one too-short line, one
    // raw-corpus line with no terminal punctuation, one good closer.
    // Both engines apply the identical rules to the identical planted
    // text, so the kept set is deterministic whatever the corpus says.
    "q134_line_filters" -> { (s, dir) =>
      val planted = docs(s, dir).filter(col("doc_id") < 400)
        .select(col("doc_id"), concat(
          lit("Meaningful first line for doc "), col("doc_id"),
          lit(" stays in."), lit("\n"),
          lit("Accept cookie policy now."), lit("\n"),
          lit("short."), lit("\n"),
          substring(col("text"), 1, 40), lit("\n"),
          lit("A second meaningful line survives too!")).as("text"))
      planted
        .select(col("doc_id"),
          size(split(col("text"), "\n")).as("n_lines"),
          TextAnalysis.cleanLines(col("text")).as("__kept"))
        .select(col("doc_id"), col("n_lines"),
          size(col("__kept")).as("n_kept"),
          array_join(col("__kept"), "\n").as("clean_text"))
        .orderBy(col("doc_id"))
    },

    // Temperature-scaled mixing (τ = 0.5) over a deliberately skewed
    // derived grouping (floor(sqrt(doc_id)) — group k holds ~2k+1
    // docs, the skew the documents table's uniform sources lack):
    // every group keeps exactly round(sqrt(n_min·n_g)) docs by md5
    // rank, and the oracle replays counts, quotas, ranks, and the
    // kept set bit-for-bit.
    "q135_temperature_mix" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        floor(sqrt(col("doc_id").cast("double"))).cast("long").as("grp"))
      TextAnalysis.temperatureQuota(d, "grp", "doc_id", seed = 11)
        .select(col("doc_id"), col("grp"), col("group_n"),
          col("mix_quota"), col("mix_rank"))
        .orderBy(col("doc_id"))
    },

    // Byte-level metadata over NON-image payloads: text bytes are not a
    // decodable image, so ok=false and dims are 0 — the honest decode
    // contract (n_bytes/digest still verified byte-exactly).
    "q29_multimodal_meta" -> { (s, dir) =>
      val items = Multimodal.asMediaItems(docs(s, dir), "doc_id", "text")
      Multimodal.extractFeatures(items).toDF()
        .select(col("media_id"), col("n_bytes"), col("digest"),
          col("width"), col("height"), col("ok"))
        .orderBy(col("media_id"))
    },

    // REAL image decode: synthetic PNGs with doc_id-derived dimensions
    // generated executor-side, decoded by javax.imageio header reads —
    // the oracle recomputes the dimension formula independently.
    "q55_image_decode" -> { (s, dir) =>
      import s.implicits._
      val items = docs(s, dir).select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 200).as[Long]
        .map(id => Multimodal.MediaItem(id,
          Multimodal.syntheticPng((1 + id % 64).toInt, (1 + id % 48).toInt),
          "image/png"))
      Multimodal.extractFeatures(items).toDF()
        .select(col("media_id"), col("width"), col("height"), col("ok"))
        .orderBy(col("media_id"))
    },

    // Resize path under the gate: synthetic PNGs → real bilinear resize
    // (fit 16x16, aspect preserved) → real header decode. The oracle
    // recomputes the scale formula with the SAME IEEE double ops, so
    // the decoded output dimensions must match exactly.
    "q59_image_resize" -> { (s, dir) =>
      import s.implicits._
      val items = docs(s, dir).select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 200).as[Long]
        .map(id => Multimodal.MediaItem(id,
          Multimodal.syntheticPng((1 + id % 64).toInt, (1 + id % 48).toInt),
          "image/png"))
      Multimodal.extractFeatures(Multimodal.resizeAll(items, 16, 16)).toDF()
        .select(col("media_id"), col("width"), col("height"), col("ok"))
        .orderBy(col("media_id"))
    },

    // REAL audio decode: synthetic PCM-16 WAVs with doc_id-derived
    // stream parameters, parsed back by javax.sound.sampled header
    // reads; duration uses integer math so the oracle reproduces it.
    "q62_audio_decode" -> { (s, dir) =>
      import s.implicits._
      val items = docs(s, dir).select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 200).as[Long]
        .map(id => Multimodal.MediaItem(id,
          Multimodal.syntheticWav((8000 + (id % 8) * 1000).toInt,
            (1 + id % 2).toInt, (1000 + (id % 500) * 4).toInt),
          "audio/wav"))
      Multimodal.extractAudioFeatures(items).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits_per_sample"), col("n_frames"), col("duration_ms"),
          col("ok"))
        .orderBy(col("media_id"))
    },

    // Audio segmentation: the same synthetic WAVs as q62, split into
    // 800-frame windows (Whisper-style fixed chunks) — real header
    // decode, exact PCM byte math; the oracle replays the id-derived
    // geometry and the ceil-division tiling.
    "q106_audio_segments" -> { (s, dir) =>
      import s.implicits._
      val items = docs(s, dir).select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 200).as[Long]
        .map(id => Multimodal.MediaItem(id,
          Multimodal.syntheticWav((8000 + (id % 8) * 1000).toInt,
            (1 + id % 2).toInt, (1000 + (id % 500) * 4).toInt),
          "audio/wav"))
      Multimodal.segmentAudio(items, segFrames = 800L).toDF()
        .orderBy(col("media_id"), col("seg_index"))
    },

    // Video frame sampling: GVID containers of doc_id-derived PNG
    // frames, demuxed per partition, every 2nd frame decoded to dims.
    // The oracle recomputes frame indices and the dimension formulas.
    "q63_frame_sample" -> { (s, dir) =>
      import s.implicits._
      val items = docs(s, dir).select(col("doc_id").cast("long"))
        .filter(col("doc_id") < 100).as[Long]
        .map { id =>
          val n = (3 + id % 4).toInt
          val frames = (0 until n).map(f => Multimodal.syntheticPng(
            (4 + ((id + f) % 8)).toInt, (3 + ((id + f) % 6)).toInt))
          Multimodal.MediaItem(id, Multimodal.syntheticVideo(frames),
            "video/x-gvid")
        }
      Multimodal.sampleFrames(items, stride = 2).toDF()
        .select(col("media_id"), col("frame_index"), col("width"),
          col("height"), col("ok"))
        .orderBy(col("media_id"), col("frame_index"))
    },

    // End-to-end curation pass: quality gate → exact content dedup
    // (normalized-text fingerprint, keep smallest doc_id) → token
    // budget. ONE scan of documents and ONE shuffle (the fingerprint
    // window) — the composed shape a pre-training data curation
    // pipeline runs at 100 TB, certified against a full SQL oracle.
    "q64_curation_pipeline" -> { (s, dir) =>
      val kept = docs(s, dir)
        .filter(TextAnalysis.qualityOk(col("text")))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.fingerprint(col("text")).as("doc_fp"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
          TextAnalysis.tokenCountBpeIsh(col("text")).as("n_bpeish_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_fp")).orderBy(col("doc_id"))
      kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("n_ws_tokens"),
          col("n_bpeish_tokens"))
        .orderBy(col("doc_id"))
    },

    // Per-label mean embeddings (class centroids / pooled embeddings):
    // the SAME partial-aggregating vector mean k-means training uses,
    // certified against DuckDB's element-wise average — float
    // sum-order noise lives at ~1e-13, killed by 6-decimal rounding
    // (the q27 discipline).
    "q107_label_centroids" -> { (s, dir) =>
      // posexploded to (label, dim, mean_value) scalar rows — the
      // driver's pandas-based hasher cannot sort an array column.
      Similarity.meanPoolVectors(embs(s, dir), "label", "embedding")
        .select(col("label"),
          posexplode(col("mean_vec")).as(Seq("dim", "mean_value")))
        .select(col("label"), col("dim"),
          round(col("mean_value"), 6).as("mean_value"))
        .orderBy(col("label"), col("dim"))
    },

    // Variance-based feature selection: top-8 embedding dims by sample
    // variance (rounded ranking, dim tie-break), projected rows for
    // kept dims. One map-side-combined aggregation + a broadcast join
    // back — dim-cardinality state, never corpus-sized.
    "q110_variance_dims" -> { (s, dir) =>
      Similarity.selectTopVarianceDims(embs(s, dir), "vec_id",
          "embedding", k = 8)
        .orderBy(col("vec_id"), col("dim"))
    },

    // Content-defined chunking: md5-parity token boundaries (engine-
    // portable), pure per-row array lambdas — zero shuffles. The
    // block-level dedup splitter that is edit-stable where fixed
    // windows are not.
    "q111_cdc_chunks" -> { (s, dir) =>
      TextAnalysis.cdcChunks(docs(s, dir), "doc_id", "text", modulus = 8)
        .orderBy(col("doc_id"), col("chunk_index"))
    },

    // Signed random projection (JL): 64 -> 8 dims through a
    // deterministic md5-parity ±1 matrix — a MAP-ONLY scan (native
    // vec_dot against literal sign vectors), the pre-ANN
    // dimensionality reduction shape that costs one pass at 100 TB.
    "q112_random_projection" -> { (s, dir) =>
      Similarity.signedRandomProjection(embs(s, dir), "vec_id",
          "embedding", dim = 64, outDim = 8, seed = 42)
        .orderBy(col("vec_id"), col("out_dim"))
    },

    // Persisted IVF index: the embeddings land as a VersionedTable,
    // IvfIndex builds centroid-clustered posting lists over it, and a
    // one-centroid probe must file-prune (asserted in-query through
    // the manifest pruner, as q186 does). The gate row uses the full
    // probe, which is exactly brute force — the same guarantee q61
    // certifies, now for the persisted form.
    "q116_ivf_persisted" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_q116/${java.util.UUID.randomUUID()}")
      val (tbl, idx) = (s"$base/emb", s"$base/ivf")
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      VersionedTable.create(s, tbl, e)
      IvfIndex.create(s, tbl, "vec_id", "embedding", nlist = 8, idx)
      val (kept, total) = IvfIndex.pruneAudit(s, idx, Seq(0))
      require(kept < total,
        s"clustered lists must file-prune a one-centroid probe: " +
          s"$kept/$total")
      val topk = IvfIndex.probe(e.filter(col("vec_id") < 20), idx,
        "vec_id", "embedding", k = 5, nprobe = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // Decontamination by excision: cut the contaminated 8-token spans
    // out of each non-benchmark document (q96's benchmark set: every
    // 97th doc) and keep the rest in order — the save-the-document
    // treatment, not the drop-it one.
    "q123_decontaminate_excise" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.exciseContaminatedSpans(
          d.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
          d.filter(col("doc_id") % 97 === 0), "text", k = 8)
        .orderBy(col("doc_id"))
    },

    // Deterministic per-group quota sample: exactly 30 docs per
    // source by ascending md5 rank — the eval-set constructor; same
    // rows on any engine, any run, any corpus size.
    "q117_quota_sample" -> { (s, dir) =>
      TextAnalysis.quotaSample(docs(s, dir)
          .select(col("doc_id"), col("source"), col("lang")),
          "source", "doc_id", n = 30, seed = 11)
        .orderBy(col("source"), col("sample_rank"))
    },

    // Deterministic md5-bucket train/val/test split: a document's
    // assignment never changes as the corpus grows (unlike
    // randomSplit) and any engine reproduces it — pure projection.
    "q113_corpus_split" -> { (s, dir) =>
      TextAnalysis.deterministicSplit(docs(s, dir)
          .select(col("doc_id"), col("source")),
          "doc_id", seed = 42, trainCut = 204, valCut = 230)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("split_bucket")).as("min_bucket"),
          max(col("split_bucket")).as("max_bucket"))
        .orderBy(col("split"))
    },

    // Leakage-safe split: split assignment keyed on the GROUP (here
    // source — the one-domain's-pages leakage unit; a dedup cluster id
    // is the same call), so correlated documents can never straddle
    // train/test. The in-query require pins the guard itself: every
    // source maps to exactly one split. Emits per-document rows — the
    // oracle recomputes each doc's bucket from its SOURCE's md5.
    "q152_group_split" -> { (s, dir) =>
      val out = TextAnalysis.groupAwareSplit(docs(s, dir)
          .select(col("doc_id"), col("source")),
          "source", seed = 7, trainCut = 204, valCut = 230)
        .select(col("doc_id"), col("source"), col("split"))
      require(out.groupBy("source")
          .agg(countDistinct(col("split")).as("n"))
          .filter(col("n") =!= 1).isEmpty,
        "leakage guard violated: a source straddles splits")
      out.orderBy(col("doc_id"))
    },

    // DSIR (Xie et al. 2023): hashed-unigram importance resampling —
    // weight every corpus document by its log likelihood ratio between
    // a TARGET distribution (here: the English slice) and the raw
    // corpus, keep the top-K. Training is two 64-row bucket counts;
    // scoring is a pure projection (ratio table as an array literal);
    // the cut is a distributed TakeOrdered. The oracle replays the
    // full construction: same md5 buckets, same add-1 smoothing, same
    // rounded ranking.
    "q155_dsir_select" -> { (s, dir) =>
      val d = docs(s, dir)
      TextAnalysis.dsirSelect(d, "doc_id", "text",
        d.filter(col("lang") === "en"), "text",
        k = 150, buckets = 64, alpha = 1.0, seed = 7)
        .orderBy(col("dsir_logweight").desc, col("doc_id"))
    },

    // Naive-Bayes QUALITY CLASSIFIER with the GPT-3 Pareto keep rule
    // (Brown et al. 2020 Appendix A): train "reference sources =
    // positive vs rest = negative" over hashed unigram buckets, score
    // every document with a calibrated class probability, keep when a
    // seeded-uniform Pareto(9) draw beats 1 − p. Distinct from q155's
    // DSIR (importance RESAMPLING, no priors/probability/decision).
    // Train = two bounded wordcounts; score + filter = projections.
    // The oracle replays the whole construction: buckets, smoothing,
    // prior, sigmoid, the inverted keep inequality.
    "q167_nb_quality" -> { (s, dir) =>
      val d = docs(s, dir)
      val isPos = col("lang") === "en"
      val model = TextAnalysis.nbTrainQuality(
        d.filter(isPos), d.filter(!isPos), "text",
        buckets = 64, alpha = 1.0, seed = 7)
      // emit EVERY document's calibrated score plus its keep decision
      // (kept as 0/1) via the operator's OWN nbParetoKeep column, so
      // the gate certifies the scoring and the Pareto rule on every
      // row — and tie the filter operator itself to the flag with an
      // in-query count equality
      val flagged = TextAnalysis.nbQualityScore(d, "doc_id", "text", model)
        .withColumn("kept", TextAnalysis.nbParetoKeep(col("doc_id"),
          col("nb_prob"), paretoAlpha = 9.0, seed = 7).cast("int"))
      val nKept = TextAnalysis.nbQualityFilterPareto(d, "doc_id", "text",
        model, paretoAlpha = 9.0, seed = 7).count()
      val nFlag = flagged.filter(col("kept") === 1).count()
      require(nKept == nFlag && nKept > 0,
        s"filter operator ($nKept kept) must agree with the keep flag " +
          s"($nFlag) and keep a nonempty set")
      flagged.orderBy(col("doc_id"))
    },

    // BM25 ranked retrieval (Okapi/Lucene scoring) — the search-side
    // capability next to tf-idf term extraction: one collection-stats
    // aggregate, then scoring as a pure projection and a distributed
    // top-k. Query mixes a stopword-common term, a mid-frequency term,
    // and a rarer one so idf actually differentiates.
    "q159_bm25" -> { (s, dir) =>
      TextAnalysis.bm25TopN(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("hash", "join", "spark"), topN = 100)
        .orderBy(col("bm25").desc, col("doc_id"))
    },

    // Hybrid retrieval (the RAG-stack shape): BM25 lexical candidates
    // fused with embedding-cosine candidates by reciprocal-rank fusion
    // (Cormack et al. SIGIR 2009) — no score calibration, just ranks.
    // Corpus-scale work stays inside each retriever (stats aggregate +
    // pure-projection scoring + distributed TakeOrdered); only the two
    // 100-row candidate lists meet in the fusion join. The query
    // vector is document 42's own embedding (a bounded single-row
    // collect); cosine rounds at 1e-6 before ranking (the q27
    // discipline) so float sum order can't flip a rank between
    // engines. The oracle replays both retrievers and the fusion.
    "q175_hybrid_retrieval" -> { (s, dir) =>
      // each retriever over its NATURAL domain (all documents for
      // BM25; the embedded subset for vector search — at sf>0.01 not
      // every document carries an embedding, the realistic shape);
      // RRF is exactly the fusion that tolerates partial overlap
      val lex = TextAnalysis.bm25TopN(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("hash", "join", "spark"), topN = 100)
      val qv = embs(s, dir).filter(col("vec_id") === 42)
        .select(col("embedding")).head().getSeq[Float](0)
        .map(_.toDouble).toSeq
      val vec = embs(s, dir).select(col("vec_id").as("doc_id"),
          round(Similarity.cosine(col("embedding"),
            typedLit(qv).cast("array<float>")), 6).as("cos"))
        .orderBy(col("cos").desc, col("doc_id"))
        .limit(100)
      Similarity.rrfFuse(Seq(lex -> "bm25", vec -> "cos"), "doc_id",
        topN = 50)
    },

    // Retrieval evaluation (trec_eval semantics): recall/precision/
    // MRR/nDCG@{5,10,20} of exact cosine top-20 runs, judged against
    // label-derived graded qrels (same label rel=2, adjacent rel=1).
    // Queries are vec_id % 100 == 7 (5 at sf0.01, 20 at sf0.1);
    // results and qrels are both query-bounded, so every downstream
    // window/aggregate partitions by query_id — corpus-scale work is
    // only the broadcast-query scoring pass. Cosine rounds at 1e-6
    // BEFORE the top-20 cut and ranking (the q27 discipline) so the
    // k-boundary and tie-breaks agree across engines.
    "q176_retrieval_metrics" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") % 100 === 7)
      val scored = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col("label").as("nlab"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("qlab"))))
        .filter(col("query_id") =!= col("neighbor_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))
      val results = scored
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosine(col("cv"), col("qv")), 6).as("score"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 20)
        .drop("rnk")
      val qrels = scored
        .withColumn("rel", when(col("qlab") === col("nlab"), 2)
          .when(abs(col("qlab") - col("nlab")) === 1, 1).otherwise(0))
        .filter(col("rel") > 0)
        .select("query_id", "neighbor_id", "rel")
      Retrieval.metrics(results, qrels, "query_id", "neighbor_id",
        "score", "rel", Seq(5, 10, 20))
    },

    // Indexed-retriever-fed evaluation — the production eval-your-
    // ANN-stack shape q176 stops short of: the SAME qrels and metric
    // machinery score BOTH the exact cosine top-20 run (the recall
    // reference) and a genuinely approximate IVF run (nprobe 4 of an
    // explicit 16-list quantizer, NOT the nprobe = nlist degenerate).
    // ivfTopKExplicit's rounding discipline makes the approximate
    // search itself engine-reproducible, so the oracle replays the
    // whole stack — assignment, probing, candidate ranking, metrics —
    // and hash-pins the per-cutoff metric rows of BOTH runs. BOTH
    // feeds are corpus-size-DECOUPLED (the r15 weak row): the query
    // set is a FIXED 20-row seeded md5-rank sample (the q117 quota
    // idiom) and the quantizer a FIXED 16-row seeded pick, so the
    // exact ground truth is O(20 × corpus) linear and the centroid
    // driver pull is a 16-vector constant at any scale.
    "q183_retrieval_eval_indexed" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e
        .withColumn("h", md5(concat(lit("ivfq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      val cents: Seq[Seq[Double]] = e
        .withColumn("h", md5(concat(lit("ivfc:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(16)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq).toSeq
      val ivfRes = Similarity.ivfTopKExplicit(q, e, "vec_id",
          "embedding", k = 20, nprobe = 4, cents)
        .select(col("query_id"), col("neighbor_id"),
          col("cosine_sim").as("score"))
      val scored = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"), col("label").as("nlab"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("qlab"))))
        .filter(col("query_id") =!= col("neighbor_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id"))
      val exactRes = scored
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.cosine(col("cv"), col("qv")), 6).as("score"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 20)
        .drop("rnk")
      val qrels = scored
        .withColumn("rel", when(col("qlab") === col("nlab"), 2)
          .when(abs(col("qlab") - col("nlab")) === 1, 1).otherwise(0))
        .filter(col("rel") > 0)
        .select("query_id", "neighbor_id", "rel")
      val ks = Seq(5, 10, 20)
      val mExact = Retrieval.metrics(exactRes, qrels, "query_id",
        "neighbor_id", "score", "rel", ks).withColumn("run", lit("exact"))
      val mIvf = Retrieval.metrics(ivfRes, qrels, "query_id",
        "neighbor_id", "score", "rel", ks).withColumn("run", lit("ivf"))
      mExact.unionByName(mIvf)
        .select(col("run"), col("k"), col("recall"), col("precision"),
          col("mrr"), col("ndcg"))
        .orderBy(col("run"), col("k"))
    },

    // Incremental IVF maintenance under corpus churn — q116's
    // persisted index kept current while the corpus ingests. The
    // corpus is a VersionedTable; the posting lists are a
    // centroid-clustered VersionedTable maintained from its CHANGE FEED: one refresh call applies an append + a
    // CDF delete + an in-place vector update as ONE atomic commit
    // (delta-sized assignment against the frozen quantizer, keyed
    // copy-on-write of only the churned centroids' files), with the
    // corpus-version watermark and drift counters riding the commit.
    // In-query pins: exactly one refresh commit for the whole churn
    // range, watermark == corpus head, replay is a no-op, a
    // one-centroid probe file-prunes, and in-distribution churn does
    // NOT recommend retrain. The oracle replays the deterministic
    // churn in SQL and brute-forces the post-churn corpus — gating
    // that a FULL probe of the incrementally-maintained index is
    // exactly brute force (the q116 guarantee, now under churn).
    "q186_ivf_churn_maintain" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = IdxFixture.get(s, dir) // shared churned corpora (builder)
      val idx = f.ivf
      val lv = IvfIndex.refresh(s, idx)
      require(lv == 2L && IvfIndex.watermark(s, idx) == 4L,
        s"one atomic refresh commit carrying watermark 4, got " +
          s"version $lv @ ${IvfIndex.watermark(s, idx)}")
      require(IvfIndex.refresh(s, idx) == lv,
        "an up-to-date refresh must be a metadata no-op")
      val (kept, total) = IvfIndex.pruneAudit(s, idx, Seq(0))
      require(kept < total,
        s"clustered lists must file-prune a one-centroid probe: " +
          s"$kept/$total")
      require(!IvfIndex.recommendRetrain(s, idx),
        "in-distribution churn must not trip the retrain signal")
      val corpus = VersionedTable.read(s, f.emb)
      val topk = IvfIndex.probe(corpus.filter(col("vec_id") < 20), idx,
        "vec_id", "embedding", k = 5, nprobe = 8)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // PCA reduce-then-search recall — the retrieval-value leg q185
    // deliberately left out (the synthetic embeddings are
    // near-isotropic, so reduction is not recall-preserving THERE).
    // A seeded anisotropic slice fixes the premise: ~1/4 of the dims
    // (md5-picked, engine-reproducible) get 16x the variance, the
    // fitted top-16/64 subspace concentrates it (explainedRatio
    // pinned in-query), and brute-force top-10 in the 16-dim reduced
    // space recovers the full-dim exact top-10 with recall pinned
    // in-query (mean and per-query floor). The oracle replays the
    // anisotropic transform + the exact full-dim search trace and
    // pins every per-query recall flag TRUE — the PCA basis itself is
    // engine-local (Jacobi, float sum order), so the recall COUNT is
    // certified by the in-query requires, the q185/q180 idiom.
    "q188_pca_reduce_recall" -> { (s, dir) =>
      val e = embs(s, dir)
      val scaled = transform(col("embedding"), (x, i) =>
        x.cast("double") * when(substring(md5(concat(lit("aniso:7:"),
          i.cast("string"))), 1, 1).isin("0", "1", "2", "3"),
          lit(4.0)).otherwise(lit(0.25)))
      val a = e.select(col("vec_id"), scaled.as("v"))
      val model = Pca.fit(a, "v")
      require(model.explainedRatio(16) >= 0.6,
        s"the anisotropic slice must concentrate variance in the top " +
          s"16 components: ${model.explainedRatio(16)}")
      val red = Pca.transform(a, "v", model, 16, "y")
        .select(col("vec_id"), col("y"))
      val q = a.withColumn("h",
          md5(concat(lit("pcaq:"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      def top10(corpus: DataFrame, queries: DataFrame,
          vCol: String): DataFrame = {
        val c = corpus.select(col("vec_id").as("neighbor_id"),
          col(vCol).as("cv"))
        val qq = queries.select(col("vec_id").as("query_id"),
          col(vCol).as("qv"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id"))
        c.crossJoin(broadcast(qq))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(Similarity.cosine(col("cv"), col("qv")), 6).as("score"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10)
      }
      val exact = top10(a, q, "v").localCheckpoint(true)
      val approx = top10(red,
        red.join(q.select("vec_id"), Seq("vec_id")), "y")
      val recall = exact.select("query_id", "neighbor_id")
        .join(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / lit(10.0)).as("recall"))
        .localCheckpoint(true)
      val rs = recall.agg(min(col("recall")), avg(col("recall"))).head()
      require(rs.getDouble(0) >= 0.7 && rs.getDouble(1) >= 0.85,
        s"reduce-then-search must preserve recall on an anisotropic " +
          s"corpus: min=${rs.getDouble(0)} mean=${rs.getDouble(1)}")
      exact.join(recall.select(col("query_id"),
          (col("recall") >= 0.7).as("recall_ok")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("cosine_sim"), col("rank"), col("recall_ok"))
        .orderBy(col("query_id"), col("rank"))
    },

    // Product quantization + exact re-rank — the MEMORY half of the
    // production ANN stack (IVF routes, PQ compresses): 64 float32
    // dims become 16 small codes (16x smaller posting payloads; the
    // full vectors stay in the corpus table). ADC preselects a
    // 100-candidate pool per query from CODES ONLY (the encoded frame
    // carries no vector column — reconstruction rides literal
    // codebook lookups), then the pool re-ranks EXACTLY against the
    // corpus vectors. Same anisotropic premise as q188 (the raw
    // synthetic embeddings are isotropic, where NO reconstruction is
    // rank-preserving). Certs IN-QUERY: 16x compression geometry,
    // per-query pool recall >= 0.8 with mean >= 0.95 (measured 1.0 at
    // both gate SFs), and for fully-covered queries the re-ranked
    // top-10 IS the exact top-10. The oracle replays the anisotropic
    // transform + the exact search trace and pins every recall flag
    // TRUE — the codebooks are engine-local only in that DuckDB need
    // not re-derive them; the seeded md5 sample is deterministic.
    "q191_pq_adc_rerank" -> { (s, dir) =>
      val e = embs(s, dir)
      val scaled = transform(col("embedding"), (x, i) =>
        x.cast("double") * when(substring(md5(concat(lit("aniso:7:"),
          i.cast("string"))), 1, 1).isin("0", "1", "2", "3"),
          lit(4.0)).otherwise(lit(0.25)))
      val a = e.select(col("vec_id"), scaled.as("v"))
      val model = Pq.fit(a, "vec_id", "v", m = 16, ks = 64)
      require(model.compressionRatio == 16.0,
        s"64 float dims over 16 codes must compress 16x: " +
          s"${model.compressionRatio}")
      val enc = Pq.encode(a, "v", model)
      val q = a.withColumn("h",
          md5(concat(lit("pqq:"), col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      // the ADC pool→rerank chain and the exact brute-force leg are
      // independent scans of the same corpus — overlap them
      // (guide §2.6); both end in a pinning localCheckpoint
      val Seq((pool, reranked), (exact, _)) = Par[(DataFrame, DataFrame)](
        () => {
          val p = Pq.adcTopK(q, enc, "vec_id", "v",
            "pq_code", model, pool = 100).localCheckpoint(true)
          (p, Pq.rerankExact(p, a, q, "vec_id", "v", 10)
            .localCheckpoint(true))
        },
        () => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("query_id")
            .orderBy(col("score").desc, col("neighbor_id"))
          val e = a.select(col("vec_id").as("neighbor_id"),
              col("v").as("cv"))
            .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
              col("v").as("qv"))))
            .filter(col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              round(Similarity.cosine(col("cv"), col("qv")), 6)
                .as("score"))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 10)
            .localCheckpoint(true)
          (e, e)
        })
      val recall = exact.select("query_id", "neighbor_id")
        .join(pool.select(col("query_id"), col("neighbor_id"),
          lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg((sum(coalesce(col("hit"), lit(0))) / lit(10.0)).as("recall"))
        .localCheckpoint(true)
      val rs = recall.agg(min(col("recall")), avg(col("recall"))).head()
      require(rs.getDouble(0) >= 0.8 && rs.getDouble(1) >= 0.95,
        s"ADC pool-100 must cover the exact top-10: " +
          s"min=${rs.getDouble(0)} mean=${rs.getDouble(1)}")
      // where the pool fully covers, exact re-rank must RECOVER the
      // exact answer — the lossless-rerank contract PQ exists for
      val fullq = recall.filter(col("recall") >= 1.0)
        .select("query_id")
      val missed = exact.join(fullq, Seq("query_id"))
        .select("query_id", "neighbor_id")
        .join(reranked.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_anti").count()
      require(missed == 0,
        s"re-rank dropped $missed fully-covered exact neighbors")
      exact.join(recall.select(col("query_id"),
          (col("recall") >= 0.8).as("recall_ok")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          col("score").as("cosine_sim"), col("rank"), col("recall_ok"))
        .orderBy(col("query_id"), col("rank"))
    },

    // Incremental BM25 retrieval state — q159 recomputes collection
    // stats (df, avgdl, N) from scratch every run; on a churning
    // corpus those are exactly the mergeable aggregates the MV
    // machinery maintains, and the postings exactly the keyed rows
    // streamingApply maintains. The corpus is a VersionedTable; one
    // refresh folds an append + CDF delete + a term-adding update into
    // the postings/doclens tables (atomic idempotent commits, per-doc
    // net-last delta, preimage tokens drive the delete keys) and the
    // df/global stats views. Scoring reads ONLY maintained state: df
    // lookups, the one-row global view, a term-PRUNED postings scan
    // (kept < total pinned in-query) joined to doclens — never the
    // corpus. The oracle replays the churn and the full q159 BM25
    // recompute over the post-churn corpus — gating that maintained
    // stats score exactly like stats computed from scratch.
    "q187_bm25_incremental" -> { (s, dir) =>
      val f = IdxFixture.get(s, dir) // shared churned corpora (builder)
      val idx = f.bm25
      Bm25Index.refresh(s, idx)
      require(Bm25Index.watermark(s, idx) == 4L,
        "watermark must ride the postings commit")
      // the prune audit and the (eager) scoring read are independent
      // post-refresh reads — overlap them (guide §2.6)
      val Seq(auditE, topE) = Par[Any](
        () => Bm25Index.pruneAudit(s, idx, Seq("hash", "join", "spark")),
        () => Bm25Index.topN(s, idx, Seq("hash", "join", "spark"), 100))
      val (kept, total) = auditE.asInstanceOf[(Int, Int)]
      require(kept < total,
        s"term-clustered postings must file-prune the query scan: " +
          s"$kept/$total")
      topE.asInstanceOf[DataFrame]
        .orderBy(col("bm25").desc, col("doc_id"))
    },

    // Hybrid retrieval served ENTIRELY from maintained state — the
    // production form of q175 (which recomputes both legs from
    // scratch): after one churn timeline on each corpus, the lexical
    // leg reads the incremental BM25 stats/postings (q187's machinery)
    // and the vector leg full-probes the incrementally-maintained IVF
    // index (q186's), RRF-fused exactly like q175. The oracle replays
    // both churns, both from-scratch legs, and the fusion — gating
    // that a retrieval stack maintained from change feeds answers
    // exactly like one recomputed from the post-churn corpora.
    "q189_hybrid_indexed" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = IdxFixture.get(s, dir) // shared churned corpora (builder)
      // disjoint index state, eager legs: overlap the refresh pair,
      // then the two retrieval legs (guide §2.6)
      Par(() => IvfIndex.refresh(s, f.ivf),
        () => Bm25Index.refresh(s, f.bm25))
      require(IvfIndex.watermark(s, f.ivf) == 4L &&
        Bm25Index.watermark(s, f.bm25) == 4L,
        "both maintained indexes must sit at their corpus heads")
      val Seq(lex, vec) = Par[DataFrame](
        () => Bm25Index.topN(s, f.bm25,
          Seq("hash", "join", "spark"), 100),
        () => {
          val emb = VersionedTable.read(s, f.emb)
          // query vector: post-churn embedding of vec 42 (survives the
          // churn untouched: 42 % 7 != 2, 42 % 13 != 5)
          IvfIndex.probe(emb.filter(col("vec_id") === 42L),
              f.ivf, "vec_id", "embedding", k = 100, nprobe = 8)
            .select(col("neighbor_id").as("doc_id"),
              round(col("cosine_sim"), 6).as("cos"))
        })
      Similarity.rrfFuse(Seq(lex -> "bm25", vec -> "cos"), "doc_id",
        topN = 50)
    },

    // Maintained IVF-PQ under churn — q186's contract on COMPRESSED
    // lists: the posting payload is a 16-code PQ word (16x smaller
    // than the 64-float vector; at 100 TB the probed partitions are
    // what must fit executor memory), maintenance is the same
    // change-feed engine (the delta encodes against the FROZEN
    // generation's codebooks, one atomic OCC-pinned commit), and the
    // probe is ADC-preselect from codes alone → exact re-rank against
    // the corpus at the lists watermark. With a covering pool the
    // re-rank sees every probed candidate, so the full probe must
    // equal DuckDB brute force over the replayed post-churn corpus —
    // compression that provably costs nothing at full fidelity. The
    // bounded-pool recall VALUE is q191's story (these embeddings are
    // isotropic; preselection quality needs the anisotropic premise);
    // here the bounded leg pins shape only: k rows per query, drawn
    // from probed candidates.
    "q192_ivfpq_churn_maintain" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = IdxFixture.get(s, dir) // shared churned corpora (builder)
      val idx = f.pqIvf
      val lv = IvfIndex.refresh(s, idx)
      require(lv == 2L && IvfIndex.watermark(s, idx) == 4L,
        s"one atomic refresh commit carrying watermark 4, got " +
          s"version $lv @ ${IvfIndex.watermark(s, idx)}")
      val lists = VersionedTable.read(s, idx + "/lists")
      require(lists.columns.toSet ==
        Set("centroid_id", "neighbor_id", "pq_code"),
        s"pq lists must carry codes, not vectors: " +
          lists.columns.mkString(","))
      val corpus = VersionedTable.read(s, f.emb)
      val queries = corpus.filter(col("vec_id") >= 20 &&
        col("vec_id") < 40)
      // the prune audit and the two (eager) probes are independent
      // reads of the refreshed index — overlap them (guide §2.6)
      val Seq(auditE, boundedE, topkE) = Par[Any](
        () => IvfIndex.pruneAudit(s, idx, Seq(0)),
        () => IvfIndex.probe(queries, idx, "vec_id", "embedding",
          k = 5, nprobe = 8, pool = 40),
        () => IvfIndex.probe(queries, idx, "vec_id", "embedding",
          k = 5, nprobe = 8, pool = Int.MaxValue))
      val (kept, total) = auditE.asInstanceOf[(Int, Int)]
      require(kept < total,
        s"clustered pq lists must file-prune: $kept/$total")
      val bounded = boundedE.asInstanceOf[DataFrame]
      require(bounded.groupBy("query_id").count()
        .filter(col("count") =!= 5).isEmpty,
        "a bounded pool must still yield k rows per query")
      val topk = topkE.asInstanceOf[DataFrame]
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(round(col("cosine_sim"), 6).desc, col("neighbor_id"))
      topk.select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // FILTERED vector search — the production "top-k among rows
    // matching a predicate" (serve only lang='en', only post-cutoff
    // docs, ...): probe(where = pred) semi-joins candidates against
    // the predicate's ids at the lists watermark BEFORE the PQ pool
    // cut (pre-filter, not the pool-starving post-filter), then ranks
    // as usual. Full probe ≡ brute force over the FILTERED post-churn
    // corpus — and the raw-vector and PQ index modes must agree with
    // each other exactly (cross-validated in-query, one output rides
    // the oracle).
    "q193_filtered_ann" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = IdxFixture.get(s, dir) // shared churned corpora (builder)
      IvfIndex.refresh(s, f.ivf)
      IvfIndex.refresh(s, f.pqIvf)
      require(IvfIndex.watermark(s, f.ivf) == 4L &&
        IvfIndex.watermark(s, f.pqIvf) == 4L,
        "both index modes must sit at the corpus head")
      val corpus = VersionedTable.read(s, f.emb)
      val queries = corpus.filter(col("vec_id") >= 40 &&
        col("vec_id") < 60)
      val pred = col("vec_id") % 3 === 1
      def run(ix: String) = IvfIndex.probe(queries, ix, "vec_id",
          "embedding", k = 5, nprobe = 8, pool = Int.MaxValue,
          where = Some(pred))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"))
        .localCheckpoint(true)
      // both probes are eager and read disjoint indexes — overlap
      val Seq(raw, pq) = Par[DataFrame](
        () => run(f.ivf), () => run(f.pqIvf))
      require(Par.sameMultiset(raw, pq),
        "raw-vector and PQ filtered probes must agree exactly")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("cosine_sim").desc, col("neighbor_id"))
      pq.withColumn("rank", row_number().over(w))
        .orderBy(col("query_id"), col("rank"))
    },

    // AS-OF hybrid retrieval: the time-consistent form of q189. After
    // both corpora churn PAST an interior version (append → refresh →
    // delete + update → refresh), both retrieval legs answer AS OF
    // that interior version — BM25 walks all four index tables to the
    // snapshots consistent with it (topNAsOf), the IVF probe walks the
    // lists watermark to the matching generation (probeAsOf) — and the
    // fusion must equal the from-scratch hybrid over the historical
    // corpora (base + append only; the delete and update are invisible
    // even though the LIVE indexes have applied them). This is the
    // reproducibility contract a training-data pipeline needs: "the
    // retrieval run that built dataset v2" stays answerable after the
    // corpus moves on. Metadata walks only; same term-pruned /
    // centroid-pruned scans as the live path.
    "q190_asof_hybrid" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = AsOfFixture.get(s, dir) // pivot at corpus v2 (builder)
      // the two indexes are disjoint state and both legs are eager:
      // refresh pair, then lex+vec legs, each overlapped (guide §2.6)
      Par(() => IvfIndex.refresh(s, f.ivf),
        () => Bm25Index.refresh(s, f.bm25))
      require(IvfIndex.watermark(s, f.ivf) == 3L &&
        Bm25Index.watermark(s, f.bm25) == 3L,
        "both live indexes must sit PAST the asked version")
      require(IvfIndex.versionAt(s, f.ivf, 2L) == 2L &&
        VersionedTable.currentVersion(s, f.ivf + "/lists").get == 3L,
        "the as-of walk must land on the interior lists version, not " +
          "the head")
      val Seq(lex, vec) = Par[DataFrame](
        () => Bm25Index.topNAsOf(s, f.bm25,
          Seq("hash", "join", "spark"), 100, corpusVersion = 2L),
        () => {
          // the query vector ITSELF reads as-of: vec 42 at corpus v2
          // (later churn leaves it alive, but the read discipline
          // matters)
          val q42 = VersionedTable.read(s, f.emb, Some(2L))
            .filter(col("vec_id") === 42L)
          IvfIndex.probeAsOf(q42, f.ivf, "vec_id", "embedding",
              k = 100, nprobe = 8, corpusVersion = 2L)
            .select(col("neighbor_id").as("doc_id"),
              round(col("cosine_sim"), 6).as("cos"))
        })
      Similarity.rrfFuse(Seq(lex -> "bm25", vec -> "cos"), "doc_id",
        topN = 50)
    },

    // FILTERED + AS-OF hybrid retrieval over COMPRESSED lists — the
    // full composition a production training-data pipeline serves
    // ("re-run the retrieval that built dataset v2, but only over the
    // serving slice"), and the r17 verdict's top item: q193's
    // pre-filter discipline lands on the LEXICAL leg
    // (Bm25Index.topN/topNAsOf take `where`), then one query composes
    // all three axes on BOTH legs — time travel to an interior corpus
    // version, a predicate pre-filtering each leg's candidates at its
    // own watermark (never the pool-starving post-filter; pinned
    // in-query by cut dominance), and the vector leg probing IVF-PQ
    // codes with an exact re-rank. Collection stats stay whole-
    // collection (the predicate restricts candidates, not the
    // language model). The oracle replays the filtered historical
    // recompute of both legs and the RRF fusion from scratch.
    "q194_asof_filtered_hybrid" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = AsOfFixture.get(s, dir) // pivot at corpus v2 (builder)
      // disjoint index state, eager legs: overlap the refresh pair,
      // then the three retrieval reads (guide §2.6)
      Par(() => IvfIndex.refresh(s, f.pqIvf),
        () => Bm25Index.refresh(s, f.bm25))
      require(IvfIndex.watermark(s, f.pqIvf) == 3L &&
        Bm25Index.watermark(s, f.bm25) == 3L,
        "both live indexes must sit PAST the asked version")
      require(IvfIndex.versionAt(s, f.pqIvf, 2L) == 2L &&
        VersionedTable.currentVersion(s, f.pqIvf + "/lists").get == 3L,
        "the as-of walk must land on the interior PQ lists version, " +
          "not the head")
      val dPred = col("doc_id") % 3 === 1
      val ePred = col("vec_id") % 3 === 1
      val Seq(lexE, postE, vecE) = Par[DataFrame](
        () => Bm25Index.topNAsOf(s, f.bm25,
            Seq("hash", "join", "spark"), 100, corpusVersion = 2L,
            where = Some(dPred))
          .localCheckpoint(true),
        // PRE-filter proof leg: the unfiltered cut, post-filtered
        () => Bm25Index.topNAsOf(s, f.bm25,
            Seq("hash", "join", "spark"), 100, corpusVersion = 2L)
          .filter(col("doc_id") % 3 === 1),
        () => {
          val q42 = VersionedTable.read(s, f.emb, Some(2L))
            .filter(col("vec_id") === 42L)
          IvfIndex.probeAsOf(q42, f.pqIvf, "vec_id", "embedding",
              k = 100, nprobe = 8, corpusVersion = 2L,
              pool = Int.MaxValue, where = Some(ePred))
            .select(col("neighbor_id").as("doc_id"),
              round(col("cosine_sim"), 6).as("cos"))
        })
      val lex = lexE
      require(lex.filter(col("doc_id") % 3 =!= 1).isEmpty,
        "every lexical candidate must satisfy the predicate")
      // PRE-filter proof: the filtered cut dominates post-filtering
      // the unfiltered cut (any matching doc in the global top-100 is
      // also in the top-100 AMONG matching docs, never vice versa)
      val post = postE.count()
      require(lex.count() >= post && lex.count() > 0,
        s"where must pre-filter the cut: ${lex.count()} vs post $post")
      Similarity.rrfFuse(Seq(lex -> "bm25", vecE -> "cos"), "doc_id",
        topN = 50)
    },

    // nprobe AUTO-TUNING — the knob an IVF deployment actually turns:
    // the smallest nprobe whose recall@k clears a target on a seeded
    // query sample, decided from a measured ladder (one row per rung:
    // nprobe, hits, recall, meets_target, chosen). Recall is ONE
    // integer division (hits / |exact rows|) — no float-sum order
    // anywhere — and monotone in nprobe (candidate supersets under
    // the shared rounded total order; required in-query). The oracle
    // replays the ENTIRE tuning run in SQL — seeded centroids,
    // assignment, per-rung probes, recall arithmetic, and the argmin
    // decision itself (the q183 explicit-quantizer idiom, extended
    // from one operating point to the whole tuning curve).
    "q195_nprobe_tuning" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e.withColumn("h", md5(concat(lit("ivfq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      val cents: Seq[Seq[Double]] = e
        .withColumn("h", md5(concat(lit("ivfc:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(16)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq).toSeq
      val ladder = Seq(1, 2, 4, 8, 16)
      val (pick, lf) = Similarity.tuneNprobe(q, e, "vec_id",
        "embedding", k = 10, cents, ladder, target = 0.9)
      require(ladder.contains(pick), s"pick must be a rung: $pick")
      val rows = lf.select(col("nprobe"), col("recall"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
      require(rows(16) == 1.0,
        s"the full probe must be exact by construction: ${rows(16)}")
      require(rows.filter(_._1 < pick).values.forall(_ < 0.9) &&
        rows(pick) >= 0.9,
        s"pick $pick must be the MINIMAL rung clearing the target")
      lf.withColumn("chosen", col("nprobe") === pick)
        .orderBy(col("nprobe"))
    },

    // DEDUP-AWARE retrieval — crawl corpora are full of boilerplate
    // near-twins, and a retriever over them returns the same document
    // k times: collapse the BM25 candidate list to its best row per
    // duplicate cluster (here a first-10-token prefix fingerprint —
    // md5, engine- and oracle-identical; the clusterCol composes with
    // any certified dedup lane), then re-cut. In-query pins: the
    // collapse actually suppressed planted twins (survivors <
    // candidates), and every surviving fingerprint is unique. The
    // oracle replays the BM25 trace, the fingerprinting, the
    // per-cluster argmax, and the re-cut from scratch.
    "q196_dedup_retrieval" -> { (s, dir) =>
      val d = docs(s, dir)
      val cands = TextAnalysis.bm25TopN(d, "doc_id", "text",
        Seq("merge", "scan", "slow"), 100)
      val fp = d.filter(col("text").isNotNull)
        .select(col("doc_id"), md5(concat_ws(" ",
          slice(filter(split(col("text"), " "),
            t => length(t) > 0), 1, 10))).as("fp"))
      val joined = cands.join(fp, Seq("doc_id"))
        .localCheckpoint(true) // reused by the result and the pins
      val out = Retrieval.dedupTopN(joined, "doc_id", "bm25", "fp", 50)
        .localCheckpoint(true)
      val (nCand, nClusters) = (joined.count(),
        joined.select("fp").distinct().count())
      require(nClusters < nCand,
        s"the candidate list must contain planted twins: " +
          s"$nClusters clusters / $nCand candidates")
      require(out.select("fp").distinct().count() == out.count(),
        "every surviving fingerprint must be unique")
      out.select(col("doc_id"), col("bm25"), col("fp"), col("rank"))
        .orderBy(col("rank"))
    },

    // MMR DIVERSITY re-rank — the training-mix "don't sample the same
    // thing k times" knob with a dial (dedupTopN's graded complement):
    // 20 seeded queries retrieve a rounded-cosine top-50 pool, then
    // greedy maximal marginal relevance picks 10 per query trading
    // relevance against redundancy (λ = 0.7). The greedy trace is
    // fully deterministic (1e-6-rounded sims, pre-rounded rel, double
    // λ legs, lowest-id ties), so the ORACLE REPLAYS THE GREEDY LOOP
    // ITSELF with a recursive CTE — selection order and all, not just
    // the pool. In-query pin: rank 1 is the pure-relevance argmax
    // (the λ-weighted objective with an empty picked set).
    "q197_mmr_diversity" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e.withColumn("h", md5(concat(lit("mmrq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      val scored = e.select(col("vec_id").as("doc_id"),
          col("embedding").as("v"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))))
        .filter(col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"), col("v"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("rel"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("rel").desc, col("doc_id"))
      val pool = scored.withColumn("_pr", row_number().over(w))
        .filter(col("_pr") <= 50).drop("_pr")
        .localCheckpoint(true) // reused by mmr and the rank-1 pin
      val out = Similarity.mmrTopK(pool, "query_id", "doc_id", "v",
          "rel", k = 10, lambda = 0.7)
        .localCheckpoint(true)
      require(out.groupBy("query_id").count()
        .filter(col("count") =!= 10).isEmpty,
        "mmr must yield k rows per query")
      val relTop = pool.withColumn("_r", row_number().over(w))
        .filter(col("_r") === 1).select("query_id", "doc_id")
      require(out.filter(col("rank") === 1)
        .select("query_id", "doc_id")
        .exceptAll(relTop).isEmpty,
        "greedy step 1 must be the pure-relevance argmax")
      out.orderBy(col("query_id"), col("rank"))
    },

    // BATCHED lexical retrieval — the r18 verdict's #1 throughput
    // wall closed: Bm25Index.topNBatch scores a whole queries
    // DataFrame in ONE distributed job (the IvfIndex.probe batch
    // shape) — the union of query terms prunes the postings scan
    // through a constant-size range cover, scoring is one
    // per-(query, doc) aggregate, the cut one per-query window —
    // instead of one driver-coordinated job per query (a 10k-query
    // eval run was 10k sequential jobs). Composed with FILTERED
    // retrieval (`where` pre-filters candidates at the index
    // watermark; collection stats stay whole-collection). In-query
    // pins: every candidate satisfies the predicate, per-query cuts
    // are non-empty and bounded, and one probe query's batch rows
    // EQUAL the single-query topN's (probe parity re-checked on live
    // data; the full parity sweep is Bm25IndexSpec's). The oracle
    // replays the ENTIRE multi-query scoring — collection stats, per-
    // term idf, per-(query, doc) sums, the filter, and every cut.
    "q198_bm25_batch" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_q198/${java.util.UUID.randomUUID()}")
      val (tbl, idx) = (s"$base/docs", s"$base/bm25")
      VersionedTable.create(s, tbl,
        docs(s, dir).select(col("doc_id"), col("text")))
      Bm25Index.create(s, tbl, "doc_id", "text", idx)
      val vocab = Vector("join", "hash", "scan", "merge", "slow",
        "spark", "sort", "filter")
      def termsOf(q: Int): Seq[String] =
        Seq(vocab(q % 8), vocab((q + 3) % 8), vocab((q + 5) % 8))
      import s.implicits._
      val qs = (1 to 8).map(q => (q.toLong, termsOf(q)))
        .toDF("query_id", "terms")
      val pred = col("doc_id") % 3 === 0
      val out = Bm25Index.topNBatch(qs, idx, "query_id", "terms",
          topN = 20, where = Some(pred))
        .localCheckpoint(true) // reused by the result and the pins
      require(out.filter(col("doc_id") % 3 =!= 0).isEmpty,
        "every batched candidate must satisfy the predicate")
      val counts = out.groupBy("query_id").count()
        .select("count").as[Long].collect()
      require(counts.length == 8 && counts.forall(c => c > 0 && c <= 20),
        s"per-query cuts must be non-empty and bounded: ${counts.toSeq}")
      // probe parity on live data: one query's batch rows == its
      // single-query topN (same scores, same order)
      val single = Bm25Index.topN(s, idx, termsOf(3), 20,
        where = Some(pred)).select(col("doc_id"), col("bm25"))
      val batch3 = out.filter(col("query_id") === 3L)
        .select(col("doc_id"), col("bm25"))
      require(Par.sameMultiset(batch3, single),
        "batch rows for query 3 must equal the single-query topN")
      out.select(col("query_id"), col("doc_id"), col("bm25"),
          col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // BATCHED hybrid retrieval — the fusion leg of the q198 wall
    // closed: rrfFuse was single-query-shaped (one fusion per call,
    // with a single-partition rank window), so a bulk hybrid run was
    // N sequential fusions even after the lexical leg batched.
    // rrfFuseBatch fuses a whole query set in ONE plan with KEYED
    // windows (no single-partition exchange — spec-asserted on the
    // physical plan); here it fuses q198's batched lexical reader
    // with an explicit-quantizer IVF probe (the q183 idiom: genuinely
    // approximate AND engine-reproducible) for 8 seeded queries.
    // In-query pins: per-query cuts bounded and non-empty, and one
    // probe query's fused rows EQUAL the single-query rrfFuse of its
    // two lists (probe parity on live data). The oracle replays both
    // legs — the multi-query BM25 trace and the seeded-centroid IVF
    // probe — and the per-query fusion arithmetic from scratch.
    "q201_hybrid_batch" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_q201/${java.util.UUID.randomUUID()}")
      val (tbl, idx) = (s"$base/docs", s"$base/bm25")
      import s.implicits._
      VersionedTable.create(s, tbl,
        docs(s, dir).select(col("doc_id"), col("text")))
      Bm25Index.create(s, tbl, "doc_id", "text", idx)
      val e = embs(s, dir)
      val q = e.withColumn("h", md5(concat(lit("hbq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(8).drop("h")
        .localCheckpoint(true) // reused by both legs and the pins
      val cents: Seq[Seq[Double]] = e
        .withColumn("h", md5(concat(lit("hbc:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(16)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq).toSeq
      val vec = Similarity.ivfTopKExplicit(q, e, "vec_id", "embedding",
          k = 50, nprobe = 4, cents)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine_sim").as("cos"))
      val vocab = Vector("join", "hash", "scan", "merge", "slow",
        "spark", "sort", "filter")
      val vlit = typedlit(vocab)
      val qterms = q.select(col("vec_id").as("query_id"),
        array(
          element_at(vlit, (col("vec_id") % 8 + 1).cast("int")),
          element_at(vlit, ((col("vec_id") + 3) % 8 + 1).cast("int")))
          .as("terms"))
      val lex = Bm25Index.topNBatch(qterms, idx, "query_id", "terms",
          topN = 50)
        .select(col("query_id"), col("doc_id"), col("bm25"))
        .localCheckpoint(true) // reused by the fusion and the pin
      val fused = Similarity.rrfFuseBatch(
          Seq(lex -> "bm25", vec -> "cos"), "query_id", "doc_id",
          topN = 20)
        .localCheckpoint(true)
      val counts = fused.groupBy("query_id").count()
        .select("count").as[Long].collect()
      require(counts.length == 8 && counts.forall(c => c > 0 && c <= 20),
        s"per-query fused cuts must be non-empty and bounded: " +
          s"${counts.toSeq}")
      // probe parity on live data: the lowest query id's fused rows
      // equal the single-query fusion of its two lists
      val qid = q.agg(min(col("vec_id"))).head().getLong(0)
      val single = Similarity.rrfFuse(Seq(
          lex.filter(col("query_id") === qid)
            .select("doc_id", "bm25") -> "bm25",
          vec.filter(col("query_id") === qid)
            .select("doc_id", "cos") -> "cos"),
        "doc_id", topN = 20)
        .select(col("doc_id"), col("rank_1"), col("rank_2"),
          col("rrf_score"))
      val batchOne = fused.filter(col("query_id") === qid)
        .select(col("doc_id"), col("rank_1"), col("rank_2"),
          col("rrf_score"))
      require(Par.sameMultiset(batchOne, single),
        s"batched fusion for query $qid must equal the single fusion")
      fused.select(col("query_id"), col("doc_id"), col("rank_1"),
          col("rank_2"), col("rrf_score"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // BATCHED dedup-aware retrieval — q196 for a whole query set:
    // the single-query form's cluster-collapse and re-cut windows
    // were global (one page at a time); the batch form keys BOTH on
    // the query id (collapse per (query, cluster), re-cut per query),
    // so a bulk serving/training-mix run distributes across queries
    // with no single-partition exchange, and a duplicate document is
    // suppressed per query, not across queries (two queries may
    // legitimately both surface a cluster's best row). Candidates
    // come from the q198 batch reader; the cluster key is the q196
    // first-10-token prefix fingerprint. In-query pins: the collapse
    // suppressed planted twins, surviving fingerprints are unique PER
    // QUERY, and one query's rows equal the single-query dedupTopN.
    // The oracle replays the multi-query BM25 trace, fingerprinting,
    // per-(query, cluster) argmax, and every per-query re-cut.
    "q202_dedup_retrieval_batch" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_q202/${java.util.UUID.randomUUID()}")
      val (tbl, idx) = (s"$base/docs", s"$base/bm25")
      import s.implicits._
      val d = docs(s, dir)
      VersionedTable.create(s, tbl, d.select(col("doc_id"), col("text")))
      Bm25Index.create(s, tbl, "doc_id", "text", idx)
      val vocab = Vector("join", "hash", "scan", "merge", "slow",
        "spark", "sort", "filter")
      val qs = (1 to 6).map(q =>
        (q.toLong, Seq(vocab(q % 8), vocab((q + 3) % 8))))
        .toDF("query_id", "terms")
      val cands = Bm25Index.topNBatch(qs, idx, "query_id", "terms",
          topN = 100)
        .select(col("query_id"), col("doc_id"), col("bm25"))
      val fp = d.filter(col("text").isNotNull)
        .select(col("doc_id"), md5(concat_ws(" ",
          slice(filter(split(col("text"), " "),
            t => length(t) > 0), 1, 10))).as("fp"))
      val joined = cands.join(fp, Seq("doc_id"))
        .localCheckpoint(true) // reused by the result and the pins
      val out = Retrieval.dedupTopN(joined, "doc_id", "bm25", "fp",
          topN = 30, queryCol = Some("query_id"))
        .localCheckpoint(true)
      // four independent pin counts over pinned frames — one Par group
      val Seq(nCand, nClusters, outFp, outN) = Par[Long](
        () => joined.count(),
        () => joined.select("query_id", "fp").distinct().count(),
        () => out.select("query_id", "fp").distinct().count(),
        () => out.count())
      require(nClusters < nCand,
        s"the candidate lists must contain planted twins: " +
          s"$nClusters clusters / $nCand candidates")
      require(outFp == outN,
        "every surviving fingerprint must be unique per query")
      // probe parity: query 3's batch rows == the single-query form
      val single = Retrieval.dedupTopN(
          joined.filter(col("query_id") === 3L).drop("query_id"),
          "doc_id", "bm25", "fp", topN = 30)
        .select("doc_id", "bm25", "fp", "rank")
      val batch3 = out.filter(col("query_id") === 3L)
        .select("doc_id", "bm25", "fp", "rank")
      require(Par.sameMultiset(batch3, single),
        "batched dedup for query 3 must equal the single-query form")
      out.select(col("query_id"), col("doc_id"), col("bm25"),
          col("fp"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // DISTRIBUTED connected components — duplicate-cluster resolution
    // when the pair graph is past any driver. The edge set is
    // chain-shaped (each doc links to its successor within a lang,
    // segments broken where n_chars % 20 == 0): diameter ~ |lang|,
    // the regime where min-label propagation (O(diameter) rounds —
    // the pre-r19 distributed path) never reaches its fixpoint.
    // driverLimit = 0 forces the alternating large-star/small-star
    // contraction (Kiveris et al., SoCC'14): O(log^2 n) rounds
    // regardless of diameter, each round two groupBy-min + join
    // passes. The ORACLE replays the full transitive closure with a
    // recursive CTE and takes each node's component minimum — the
    // exact same labels, derived by a different algorithm. In-query
    // pin: the largest component is wider than the old 25-round
    // propagation budget, so this graph is the one the old path could
    // not answer.
    "q203_cc_star_clusters" -> { (s, dir) =>
      val d = docs(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val nxt = d.select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("nxt", lead(col("doc_id"), 1).over(w))
      val edges = nxt.filter(col("nxt").isNotNull &&
          col("n_chars") % 20 =!= 0)
        .select(col("doc_id").as("src"), col("nxt").as("dst"))
      val labels = Fuzzy.connectedComponents(
          d.select(col("doc_id").as("id")), edges, driverLimit = 0L)
        .localCheckpoint(true) // reused by the result and the pin
      val maxComponent = labels.groupBy("label").count()
        .agg(max("count")).head().getLong(0)
      // the diameter pin binds from the gate scale up (sf0.01's
      // 500-doc corpus); the 50-doc smoke corpus can't host a >25
      // chain at all, so the pin would reject the data, not the plan
      require(maxComponent > 25 || labels.count() < 500,
        s"the largest component ($maxComponent) must exceed the old " +
          "25-round propagation budget — otherwise this query no " +
          "longer exercises the diameter regime star contraction fixes")
      labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },

    // SKEW-PROOF per-group budget cap — capPerGroupBudget's selection
    // (keep while prior cumulative mass < budget, (ord, id) order)
    // without the widest-group wall: the windowed form sorts each
    // group on ONE task, and at corpus scale one stratum ("en") IS
    // half the corpus. Here a bounded (group × ord-bucket) histogram
    // places the threshold bucket per group on the driver; the bulk
    // keep/drop is a narrow FILTER (no sort, no window) and only the
    // threshold bucket's rows — ~1/1024 of a group — pay the window.
    // Order key = floor(n_chars / 50): deliberately NON-unique so the
    // doc_id tie-break is load-bearing on both engines. The oracle
    // replays the selection with the plain window cumsum — same rows,
    // different algorithm. In-query pins: at least one group survives
    // uncut and one is cut (both halves of the filter are exercised).
    "q204_group_cap_skew" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars"))
        .withColumn("ord", floor(col("n_chars") / lit(50.0)))
      // budget from the data (60% of the widest lang's mass, integer
      // arithmetic): the corpus's lang proportions are stable across
      // scale factors, so the uncut/cut pin below holds at any sf —
      // a fixed byte budget would cut EVERY lang at 10x data
      val budget = d.groupBy("lang").agg(sum("n_chars").as("m"))
        .agg(max("m")).head().getLong(0) * 6L / 10L
      val out = TextAnalysis.capPerGroupBudgetSkew(d, "lang", "ord",
          "doc_id", col("n_chars"), budget)
        .localCheckpoint(true) // reused by the result and the pins
      val keptPer = out.groupBy("lang").count()
        .withColumnRenamed("count", "kept")
      val inPer = d.groupBy("lang").count()
      val per = inPer.join(keptPer, Seq("lang"), "left")
        .select(col("count"), coalesce(col("kept"), lit(0L)).as("kept"))
        .collect()
      require(per.exists(r => r.getLong(1) == r.getLong(0)) &&
        per.exists(r => r.getLong(1) < r.getLong(0)),
        "the budget must leave at least one lang uncut and cut " +
          "another — otherwise the bulk filter's two halves are " +
          "untested")
      out.select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    },

    // HARD-NEGATIVE mining — the contrastive-training sampler: per
    // query, the top-scored candidates that are NOT positives, after
    // skipping the 3 highest-ranked non-positives (near the top an
    // unjudged doc is as likely a missing label as a true negative —
    // the standard de-noising band for dual-encoder training).
    // Positives derive from the embeddings' label column (same-label
    // docs are relevant), so the judgment set is engine-independent
    // arithmetic; scores are 1e-6-rounded cosines (the q197 parity
    // idiom). Batch-shaped: one anti-join on (query, doc) + one
    // query-keyed window mines all 10 queries in one job. The oracle
    // replays scoring, the anti-join, the skip band, and every cut.
    // In-query pins: no mined negative is a known positive; every
    // query fills its k (the pool dwarfs skipTop + k by construction).
    "q205_hard_negatives" -> { (s, dir) =>
      val e = embs(s, dir)
      val q = e.withColumn("h", md5(concat(lit("hnq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(10).drop("h")
      val scored = e.select(col("vec_id").as("doc_id"),
          col("embedding").as("v"), col("label").as("dl"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"), col("label").as("ql"))))
        .filter(col("query_id") =!= col("doc_id"))
        .select(col("query_id"), col("doc_id"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("score"),
          col("dl"), col("ql"))
        .localCheckpoint(true) // reused by run, positives, and pins
      val run = scored.select("query_id", "doc_id", "score")
      val positives = scored.filter(col("dl") === col("ql"))
        .select("query_id", "doc_id")
      val out = Retrieval.hardNegatives(run, positives, "query_id",
          "doc_id", "score", k = 10, skipTop = 3)
        .localCheckpoint(true)
      require(out.join(positives, Seq("query_id", "doc_id"),
          "left_semi").count() == 0L,
        "a mined negative is a known positive")
      require(out.select("query_id").distinct().count() == 10L &&
        out.count() == 100L,
        "every query must fill its k — the non-positive pool dwarfs " +
          "skipTop + k at every scale factor")
      out.select(col("query_id"), col("doc_id"), col("score"),
          col("neg_rank"))
        .orderBy(col("query_id"), col("neg_rank"))
    },

    // INCREMENTALLY-MAINTAINED duplicate clusters — full-recompute CC
    // per arrival batch is a whole-corpus shuffle each cycle at
    // 100 TB; Dedup.maintainClusters absorbs a batch touching only
    // the DELTA'S NEIGHBORHOOD (pruned reads through IdPredicate
    // covers, only touched clusters re-resolved, only changed labels
    // upserted). Timeline: docs split into 3 waves by doc_id % 3;
    // chain edges (consecutive doc_ids within a lang, segment break
    // at n_chars % 15 == 0) land in the batch of their LATEST
    // endpoint's wave — so batch 1 grows wave-0 clusters and batch 2
    // BRIDGES clusters built earlier (the min-id merge case). The
    // ORACLE knows nothing of the timeline: it replays the full
    // transitive closure over ALL edges with a recursive CTE — the
    // maintained table must land exactly there. In-query pins: the
    // receipts show batch 2 merged existing clusters, and some
    // maintained cluster spans all three waves.
    "q206_maintained_clusters" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val root = tmp(s, s"graft_q206/${java.util.UUID.randomUUID()}/labels")
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      val edgesAll = d.withColumn("nxt", lead(col("doc_id"), 1).over(w))
        .filter(col("nxt").isNotNull && col("n_chars") % 15 =!= 0)
        .select(col("doc_id").as("ida"), col("nxt").as("idb"))
        .localCheckpoint(true) // one timeline, three batch filters
      def wave(c: org.apache.spark.sql.Column) = pmod(c, lit(3))
      def batchOf = greatest(wave(col("ida")), wave(col("idb")))
      val wave0 = d.filter(wave(col("doc_id")) === 0)
        .select(col("doc_id").as("id"))
      VersionedTable.create(s, root, Dedup.resolveClusters(wave0, "id",
        edgesAll.filter(batchOf === 0)))
      val r1 = Dedup.maintainClusters(s, root, "id",
        d.filter(wave(col("doc_id")) === 1).select(col("doc_id").as("id")),
        edgesAll.filter(batchOf === 1))
      val r2 = Dedup.maintainClusters(s, root, "id",
        d.filter(wave(col("doc_id")) === 2).select(col("doc_id").as("id")),
        edgesAll.filter(batchOf === 2))
      val labels = VersionedTable.read(s, root).localCheckpoint(true)
      val nDocs = labels.count()
      // batch 2's edges include (wave-2, wave-0) links that bridge
      // clusters built in earlier batches — the merge path must have
      // actually run (the 50-doc smoke corpus is pin-exempt)
      require(r1.newRows > 0 && r2.newRows > 0, "empty waves")
      require(r2.touchedClusters >= 2 || nDocs < 500,
        s"batch 2 must merge existing clusters (touched " +
          s"${r2.touchedClusters}) — otherwise the maintenance path " +
          "under test degenerated to singleton inserts")
      val spanning = labels.withColumn("w", wave(col("id")))
        .groupBy("cluster_id")
        .agg(countDistinct(col("w")).as("nw"))
        .filter(col("nw") === 3).count()
      require(spanning > 0 || nDocs < 500,
        "some maintained cluster must span all three waves")
      labels.select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // SKEW-PROOF quota sampler — quotaSample's selection (the n
    // ascending-md5-rank rows per group, the eval-set constructor)
    // without the widest-stratum wall: the windowed form sorts each
    // group on ONE task; here a bounded (group × key-prefix-byte)
    // histogram places the threshold bucket per group, the bulk
    // keep/drop is a narrow filter, only the threshold bucket sorts,
    // and the final rank window runs over survivors (≤ n per group —
    // the SAMPLE size is the scale axis, not the stratum width).
    // Grouped by lang so "en" is the wide stratum. The oracle replays
    // the plain windowed rank — same rows, same ranks, different
    // algorithm.
    "q207_quota_sample_skew" -> { (s, dir) =>
      TextAnalysis.quotaSampleSkew(docs(s, dir)
          .select(col("doc_id"), col("lang"), col("source")),
          "lang", "doc_id", n = 25, seed = 7)
        .orderBy(col("lang"), col("sample_rank"))
    },

    // AS-OF retrieval EVALUATION — "audit the run that built dataset
    // v2": a training-data pipeline must be able to score a
    // HISTORICAL retrieval run (recall/precision/MRR/nDCG against
    // judgments) after the corpus moves on, not just re-execute it.
    // Both legs evaluate AT the interior version — the lexical run is
    // the BATCHED as-of read (topNBatch + corpusVersion: q198's
    // operator composed with time travel, 6 queries in one job), the
    // vector run probeAsOf at full coverage — and Retrieval.metrics
    // macro-averages each. In-query pins: both live watermarks sit
    // PAST the asked version (the evaluated run is genuinely
    // historical) and the as-of walk lands on the interior lists
    // version. The oracle rebuilds the v2 corpora from scratch,
    // replays both retrieval runs, the judgment derivation, and every
    // metric at every cutoff.
    "q200_asof_retrieval_eval" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val f = AsOfFixture.get(s, dir) // pivot at corpus v2 (builder)
      // disjoint index state: overlap the refresh pair (guide §2.6)
      Par(() => IvfIndex.refresh(s, f.ivf),
        () => Bm25Index.refresh(s, f.bm25))
      require(IvfIndex.watermark(s, f.ivf) == 3L &&
        Bm25Index.watermark(s, f.bm25) == 3L,
        "both live indexes must sit PAST the asked version")
      require(IvfIndex.versionAt(s, f.ivf, 2L) == 2L,
        "the as-of walk must land on the interior lists version")
      import s.implicits._
      // LEXICAL run: the q198 batch operator, time-traveled to v2
      val vocab = Vector("hash", "join", "spark", "merge", "scan",
        "slow")
      val qs = (1 to 6).map(q =>
        (q.toLong, Seq(vocab(q % 6), vocab((q + 2) % 6))))
        .toDF("query_id", "terms")
      // both retrieval runs are eager and read disjoint index state:
      // overlap them (guide §2.6); metrics stay lazy and ride the
      // final action
      val Seq(lexRun0, vecRun0) = Par[DataFrame](
        () => Bm25Index.topNBatch(qs, f.bm25, "query_id", "terms",
          topN = 20, corpusVersion = Some(2L)),
        () => {
          val e2v = VersionedTable.read(s, f.emb, Some(2L))
            .select(col("vec_id"), col("embedding"))
          val vqv = e2v.withColumn("h", md5(concat(lit("aeq:"),
              col("vec_id").cast("string"))))
            .orderBy(col("h"), col("vec_id")).limit(5).drop("h")
          IvfIndex.probeAsOf(vqv, f.ivf, "vec_id", "embedding",
            k = 20, nprobe = 8, corpusVersion = 2L)
        })
      val lexRun = lexRun0
        .select(col("query_id"), col("doc_id"), col("bm25"))
      // judgments derive from the HISTORICAL corpus itself (graded,
      // engine-independent arithmetic; unique per (query, doc))
      val qids = (1L to 6L).toDF("query_id")
      val lexQrels = VersionedTable.read(s, f.docTbl, Some(2L))
        .select(col("doc_id")).crossJoin(broadcast(qids))
        .filter((col("doc_id") + col("query_id")) % 11 === 0)
        .withColumn("rel", col("doc_id") % 3 + 1)
      val lexMetrics = Retrieval.metrics(lexRun, lexQrels, "query_id",
          "doc_id", "bm25", "rel", Seq(5, 10, 20))
        .withColumn("run", lit("lexical"))
      // VECTOR run: a seeded query sample read AT v2, probed as-of at
      // full coverage (nprobe = nlist ≡ brute force over the v2
      // snapshot — the oracle-replayable contract), scores rounded
      // BEFORE the metric ranking (the q27 discipline)
      val e2 = VersionedTable.read(s, f.emb, Some(2L))
        .select(col("vec_id"), col("embedding"))
      val vq = e2.withColumn("h", md5(concat(lit("aeq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(5).drop("h")
      val vecRun = vecRun0
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("score"))
      val vqids = vq.select(col("vec_id").as("query_id"))
      val vecQrels = e2.select(col("vec_id"))
        .crossJoin(broadcast(vqids))
        .filter((col("vec_id") + col("query_id")) % 9 === 0 &&
          col("vec_id") =!= col("query_id"))
        .withColumn("rel", col("vec_id") % 3 + 1)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("rel"))
      val vecMetrics = Retrieval.metrics(vecRun, vecQrels, "query_id",
          "neighbor_id", "score", "rel", Seq(5, 10, 20))
        .withColumn("run", lit("vector"))
      lexMetrics.unionByName(vecMetrics)
        .select(col("run"), col("k"), col("recall"), col("precision"),
          col("mrr"), col("ndcg"))
        .orderBy(col("run"), col("k"))
    },

    // DEPLOYED-PQ operating-point tuning — the r18 verdict's #3: the
    // q195 tuner measured RAW probes, but a PQ deployment's recall
    // depends on (nprobe, pool) TOGETHER (ADC preselection can starve
    // the exact re-rank however many lists are probed). Here the grid
    // measures the production read itself — IvfIndex.probe with ADC +
    // bounded re-rank per cell — against the index's own covering
    // probe (exact by the q192 contract), recall one integer
    // division, cost an integer model, pool-axis monotonicity
    // required structurally, and the pick is the minimal-cost cell
    // clearing target = 1.0. In-query pins: every cell CHEAPER than
    // the pick misses the target (the argmin re-verified from the
    // measured grid), and the chosen cell's read is EXACT — which is
    // what makes the final output engine-independent: the oracle
    // replays the exact top-k the tuned operating point must serve
    // (the q191 idiom — certify in-query, replay the exact leg).
    "q199_pq_operating_point" -> { (s, dir) =>
      import graft.sources.VersionedTable
      val base = tmp(s, s"graft_q199/${java.util.UUID.randomUUID()}")
      val (tbl, idx) = (s"$base/emb", s"$base/pq_ivf")
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      VersionedTable.create(s, tbl, e)
      IvfIndex.create(s, tbl, "vec_id", "embedding", nlist = 16, idx,
        pq = Some((16, 64)))
      val q = e.withColumn("h", md5(concat(lit("opq:"),
          col("vec_id").cast("string"))))
        .orderBy(col("h"), col("vec_id")).limit(20).drop("h")
      // 3×2 grid: both axes measured, 7 bounded probes total (the
      // spec's IvfIndexSpec grid is denser; the bench row stays lean)
      val ((np, p), grid) = IvfIndex.tuneOperatingPoint(q, idx,
        "vec_id", "embedding", k = 10, target = 1.0,
        nprobes = Seq(2, 8, 16), pools = Seq(20, 200))
      val cells = grid
        .select("nprobe", "pool", "recall", "cost").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
          r.getLong(3)))
      // the argmin, re-verified from the measured grid: every
      // strictly cheaper cell misses the target (fallback pick = the
      // covering config, which only happens when NO cell clears)
      val pickCost = cells.find(c => c._1 == np && c._2 == p).map(_._4)
      pickCost match {
        case Some(pc) =>
          require(cells.filter(_._4 < pc).forall(_._3 < 1.0),
            s"a cheaper cell clears the target: pick ($np, $p) at $pc")
          require(cells.find(c => c._1 == np && c._2 == p).get._3 == 1.0,
            "the picked cell must clear target = 1.0")
        case None =>
          require(np == 16 && p == Int.MaxValue &&
            cells.forall(_._3 < 1.0),
            s"a non-grid pick must be the covering fallback: ($np, $p)")
      }
      // the tuned operating point SERVES exactly: its read is the
      // exact top-k the oracle replays by brute force
      IvfIndex.probe(q, idx, "vec_id", "embedding", k = 10,
          nprobe = np, pool = p)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine_sim"), 6).as("cosine_sim"), col("rank"),
          lit(true).as("pick_minimal"))
        .orderBy(col("query_id"), col("rank"))
    },

    // PCA / whitening over the embedding corpus — the decorrelate-
    // before-quantize / reduce-before-index preprocessing leg. fit is
    // ONE distributed pass (partitions accumulate dim + dim² moment
    // partials; the 64×64 eigenproblem is driver-side by construction),
    // transform is k map-only codegen'd dot products. Certs IN-QUERY:
    // eigenvalues descending and summing to the data's total variance;
    // whitened top-8 projection has unit variance per component and
    // ~zero cross-covariance (the Jacobi solver's diagonalization,
    // measured on the actual output). The oracle replays the one
    // engine-independent numeric — total variance (trace) from the
    // raw embeddings — and pins every cert flag TRUE. (Measured but
    // deliberately NOT certified: reduce-then-search recall — the
    // synthetic embeddings are near-isotropic (top-24/64 components
    // carry ~50% of variance), so dimension reduction is not a
    // recall-preserving step on THIS corpus; the operator's claims
    // are algebraic, not a reduction recommendation.)
    "q185_pca_whitening" -> { (s, dir) =>
      val e = embs(s, dir)
      val k = 8
      val model = Pca.fit(e, "embedding")
      require((1 until model.dim).forall(j =>
        model.eigenvalues(j - 1) >= model.eigenvalues(j) - 1e-12),
        "eigenvalues must be descending")
      val trace = e.select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("i").agg(var_pop(col("x").cast("double")).as("v"))
        .agg(sum(col("v"))).head().getDouble(0)
      require(math.abs(model.eigenvalues.sum - trace) <=
        1e-9 * math.abs(trace),
        s"eigenvalue sum ${model.eigenvalues.sum} must equal the " +
          s"trace $trace — the model is not this data's covariance")
      val w = Pca.transform(e, "embedding", model, k, "y", whiten = true)
        .select((0 until k).map(j => col("y")(j).as(s"y$j")): _*)
      val pairs = for { i <- 0 until k; j <- i + 1 until k } yield (i, j)
      val aggs = (0 until k).map(j => var_pop(col(s"y$j")).as(s"v$j")) ++
        pairs.map { case (i, j) =>
          covar_pop(col(s"y$i"), col(s"y$j")).as(s"c${i}_$j") }
      val m = w.agg(aggs.head, aggs.tail: _*).head()
      val unitVar = (0 until k).forall(j =>
        math.abs(m.getDouble(j) - 1.0) < 1e-6)
      val decorrelated = pairs.indices.forall(p =>
        math.abs(m.getDouble(k + p)) < 1e-5)
      require(unitVar && decorrelated,
        s"whitened output must be unit-variance and decorrelated: $m")
      val rows = (0 until k).map(j => (j, unitVar, decorrelated,
        model.eigenvalues(j) >= model.eigenvalues.drop(j + 1)
          .headOption.getOrElse(Double.MinValue)))
      import s.implicits._
      rows.toDF("component", "unit_var", "decorrelated", "ordered_desc")
        .withColumn("total_var", round(lit(trace), 4))
        .orderBy(col("component"))
    },

    // Unigram LM quality score: per-doc mean token log-probability
    // under the corpus distribution — the cheap fluency proxy between
    // heuristic quality flags and a real LM.
    "q114_unigram_logprob" -> { (s, dir) =>
      TextAnalysis.unigramLogProbScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // First-order context LM scoring (Jelinek-Mercer interpolated
    // bigram) — the KenLM-style quality filter next to q114's
    // unigram; exact integer counts, λ = 0.5 (binary-exact literal),
    // 6-decimal rounding on the only sum-order-sensitive value.
    "q137_bigram_logprob" -> { (s, dir) =>
      TextAnalysis.bigramLogProbScore(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Token-distribution entropy — the Shannon low-diversity screen
    // next to q77's top-token ratio; exact counts, entropy and its
    // normalized ratio rounded at 6.
    "q138_token_entropy" -> { (s, dir) =>
      TextAnalysis.tokenEntropy(docs(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // Curation v4 — the round's new operators composed end-to-end
    // (the q64/q80/q99 composite discipline): C4 line filters strip
    // structure-level junk, the entropy screen drops the planted
    // spam docs whose SURVIVING lines are still low-diversity (the
    // case line rules cannot catch — 20 repeated tokens with valid
    // punctuation), and the temperature mix rebalances the skewed
    // grouping of what remains. Every stage replays in SQL, so the
    // composite is hash-certified like its parts.
    "q140_curation_v4" -> { (s, dir) =>
      val spamLine = "spam " * 19 + "spam.\n"
      val planted = docs(s, dir).filter(col("doc_id") < 400)
        .select(col("doc_id"), concat(
          lit("Meaningful first line for doc "), col("doc_id"),
          lit(" stays in."), lit("\n"),
          when(col("doc_id") % 3 === 0, lit(spamLine)).otherwise(lit("")),
          lit("short."), lit("\n"),
          lit("A second meaningful line survives too!")).as("text"))
      val cleaned = planted.select(col("doc_id"),
        array_join(TextAnalysis.cleanLines(col("text")), "\n")
          .as("clean_text"))
      val scored = TextAnalysis.tokenEntropy(cleaned, "doc_id", "clean_text")
      val survivors = scored.filter(col("entropy_ratio") >= 0.75)
        .select(col("doc_id"), col("entropy_ratio"))
        .withColumn("grp",
          floor(sqrt(col("doc_id").cast("double"))).cast("long"))
      TextAnalysis.temperatureQuota(survivors, "grp", "doc_id", seed = 13)
        .select(col("doc_id"), col("grp"), col("entropy_ratio"),
          col("mix_rank"))
        .orderBy(col("doc_id"))
    },

    // Percentile-relative quality gate: curation recipes cut at score
    // PERCENTILES (keep the top 75%), not absolute thresholds — a
    // corpus-relative cut adapts as the corpus shifts. The cut is the
    // exact interpolated p25 of the LM score (the q84 percentile
    // discipline: identical interpolation in both engines, rounded at
    // 4), broadcast as a single row; the gate itself is a projection.
    "q139_quality_percentile_gate" -> { (s, dir) =>
      val scores = TextAnalysis.unigramLogProbScore(docs(s, dir),
        "doc_id", "text")
      val cut = scores.agg(
        round(expr("percentile(mean_logprob, 0.25)"), 4).as("cut"))
      scores.crossJoin(broadcast(cut))
        .filter(col("mean_logprob") >= col("cut"))
        .select(col("doc_id"), col("mean_logprob"), col("cut"))
        .orderBy(col("doc_id"))
    },

    // Frozen-vocabulary LM scoring — q114's deployment shape: the
    // top-64 unigram distribution is trained once (vocab collect
    // bounded by construction), then scoring is a map-literal
    // projection with an OOV floor — ZERO exchanges (asserted
    // in-query), the form that runs unchanged under Structured
    // Streaming (StreamingSpec parity).
    "q127_unigram_frozen" -> { (s, dir) =>
      val d = docs(s, dir)
      val vocab = TextAnalysis.unigramVocab(d, "text", 64)
      val out = TextAnalysis.unigramScoreFrozen(
        d, "doc_id", "text", vocab, oovLogProb = -18.0)
      val plan = out.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"frozen scorer must be a map-only projection:\n$plan")
      out.orderBy(col("doc_id"))
    },

    // int8 embedding quantization: codes are exact integers (double
    // math, order-independent reductions), so the oracle recomputes
    // them and integer summaries compare exactly.
    "q65_embed_quantize" -> { (s, dir) =>
      embs(s, dir)
        .select(col("vec_id"),
          Similarity.quantizeInt8(col("embedding")).as("codes"))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long"))
            .as("code_sum"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"))
        .orderBy(col("vec_id"))
    },

    // Asymmetric containment dedup: |A∩B|/|A| >= 0.95 — catches the
    // small-doc-embedded-in-big-doc duplication symmetric Jaccard's
    // size-ratio filter throws away. Production shape: a batch (every
    // 10th doc) screened against the corpus; prefix-filtered
    // candidates under the ascending-document-frequency order, exact
    // verify; the oracle is the naive directional join.
    "q104_containment" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        array_distinct(Dedup.tokens(col("text"))).as("ws"))
      Dedup.containmentPairs(d.filter(col("doc_id") % 10 === 0), d,
          "doc_id", "ws", threshold = 0.95, blockCol = Some("lang"))
        .orderBy(col("ida"), col("idb"))
    },

    // Span-level exact substring dedup (Lee et al. 2107.06499 at
    // 8-token granularity): per doc, how many of its spans appear
    // verbatim elsewhere in the corpus. Shuffles carry md5 keys —
    // engine-portable, so the oracle replays them exactly.
    "q88_span_dedup" -> { (s, dir) =>
      Dedup.spanDupStats(docs(s, dir), "doc_id", "text",
          k = 8, minDocs = 2, flagPct = 50)
        .orderBy(col("doc_id"))
    },

    // SemDeDup-style semantic dedup end-to-end: planted perturbed twins
    // (the corpus has no natural near-dups) → lossless grid-blocked
    // cosine pairs → connected components → canonical keeper. The
    // oracle rebuilds the closure from the all-pairs join with a
    // recursive CTE (q78's discipline, over embeddings).
    "q89_semantic_dedup" -> { (s, dir) =>
      val e = embs(s, dir).select(col("vec_id"), col("embedding"))
      val pert = e.select((col("vec_id") + 100000).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + lit(0.001))
            .cast("float")),
          slice(col("embedding"), 2, 1000)).as("embedding"))
      // pinned once across sizing, blocking, verify broadcasts, and
      // the component resolution's node scan (guide §1.2)
      Similarity.semanticDedup(
          e.unionByName(pert).localCheckpoint(true), "vec_id", "embedding",
          threshold = 0.99)
        .orderBy(col("vec_id"))
    },

    // Per-source token-budget cap: every curation recipe's per-domain
    // ceiling — within each source, docs are taken in id order until
    // 800 tokens; exact integer window math, one hash exchange.
    "q91_source_cap" -> { (s, dir) =>
      TextAnalysis.capPerGroupBudget(docs(s, dir), "source", "doc_id",
          TextAnalysis.tokenCountWs(col("text")), budget = 800)
        .select(col("doc_id"), col("source"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },

    // The contamination screen at 100 TB shape: benchmark shingles →
    // Spark's own BloomFilterAggregate (one ~KB sketch) → corpus
    // prefilter as a pure projection → exact verify on the candidate
    // sliver. Bloom has no false negatives, so the result is PROVABLY
    // the exact contaminated set — the oracle recomputes it with full
    // joins and must agree row-for-row.
    "q96_bloom_contamination" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      TextAnalysis.contaminationScreenBloom(d,
          d.filter(col("doc_id") % 97 === 0), "doc_id", "sh",
          thresholdPct = 80)
        .orderBy(col("doc_id"))
    },

    // Document chunking for RAG/context windows: 32-token chunks at
    // stride 16 (50% overlap) — a pure per-row explode, all integer
    // arithmetic, chunk text rebuilt verbatim for the oracle.
    "q101_chunking" -> { (s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
          chunkSize = 32, stride = 16)
        .orderBy(col("doc_id"), col("chunk_index"))
    },

    // Curation pipeline v3 — the round's new operators composed in
    // production order: quality gate + duplicate-n-gram screen (both
    // pure projections, run first so everything downstream sees the
    // reduced corpus) → span-level substring dedup → bloom-prefiltered
    // benchmark decontamination → per-source token-budget cap. The
    // oracle replays every stage in SQL; drift anywhere breaks the hash.
    "q99_curation_v3" -> { (s, dir) =>
      val d = docs(s, dir)
      val (occ, rep) = TextAnalysis.repeatedNgramCounts(col("text"), 3)
      val base = d.filter(TextAnalysis.qualityOk(col("text")))
        .filter(!(rep * 100 >= occ * 50))
      val calmIds = Dedup.spanDupStats(base, "doc_id", "text",
          k = 8, minDocs = 2, flagPct = 50)
        .filter(!col("span_dup_flagged")).select("doc_id")
      val surv = base.join(calmIds, Seq("doc_id"), "left_semi")
      val bench = d.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      val contaminated = TextAnalysis.contaminationScreenBloom(
          surv.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh")),
          bench, "doc_id", "sh", thresholdPct = 80)
        .select("doc_id")
      val clean = surv.join(contaminated, Seq("doc_id"), "left_anti")
      TextAnalysis.capPerGroupBudget(clean, "source", "doc_id",
          TextAnalysis.tokenCountWs(col("text")), budget = 800)
        .select(col("doc_id"), col("source"), col("lang"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },

    // Count-min-sketch under the gate (the q85 HLL discipline): the
    // sketch estimate is deterministic (commutative counter merges),
    // so the per-term bound flag `exact <= est <= exact + eps*total`
    // is a stable, oracle-checkable claim; the oracle supplies the
    // exact counts and expects every flag true.
    "q97_cms_termcounts" -> { (s, dir) =>
      TextAnalysis.cmsTermCounts(docs(s, dir), "text",
          eps = 0.001, confidence = 0.99, seed = 42)
        .orderBy(col("term"))
    },

    // TF-IDF top-3 terms per document: integer tf/df, idf's ln is the
    // only float op — surfaced AND ranked at 6-decimal rounding (the
    // q27 cosine discipline; both engines' ln agree to ~1 ulp).
    "q92_tfidf" -> { (s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))
    },

    // Tokenizer-vocabulary coverage: top-20 corpus vocab by frequency
    // (TakeOrderedAndProject — never a single-partition shuffle of the
    // term table), per-doc OOV rate against it, integer-exact flag.
    "q93_vocab_oov" -> { (s, dir) =>
      TextAnalysis.vocabOovRate(docs(s, dir), "doc_id", "text",
          vocabSize = 20, flagPct = 30)
        .orderBy(col("doc_id"))
    },

    // Gopher's duplicate-n-gram screen, occurrence form: share of a
    // doc's 3-gram occurrences that repeat an earlier one — a pure
    // projection (token count + native distinct-shingle size).
    "q94_repeated_ngrams" -> { (s, dir) =>
      val (occ, rep) = TextAnalysis.repeatedNgramCounts(col("text"), 3)
      docs(s, dir)
        .select(col("doc_id"), occ.as("n_ngrams"), rep.as("n_repeated"))
        .withColumn("rep_flagged",
          col("n_repeated") * 100 >= col("n_ngrams") * 50)
        .orderBy(col("doc_id"))
    },

    // Incremental ingestion screen: a new batch (the tail of the
    // corpus + 50 planted copies of existing docs) anti-joined against
    // the existing corpus on normalized fingerprints — the planted
    // dups must vanish, the genuinely-new tail must survive.
    "q95_incremental_new" -> { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id") < 400)
      val batch = d.filter(col("doc_id") >= 400)
        .unionByName(d.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000))
      Dedup.newAgainstCorpus(batch, corpus, "text")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    "q30_term_freq" -> { (s, dir) =>
      TextAnalysis.termFrequencies(docs(s, dir), "text", minCount = 100L)
        .orderBy(col("term"))
    },

    "q31_term_lookup" -> { (s, dir) =>
      TextAnalysis.termLookup(docs(s, dir), "text", Seq("spark", "vector", "stream"))
        .select(col("doc_id"), size(col("matched_terms")).as("n_matched"))
        .orderBy(col("doc_id"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q19_dedup_exact" ->
      """SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |JOIN (SELECT lang, MIN(doc_id) AS doc_id FROM documents GROUP BY lang) k
        |  ON d.doc_id = k.doc_id
        |ORDER BY d.lang""".stripMargin,
    // q20/q22/q28 are xxhash64/LSH based → rows-only checks.
    "q27_ann_brute" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q21_jaccard_block" ->
      """WITH s AS (SELECT doc_id, lang,
        |    list_distinct(string_split(text, ' ')) AS ws FROM documents)
        |SELECT a.doc_id AS ida, b.doc_id AS idb, a.lang AS lang,
        |  len(list_intersect(a.ws, b.ws)) * 1.0
        |    / len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard_sim
        |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.ws, b.ws)) * 1.0
        |    / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.9
        |ORDER BY ida, idb""".stripMargin,
    "q60_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |    FROM documents),
        |sh AS (SELECT doc_id, lang,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1))))
        |      AS sh
        |  FROM s)
        |SELECT a.doc_id AS ida, b.doc_id AS idb, a.lang AS lang,
        |  len(list_intersect(a.sh, b.sh)) * 1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard_sim
        |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 1.0
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
        |ORDER BY ida, idb""".stripMargin,
    "q23_langid" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(t, w -> w IN ('the','a','is','and','of'))) AS score_en,
        |  len(list_filter(t, w -> w IN ('der','die','und','das','ist'))) AS score_de,
        |  len(list_filter(t, w -> w IN ('le','la','et','les','est'))) AS score_fr,
        |  len(list_filter(t, w -> w IN ('el','los','y','es','las'))) AS score_es
        |  FROM s)
        |SELECT doc_id, score_en, score_de, score_fr, score_es,
        |  CASE
        |    WHEN score_en >= score_de AND score_en >= score_fr
        |         AND score_en >= score_es AND score_en > 0 THEN 'en'
        |    WHEN score_de >= score_fr AND score_de >= score_es
        |         AND score_de > 0 THEN 'de'
        |    WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
        |    WHEN score_es > 0 THEN 'es'
        |    ELSE 'und' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q24_quality" ->
      """WITH s AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT doc_id,
        |  len(t) AS n_tokens,
        |  (length(text) - len(t) + 1) * 1.0 / len(t) AS mean_token_len,
        |  len(list_filter(t, w -> w IN ('the','a','is','and','of','to','in','that','it','for'))) * 1.0 / len(t) AS stopword_ratio,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        |    / greatest(length(text), 1) AS alpha_ratio
        |  FROM s)
        |SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, alpha_ratio,
        |  (n_tokens BETWEEN 10 AND 100000)
        |    AND (mean_token_len BETWEEN 2.0 AND 12.0)
        |    AND stopword_ratio >= 0.01 AS quality_ok
        |FROM m ORDER BY doc_id""".stripMargin,
    "q25_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  CAST(list_aggregate(list_transform(string_split(text, ' '),
        |      t -> CAST(ceil(len(t) / 4.0) AS BIGINT)), 'sum')
        |    + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS BIGINT)
        |    AS n_bpeish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS doc_fp,
        |  list_aggregate(list_transform(list_distinct(string_split(text, ' ')),
        |      t -> md5(t)), 'min') AS min_word_fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q47_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p)
        |SELECT x.vec_id AS ida, y.vec_id AS idb
        |FROM a x JOIN a y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99
        |ORDER BY ida, idb""".stripMargin,
    "q128_embed_neardup_multiblock" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p)
        |SELECT x.vec_id AS ida, y.vec_id AS idb
        |FROM a x JOIN a y ON x.vec_id < y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99
        |ORDER BY ida, idb""".stripMargin,
    // replays the engine's LSH exactly: md5-parity signs (q112's
    // convention), 32 bits -> 4 bands of 8, candidates share a band
    // key, exact-cosine verify — then audits vs the brute-force truth
    "q129_lsh_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |    WHERE vec_id < 500),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p),
        |ev AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM a),
        |sm AS (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
        |    CASE WHEN (strpos('0123456789abcdef', substring(md5(
        |        'rp:7:' || CAST(i.range AS VARCHAR) || ':' ||
        |        CAST(j.range AS VARCHAR)), 32, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(64) i, range(32) j),
        |bits AS (SELECT ev.vec_id, sm.j,
        |    CASE WHEN SUM(ev.x * sm.sgn) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM ev JOIN sm USING (i) GROUP BY ev.vec_id, sm.j),
        |bk AS (SELECT vec_id, j // 8 AS band,
        |    CAST(SUM(bit * (1 << (j % 8))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY vec_id, j // 8),
        |cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
        |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        |    AND x.vec_id < y.vec_id),
        |ex AS (SELECT x.vec_id AS ida, y.vec_id AS idb
        |  FROM a x JOIN a y ON x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99),
        |ap AS (SELECT c.ida, c.idb FROM cand c
        |  JOIN a x ON c.ida = x.vec_id JOIN a y ON c.idb = y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99),
        |cap AS (SELECT ex.ida, ex.idb, ap.ida IS NOT NULL AS captured
        |  FROM ex LEFT JOIN ap ON ex.ida = ap.ida AND ex.idb = ap.idb),
        |r AS (SELECT SUM(CASE WHEN captured THEN 1 ELSE 0 END) * 1.0
        |    / COUNT(*) AS recall FROM cap)
        |SELECT cap.ida, cap.idb, cap.captured, r.recall >= 0.95 AS recall_ok
        |FROM cap, r ORDER BY ida, idb""".stripMargin,
    "q130_semantic_dedup_approx" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p),
        |ev AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM a),
        |sm AS (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
        |    CASE WHEN (strpos('0123456789abcdef', substring(md5(
        |        'rp:7:' || CAST(i.range AS VARCHAR) || ':' ||
        |        CAST(j.range AS VARCHAR)), 32, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(64) i, range(32) j),
        |bits AS (SELECT ev.vec_id, sm.j,
        |    CASE WHEN SUM(ev.x * sm.sgn) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM ev JOIN sm USING (i) GROUP BY ev.vec_id, sm.j),
        |bk AS (SELECT vec_id, j // 8 AS band,
        |    CAST(SUM(bit * (1 << (j % 8))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY vec_id, j // 8),
        |cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
        |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        |    AND x.vec_id < y.vec_id),
        |ap AS (SELECT c.ida, c.idb FROM cand c
        |  JOIN a x ON c.ida = x.vec_id JOIN a y ON c.idb = y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99),
        |pairs AS (SELECT ida AS ia, idb AS ib FROM ap
        |  UNION ALL SELECT idb, ida FROM ap),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM a
        |  UNION
        |  SELECT p.ia, r.r FROM pairs p JOIN reach r ON p.ib = r.id)
        |SELECT id AS vec_id, min(r) AS cluster_id, id = min(r) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    // full bit-for-bit replay of the t=0.90 LSH audit: sign matrix,
    // 8x8-bit banding, bucket join, exact verify, AND the hyperplane-
    // model recall bound (Σp − 3σ) recomputed on the oracle's own
    // cosines — the q129 pattern at 64 planes
    "q144_lsh_neardup_t90" ->
      """WITH e AS (SELECT vec_id, embedding FROM (
        |    SELECT vec_id, embedding, ROW_NUMBER() OVER (
        |        PARTITION BY label
        |        ORDER BY md5('sm:' || CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |      FROM embeddings) WHERE rk <= 50),
        |ds(d, off) AS (VALUES (0.20, 100000), (0.30, 200000),
        |  (0.40, 300000), (0.47, 400000)),
        |pl AS (SELECT e.vec_id + ds.off AS vec_id,
        |    [CAST(e.embedding[k + 1] + (ds.d / 8.0) *
        |        (CASE WHEN CAST(strpos('0123456789abcdef', substring(md5(
        |            'pt:' || CAST(e.vec_id + ds.off AS VARCHAR) || ':' ||
        |            CAST(k AS VARCHAR)), 32, 1)) - 1 AS INT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END) AS FLOAT)
        |      for k in range(len(e.embedding))] AS embedding
        |  FROM e, ds),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM pl),
        |ev AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM a),
        |sm AS (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
        |    CASE WHEN (strpos('0123456789abcdef', substring(md5(
        |        'rp:7:' || CAST(i.range AS VARCHAR) || ':' ||
        |        CAST(j.range AS VARCHAR)), 32, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(64) i, range(64) j),
        |bits AS (SELECT ev.vec_id, sm.j,
        |    CASE WHEN SUM(ev.x * sm.sgn) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM ev JOIN sm USING (i) GROUP BY ev.vec_id, sm.j),
        |bk AS (SELECT vec_id, j // 8 AS band,
        |    CAST(SUM(bit * (1 << (j % 8))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY vec_id, j // 8),
        |cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
        |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        |    AND x.vec_id < y.vec_id),
        |ex AS (SELECT ida, idb, c FROM (
        |  SELECT x.vec_id AS ida, y.vec_id AS idb,
        |      list_cosine_similarity(x.embedding, y.embedding) AS c
        |    FROM a x JOIN a y ON x.vec_id < y.vec_id) WHERE c >= 0.90),
        |ap AS (SELECT c.ida, c.idb FROM cand c
        |  JOIN a x ON c.ida = x.vec_id JOIN a y ON c.idb = y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.90),
        |cap AS (SELECT ex.ida, ex.idb, ap.ida IS NOT NULL AS captured,
        |    1.0 - power(1.0 - power(1.0 - acos(LEAST(ex.c, 1.0)) / pi(),
        |      8), 8) AS p
        |  FROM ex LEFT JOIN ap ON ex.ida = ap.ida AND ex.idb = ap.idb),
        |r AS (SELECT SUM(CASE WHEN captured THEN 1 ELSE 0 END) AS got,
        |    SUM(p) AS ep, SUM(p * (1 - p)) AS vr FROM cap)
        |SELECT cap.ida, cap.idb, cap.ida // 100000 AS grade_a,
        |  cap.idb // 100000 AS grade_b, cap.captured,
        |  (r.got >= r.ep - 3.0 * sqrt(r.vr)) AS recall_ok
        |FROM cap, r ORDER BY ida, idb""".stripMargin,
    // the eligibility gate counts DISTINCT word-3-grams exactly like
    // the engine's token_shingles (split on ' ' keeping empties,
    // grams joined with chr(1), deduped)
    "q131_minhash_capture" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |    FROM documents WHERE doc_id < 300),
        |d AS (SELECT doc_id FROM tk
        |  WHERE len(t) >= 3 AND len(list_distinct(
        |    [t[i+1] || chr(1) || t[i+2] || chr(1) || t[i+3]
        |      for i in range(len(t) - 2)])) >= 30),
        |pl AS (
        |  SELECT doc_id AS ida, doc_id + 200000 AS idb,
        |    'identical' AS kind FROM d
        |  UNION ALL
        |  SELECT doc_id, doc_id + 300000, 'near' FROM d)
        |SELECT ida, idb, kind, TRUE AS captured, TRUE AS recall_ok,
        |  TRUE AS precision_ok
        |FROM pl ORDER BY ida, idb""".stripMargin,
    "q132_simhash_capture" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |    FROM documents WHERE doc_id < 300),
        |d AS (SELECT doc_id FROM tk
        |  WHERE len(t) >= 3 AND len(list_distinct(
        |    [t[i+1] || chr(1) || t[i+2] || chr(1) || t[i+3]
        |      for i in range(len(t) - 2)])) >= 30),
        |pl AS (
        |  SELECT doc_id AS ida, doc_id + 200000 AS idb,
        |    'identical' AS kind FROM d
        |  UNION ALL
        |  SELECT doc_id, doc_id + 300000, 'near' FROM d)
        |SELECT ida, idb, kind, TRUE AS capture_contract_ok
        |FROM pl ORDER BY ida, idb""".stripMargin,
    "q133_ann_twin_recall" ->
      """SELECT vec_id AS query_id, TRUE AS top1_is_twin
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,
    "q136_arrival_screen" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p),
        |ev AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM a),
        |sm AS (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
        |    CASE WHEN (strpos('0123456789abcdef', substring(md5(
        |        'rp:7:' || CAST(i.range AS VARCHAR) || ':' ||
        |        CAST(j.range AS VARCHAR)), 32, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(64) i, range(32) j),
        |bits AS (SELECT ev.vec_id, sm.j,
        |    CASE WHEN SUM(ev.x * sm.sgn) >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM ev JOIN sm USING (i) GROUP BY ev.vec_id, sm.j),
        |bk AS (SELECT vec_id, j // 8 AS band,
        |    CAST(SUM(bit * (1 << (j % 8))) AS BIGINT) AS bkey
        |  FROM bits GROUP BY vec_id, j // 8),
        |cand AS (SELECT DISTINCT x.vec_id AS batch_id, y.vec_id AS corpus_id
        |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
        |  WHERE x.vec_id >= 100000 AND y.vec_id < 100000)
        |SELECT c.batch_id, c.corpus_id FROM cand c
        |JOIN a x ON c.batch_id = x.vec_id
        |JOIN a y ON c.corpus_id = y.vec_id
        |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99
        |ORDER BY batch_id, corpus_id""".stripMargin,
    "q134_line_filters" ->
      """WITH p AS (SELECT doc_id,
        |    'Meaningful first line for doc ' || doc_id || ' stays in.'
        |      || chr(10) || 'Accept cookie policy now.' || chr(10)
        |      || 'short.' || chr(10) || substr(text, 1, 40) || chr(10)
        |      || 'A second meaningful line survives too!' AS text
        |  FROM documents WHERE doc_id < 400),
        |f AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM p),
        |k AS (SELECT doc_id, len(ls) AS n_lines,
        |    list_filter(ls, l -> len(trim(l)) > 0
        |      AND right(trim(l), 1) IN ('.', '!', '?')
        |      AND len(string_split(trim(l), ' ')) >= 3
        |      AND NOT contains(lower(trim(l)), 'cookie')
        |      AND NOT contains(lower(trim(l)), 'javascript')
        |      AND NOT contains(lower(trim(l)), 'terms of use')
        |      AND NOT contains(lower(trim(l)), 'privacy policy')) AS kept
        |  FROM f)
        |SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM k ORDER BY doc_id""".stripMargin,
    "q135_temperature_mix" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(floor(sqrt(doc_id)) AS BIGINT) AS grp FROM documents),
        |c AS (SELECT grp, COUNT(*) AS group_n FROM d GROUP BY grp),
        |m AS (SELECT min(group_n) AS nmin FROM c),
        |r AS (SELECT d.doc_id, d.grp, c.group_n,
        |    CAST(round(sqrt(m.nmin * c.group_n)) AS BIGINT) AS mix_quota,
        |    CAST(row_number() OVER (PARTITION BY d.grp
        |      ORDER BY md5('tq:11:' || d.doc_id), d.doc_id) AS INT)
        |      AS mix_rank
        |  FROM d, c, m WHERE d.grp = c.grp)
        |SELECT doc_id, grp, group_n, mix_quota, mix_rank
        |FROM r WHERE mix_rank <= mix_quota ORDER BY doc_id""".stripMargin,
    "q29_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS digest,
        |  0 AS width, 0 AS height, FALSE AS ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "q55_image_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(1 + doc_id % 64 AS INT) AS width,
        |  CAST(1 + doc_id % 48 AS INT) AS height,
        |  TRUE AS ok
        |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin,
    "q59_image_resize" ->
      """WITH src AS (SELECT doc_id AS media_id,
        |    1 + doc_id % 64 AS w0, 1 + doc_id % 48 AS h0
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT media_id, w0, h0,
        |    least(16.0 / w0, 16.0 / h0) AS sc FROM src)
        |SELECT media_id,
        |  CAST(CASE WHEN w0 <= 16 AND h0 <= 16 THEN w0
        |    ELSE greatest(1, round(w0 * sc)) END AS INT) AS width,
        |  CAST(CASE WHEN w0 <= 16 AND h0 <= 16 THEN h0
        |    ELSE greatest(1, round(h0 * sc)) END AS INT) AS height,
        |  TRUE AS ok
        |FROM s ORDER BY media_id""".stripMargin,
    "q73_pii_redact" ->
      """WITH p AS (SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com or 555-' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    '-1234 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM p ORDER BY doc_id""".stripMargin,
    "q74_contamination" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1)))) AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |bsh AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 97 = 0),
        |dsh AS (SELECT doc_id, unnest(sh) AS sh FROM s),
        |hits AS (SELECT doc_id, count(*) AS n_hit
        |  FROM dsh JOIN bsh USING (sh) GROUP BY doc_id)
        |SELECT s.doc_id, len(sh) AS n_shingles,
        |  coalesce(n_hit, 0) AS n_hit,
        |  coalesce(n_hit, 0) * 100 >= len(sh) * 80 AND len(sh) > 0
        |    AS contaminated
        |FROM s LEFT JOIN hits ON s.doc_id = hits.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "q75_stratified_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id % 10 <
        |  CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 10 ELSE 5 END
        |ORDER BY doc_id""".stripMargin,
    "q79_corpus_shuffle" ->
      """SELECT doc_id, md5('seed42' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q87_mix_report" ->
      """WITH m AS (SELECT source, lang, text,
        |    string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT source, lang, text,
        |    CASE WHEN len(t) BETWEEN 10 AND 100000
        |      AND (length(text) - len(t) + 1) * 1.0 / len(t)
        |        BETWEEN 2.0 AND 12.0
        |      AND len(list_filter(t, w -> w IN ('the','a','is','and','of',
        |          'to','in','that','it','for'))) * 1.0 / len(t) >= 0.01
        |      THEN 1 ELSE 0 END AS ok,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        |    CAST(len(t) AS BIGINT) AS toks
        |  FROM m)
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(ok) AS BIGINT) AS n_quality,
        |  COUNT(DISTINCT fp) AS n_unique,
        |  CAST(SUM(toks) AS BIGINT) AS n_tokens
        |FROM q GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    "q80_curation_v2" ->
      """WITH s AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t
        |    FROM documents),
        |m AS (SELECT doc_id, lang, text,
        |    len(t) AS n_tokens,
        |    (length(text) - len(t) + 1) * 1.0 / len(t) AS mean_token_len,
        |    len(list_filter(t, w -> w IN ('the','a','is','and','of','to',
        |        'in','that','it','for'))) * 1.0 / len(t) AS stopword_ratio
        |  FROM s),
        |p AS (SELECT doc_id, lang,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM m
        |  WHERE (n_tokens BETWEEN 10 AND 100000)
        |    AND (mean_token_len BETWEEN 2.0 AND 12.0)
        |    AND stopword_ratio >= 0.01),
        |g AS (SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM p)
        |  GROUP BY 1, 2),
        |calm AS (SELECT doc_id FROM (
        |    SELECT doc_id, sum(c) AS n, max(c) AS top FROM g GROUP BY 1)
        |  WHERE NOT (top * 100 >= n * 20)),
        |f AS (SELECT p.doc_id, p.lang, p.text,
        |    md5(lower(regexp_replace(trim(p.text), '\s+', ' ', 'g'))) AS doc_fp
        |  FROM p JOIN calm ON p.doc_id = calm.doc_id),
        |d AS (SELECT *, row_number() OVER (PARTITION BY doc_fp
        |    ORDER BY doc_id) AS rn FROM f),
        |mix AS (SELECT doc_id, text FROM d WHERE rn = 1
        |  AND doc_id % 10 < CASE lang WHEN 'en' THEN 5 ELSE 10 END),
        |t2 AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM mix),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_offset
        |  FROM t2)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 2048 AS bin_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q120_cluster_best" ->
      """WITH RECURSIVE s AS (SELECT doc_id, lang, n_chars,
        |    string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1))))
        |      AS sh
        |  FROM s),
        |pairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT p.ia, r.r FROM pairs p JOIN reach r ON p.ib = r.id),
        |lab AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |ranked AS (SELECT l.doc_id, l.cluster_id,
        |    row_number() OVER (PARTITION BY l.cluster_id
        |      ORDER BY s.n_chars DESC, l.doc_id) AS rn
        |  FROM lab l JOIN s ON l.doc_id = s.doc_id)
        |SELECT doc_id, cluster_id, rn = 1 AS keep
        |FROM ranked ORDER BY doc_id""".stripMargin,
    "q78_dedup_clusters" ->
      """WITH RECURSIVE s AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |    FROM documents),
        |sh AS (SELECT doc_id, lang, list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1))))
        |      AS sh
        |  FROM s),
        |pairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 1.0
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM s
        |  UNION
        |  SELECT p.ia, r.r FROM pairs p JOIN reach r ON p.ib = r.id)
        |SELECT id AS doc_id, min(r) AS cluster_id, id = min(r) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    "q77_repetition" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents),
        |g AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    max(c) AS top_token_count, count(*) AS n_distinct_tokens
        |  FROM g GROUP BY 1)
        |SELECT doc_id, n_tokens, top_token_count, n_distinct_tokens,
        |  top_token_count * 100 >= n_tokens * 20 AS repetitive
        |FROM a ORDER BY doc_id""".stripMargin,
    "q76_seq_packing" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, start_offset,
        |  start_offset // 2048 AS bin_id
        |FROM c ORDER BY doc_id""".stripMargin,
    // q61/q72 full-probe IVF is exhaustive — the brute-force oracle
    // applies verbatim (same rounding and tie-break discipline as q27);
    // q72 additionally runs k-means training first, which cannot change
    // an exhaustive search's result.
    "q72_ann_ivf_trained" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q61_ann_ivf" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q62_audio_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(1000 + (doc_id % 500) * 4 AS BIGINT) AS n_frames,
        |  CAST((1000 + (doc_id % 500) * 4) * 1000
        |    // (8000 + (doc_id % 8) * 1000) AS BIGINT) AS duration_ms,
        |  TRUE AS ok
        |FROM documents WHERE doc_id < 200 ORDER BY media_id""".stripMargin,
    "q106_audio_segments" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |    CAST(1000 + (doc_id % 500) * 4 AS BIGINT) AS frames,
        |    CAST(1 + doc_id % 2 AS INT) AS ch
        |  FROM documents WHERE doc_id < 200),
        |s AS (SELECT media_id, frames, ch,
        |    unnest(generate_series(0,
        |      CAST((frames + 799) // 800 AS INT) - 1)) AS seg_index
        |  FROM d)
        |SELECT media_id, CAST(seg_index AS INT) AS seg_index,
        |  CAST(seg_index * 800 AS BIGINT) AS start_frame,
        |  CAST(least(800, frames - seg_index * 800) AS BIGINT)
        |    AS n_seg_frames,
        |  CAST(least(800, frames - seg_index * 800) * ch * 2 AS BIGINT)
        |    AS n_seg_bytes,
        |  TRUE AS ok
        |FROM s ORDER BY media_id, seg_index""".stripMargin,
    "q63_frame_sample" ->
      """WITH d AS (SELECT doc_id AS media_id, 3 + doc_id % 4 AS nf
        |    FROM documents WHERE doc_id < 100),
        |f AS (SELECT media_id,
        |    unnest(generate_series(0, nf - 1)) AS frame_index FROM d)
        |SELECT media_id, frame_index,
        |  CAST(4 + (media_id + frame_index) % 8 AS INT) AS width,
        |  CAST(3 + (media_id + frame_index) % 6 AS INT) AS height,
        |  TRUE AS ok
        |FROM f WHERE frame_index % 2 = 0
        |ORDER BY media_id, frame_index""".stripMargin,
    "q107_label_centroids" ->
      """WITH e AS (SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS val FROM embeddings)
        |SELECT label, dim, round(avg(val), 6) AS mean_value
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q123_decontaminate_excise" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
        |    FROM documents WHERE doc_id % 97 <> 0),
        |bd AS (SELECT string_split(text, ' ') AS t
        |    FROM documents WHERE doc_id % 97 = 0),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 8, 0) + 1),
        |      i -> array_to_string(t[i : least(i + 7, len(t))], chr(1)))))
        |      AS sh
        |  FROM bd),
        |starts AS (SELECT doc_id, unnest(generate_series(1,
        |      greatest(len(t) - 8, 0) + 1)) AS i, t FROM d),
        |hits AS (SELECT s.doc_id, s.i, len(s.t) AS n FROM starts s
        |  JOIN bsh ON array_to_string(s.t[s.i : least(s.i + 7, len(s.t))],
        |    chr(1)) = bsh.sh),
        |cov AS (SELECT DISTINCT doc_id, i + o.off AS p
        |  FROM hits, (SELECT unnest(generate_series(0, 7)) AS off) o
        |  WHERE i + o.off <= n),
        |tok AS (SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
        |    FROM d),
        |tok2 AS (SELECT doc_id, p, t[p] AS tokv FROM tok),
        |kept AS (SELECT t2.doc_id, t2.p, t2.tokv FROM tok2 t2
        |  LEFT JOIN cov c ON t2.doc_id = c.doc_id AND t2.p = c.p
        |  WHERE c.p IS NULL),
        |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(tokv, ' ' ORDER BY p) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
        |  CAST(len(d.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM d LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q117_quota_sample" ->
      """WITH r AS (SELECT doc_id, source, lang,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('qs:11:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT doc_id, source, lang, CAST(sample_rank AS INT) AS sample_rank
        |FROM r WHERE sample_rank <= 30
        |ORDER BY source, sample_rank""".stripMargin,
    "q189_hybrid_indexed" ->
      """WITH dbase AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |dgrown AS (SELECT doc_id, text FROM dbase
        |  UNION ALL SELECT doc_id + 1000000, text FROM dbase
        |  WHERE doc_id % 10 = 3),
        |dalive AS (SELECT doc_id, text FROM dgrown WHERE doc_id % 7 <> 2),
        |dcorpus AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' spark spark'
        |         ELSE text END AS text
        |  FROM dalive),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM dcorpus),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id),
        |lex AS (SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
        |  ORDER BY bm25 DESC, doc_id LIMIT 100),
        |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_1 FROM lex),
        |ebase AS (SELECT vec_id, embedding FROM embeddings),
        |egrown AS (SELECT vec_id, embedding FROM ebase
        |  UNION ALL SELECT vec_id + 100000, embedding FROM ebase
        |  WHERE vec_id % 10 = 3),
        |ealive AS (SELECT vec_id, embedding FROM egrown
        |  WHERE vec_id % 7 <> 2),
        |ecorpus AS (SELECT vec_id,
        |    CAST(CASE WHEN vec_id % 13 = 5 THEN list_reverse(embedding)
        |         ELSE embedding END AS DOUBLE[]) AS v
        |  FROM ealive),
        |vec AS (SELECT c.vec_id AS doc_id,
        |    list_cosine_similarity(c.v,
        |      (SELECT v FROM ecorpus WHERE vec_id = 42)) AS rawcs
        |  FROM ecorpus c WHERE c.vec_id <> 42
        |  ORDER BY rawcs DESC, doc_id LIMIT 100),
        |vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY round(rawcs, 6) DESC, doc_id) AS INT) AS rank_2
        |  FROM vec),
        |fu AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    l.rank_1, v.rank_2,
        |    round(COALESCE(1.0 / (60 + l.rank_1), 0)
        |        + COALESCE(1.0 / (60 + v.rank_2), 0), 9) AS rrf_score
        |  FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rank_1, rank_2, rrf_score FROM fu
        |ORDER BY rrf_score DESC, doc_id LIMIT 50""".stripMargin,
    "q193_filtered_ann" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |grown AS (SELECT vec_id, embedding FROM base
        |  UNION ALL SELECT vec_id + 100000, embedding FROM base
        |  WHERE vec_id % 10 = 3),
        |alive AS (SELECT vec_id, embedding FROM grown WHERE vec_id % 7 <> 2),
        |corpus AS (SELECT vec_id,
        |    CAST(CASE WHEN vec_id % 13 = 5 THEN list_reverse(embedding)
        |         ELSE embedding END AS DOUBLE[]) AS v
        |  FROM alive),
        |q AS (SELECT vec_id, v FROM corpus
        |  WHERE vec_id >= 40 AND vec_id < 60),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN corpus c
        |  WHERE q.vec_id <> c.vec_id AND c.vec_id % 3 = 1),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q192_ivfpq_churn_maintain" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |grown AS (SELECT vec_id, embedding FROM base
        |  UNION ALL SELECT vec_id + 100000, embedding FROM base
        |  WHERE vec_id % 10 = 3),
        |alive AS (SELECT vec_id, embedding FROM grown WHERE vec_id % 7 <> 2),
        |corpus AS (SELECT vec_id,
        |    CAST(CASE WHEN vec_id % 13 = 5 THEN list_reverse(embedding)
        |         ELSE embedding END AS DOUBLE[]) AS v
        |  FROM alive),
        |q AS (SELECT vec_id, v FROM corpus
        |  WHERE vec_id >= 20 AND vec_id < 40),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN corpus c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q190_asof_hybrid" ->
      """WITH dbase AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |dcorpus AS (SELECT doc_id, text FROM dbase
        |  UNION ALL SELECT doc_id + 1000000, text FROM dbase
        |  WHERE doc_id % 10 = 4),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM dcorpus),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id),
        |lex AS (SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
        |  ORDER BY bm25 DESC, doc_id LIMIT 100),
        |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_1 FROM lex),
        |ebase AS (SELECT vec_id, embedding FROM embeddings),
        |ecorpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT vec_id, embedding FROM ebase
        |    UNION ALL SELECT vec_id + 100000, embedding FROM ebase
        |    WHERE vec_id % 10 = 4)),
        |vec AS (SELECT c.vec_id AS doc_id,
        |    list_cosine_similarity(c.v,
        |      (SELECT v FROM ecorpus WHERE vec_id = 42)) AS rawcs
        |  FROM ecorpus c WHERE c.vec_id <> 42
        |  ORDER BY rawcs DESC, doc_id LIMIT 100),
        |vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY round(rawcs, 6) DESC, doc_id) AS INT) AS rank_2
        |  FROM vec),
        |fu AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    l.rank_1, v.rank_2,
        |    round(COALESCE(1.0 / (60 + l.rank_1), 0)
        |        + COALESCE(1.0 / (60 + v.rank_2), 0), 9) AS rrf_score
        |  FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rank_1, rank_2, rrf_score FROM fu
        |ORDER BY rrf_score DESC, doc_id LIMIT 50""".stripMargin,
    "q194_asof_filtered_hybrid" ->
      """WITH dbase AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |dcorpus AS (SELECT doc_id, text FROM dbase
        |  UNION ALL SELECT doc_id + 1000000, text FROM dbase
        |  WHERE doc_id % 10 = 4),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM dcorpus),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id),
        |lex AS (SELECT doc_id, bm25 FROM sc
        |  WHERE bm25 > 0 AND doc_id % 3 = 1
        |  ORDER BY bm25 DESC, doc_id LIMIT 100),
        |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_1 FROM lex),
        |ebase AS (SELECT vec_id, embedding FROM embeddings),
        |ecorpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT vec_id, embedding FROM ebase
        |    UNION ALL SELECT vec_id + 100000, embedding FROM ebase
        |    WHERE vec_id % 10 = 4)),
        |vec AS (SELECT c.vec_id AS doc_id,
        |    list_cosine_similarity(c.v,
        |      (SELECT v FROM ecorpus WHERE vec_id = 42)) AS rawcs
        |  FROM ecorpus c WHERE c.vec_id <> 42 AND c.vec_id % 3 = 1
        |  ORDER BY rawcs DESC, doc_id LIMIT 100),
        |vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY round(rawcs, 6) DESC, doc_id) AS INT) AS rank_2
        |  FROM vec),
        |fu AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    l.rank_1, v.rank_2,
        |    round(COALESCE(1.0 / (60 + l.rank_1), 0)
        |        + COALESCE(1.0 / (60 + v.rank_2), 0), 9) AS rrf_score
        |  FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rank_1, rank_2, rrf_score FROM fu
        |ORDER BY rrf_score DESC, doc_id LIMIT 50""".stripMargin,
    "q197_mmr_diversity" ->
      """WITH RECURSIVE q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings
        |  ORDER BY md5('mmrq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |pool AS (SELECT query_id, doc_id, v, rel FROM (
        |  SELECT q.query_id, e.vec_id AS doc_id,
        |    CAST(e.embedding AS DOUBLE[]) AS v,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS rel,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(q.qv AS DOUBLE[])), 6) DESC, e.vec_id) AS pr
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id) WHERE pr <= 50),
        |state AS (
        |  SELECT query_id, 0 AS step, CAST([] AS BIGINT[]) AS picked
        |  FROM (SELECT DISTINCT query_id FROM pool)
        |  UNION ALL
        |  SELECT s.query_id, s.step + 1, list_append(s.picked, (
        |      SELECT c.doc_id FROM pool c
        |      WHERE c.query_id = s.query_id
        |        AND NOT list_contains(s.picked, c.doc_id)
        |      ORDER BY CAST(0.7 AS DOUBLE) * c.rel
        |          - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))
        |          * COALESCE((SELECT MAX(
        |              round(list_cosine_similarity(c.v, p.v), 6))
        |            FROM pool p WHERE p.query_id = s.query_id
        |              AND list_contains(s.picked, p.doc_id)),
        |            CAST(0.0 AS DOUBLE)) DESC,
        |        c.doc_id LIMIT 1))
        |  FROM state s WHERE s.step < 10),
        |fin AS (SELECT query_id, picked FROM state
        |  QUALIFY step = MAX(step) OVER (PARTITION BY query_id)),
        |ord AS (SELECT query_id, unnest(picked) AS doc_id,
        |    generate_subscripts(picked, 1) AS rank FROM fin)
        |SELECT o.query_id, o.doc_id, p.rel, CAST(o.rank AS INT) AS rank
        |FROM ord o JOIN pool p
        |  ON p.query_id = o.query_id AND p.doc_id = o.doc_id
        |ORDER BY o.query_id, o.rank""".stripMargin,
    "q202_dedup_retrieval_batch" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |qs AS (SELECT * FROM (VALUES
        |    (1, ['hash', 'slow']), (2, ['scan', 'spark']),
        |    (3, ['merge', 'sort']), (4, ['slow', 'filter']),
        |    (5, ['spark', 'join']), (6, ['sort', 'hash']))
        |  AS v(query_id, terms)),
        |qt AS (SELECT query_id, unnest(terms) AS term FROM qs),
        |dfq AS (SELECT term, (SELECT COUNT(*) FROM tk
        |    WHERE list_contains(tk.t, dt.term)) AS dfc
        |  FROM (SELECT DISTINCT term FROM qt) dt),
        |sc AS (SELECT qt.query_id, tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = qt.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = qt.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN st
        |  JOIN qt ON list_contains(tk.t, qt.term)
        |  JOIN dfq ON dfq.term = qt.term
        |  GROUP BY qt.query_id, tk.doc_id),
        |cand AS (SELECT query_id, doc_id, bm25 FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY bm25 DESC, doc_id) AS rnk FROM sc)
        |  WHERE rnk <= 100),
        |fp AS (SELECT doc_id,
        |    md5(array_to_string((list_filter(string_split(text, ' '),
        |      t -> len(t) > 0))[1:10], ' ')) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |best AS (SELECT c.query_id, c.doc_id, c.bm25, f.fp,
        |    ROW_NUMBER() OVER (PARTITION BY c.query_id, f.fp
        |      ORDER BY c.bm25 DESC, c.doc_id) AS cr
        |  FROM cand c JOIN fp f USING (doc_id))
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25, fp,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        |FROM best WHERE cr = 1
        |QUALIFY rank <= 30 ORDER BY query_id, rank""".stripMargin,
    // same labels, different algorithm: the engine runs star
    // contraction; the oracle computes the literal transitive closure
    // (recursive CTE over the symmetric edges) and takes each node's
    // component minimum
    "q203_cc_star_clusters" ->
      """WITH RECURSIVE nxt AS (SELECT doc_id, n_chars,
        |    LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
        |      AS nxt
        |  FROM documents),
        |e0 AS (SELECT doc_id AS src, nxt AS dst FROM nxt
        |  WHERE nxt IS NOT NULL AND n_chars % 20 <> 0),
        |e AS (SELECT src, dst FROM e0
        |  UNION SELECT dst, src FROM e0),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id AS doc_id, MIN(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same selection, different algorithm: the engine places a
    // histogram threshold and windows only the boundary bucket; the
    // oracle runs the plain per-group window cumsum
    "q204_group_cap_skew" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |    floor(n_chars / 50.0) AS ord
        |  FROM documents),
        |b AS (SELECT (MAX(m) * 6) // 10 AS budget FROM
        |  (SELECT CAST(SUM(n_chars) AS BIGINT) AS m FROM t
        |   GROUP BY lang)),
        |c AS (SELECT doc_id, lang, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY lang
        |      ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prior
        |  FROM t)
        |SELECT doc_id, lang, n_chars FROM c
        |WHERE prior < (SELECT budget FROM b) ORDER BY doc_id""".stripMargin,
    // replays scoring, the positives anti-join, the skip band, and
    // the per-query cut
    "q205_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    label AS ql
        |  FROM embeddings
        |  ORDER BY md5('hnq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 10),
        |sc AS (SELECT q.query_id, e.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS score,
        |    e.label AS dl, q.ql
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |np AS (SELECT query_id, doc_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS nr
        |  FROM sc WHERE dl <> ql)
        |SELECT query_id, doc_id, score, CAST(nr - 3 AS INT) AS neg_rank
        |FROM np WHERE nr > 3 AND nr <= 13
        |ORDER BY query_id, neg_rank""".stripMargin,
    // the oracle knows nothing of the engine's incremental timeline:
    // it computes the full transitive closure over ALL edges at once
    "q206_maintained_clusters" ->
      """WITH RECURSIVE nxt AS (SELECT doc_id, n_chars,
        |    LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
        |      AS nxt
        |  FROM documents),
        |e0 AS (SELECT doc_id AS src, nxt AS dst FROM nxt
        |  WHERE nxt IS NOT NULL AND n_chars % 15 <> 0),
        |e AS (SELECT src, dst FROM e0
        |  UNION SELECT dst, src FROM e0),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
        |SELECT id AS doc_id, MIN(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the engine places a histogram threshold and sorts only the
    // boundary bucket + survivors; the oracle runs the plain
    // windowed rank — rows AND ranks must match
    "q207_quota_sample_skew" ->
      """WITH r AS (SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('qs:7:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(sample_rank AS INT)
        |  AS sample_rank
        |FROM r WHERE sample_rank <= 25
        |ORDER BY lang, sample_rank""".stripMargin,
    "q201_hybrid_batch" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings
        |  ORDER BY md5('hbq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 8),
        |voc AS (SELECT ['join', 'hash', 'scan', 'merge', 'slow',
        |    'spark', 'sort', 'filter'] AS l),
        |qt AS (SELECT query_id, unnest([
        |    l[CAST(query_id % 8 AS INT) + 1],
        |    l[CAST((query_id + 3) % 8 AS INT) + 1]]) AS term
        |  FROM q CROSS JOIN voc),
        |dfq AS (SELECT term, (SELECT COUNT(*) FROM tk
        |    WHERE list_contains(tk.t, dt.term)) AS dfc
        |  FROM (SELECT DISTINCT term FROM qt) dt),
        |sc AS (SELECT qt.query_id, tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = qt.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = qt.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN st
        |  JOIN qt ON list_contains(tk.t, qt.term)
        |  JOIN dfq ON dfq.term = qt.term
        |  GROUP BY qt.query_id, tk.doc_id),
        |lex AS (SELECT query_id, doc_id, CAST(rnk AS INT) AS rank_1
        |  FROM (SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rnk
        |    FROM sc) WHERE rnk <= 50),
        |cents AS (SELECT embedding AS cv,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |    ORDER BY md5('hbc:' || CAST(vec_id AS VARCHAR)), vec_id
        |    LIMIT 16)),
        |asg AS (SELECT vec_id AS neighbor_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS arnk
        |  FROM embeddings e CROSS JOIN cents c) WHERE arnk = 1),
        |probes AS (SELECT query_id, cid FROM (
        |  SELECT q.query_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS prnk
        |  FROM q CROSS JOIN cents c) WHERE prnk <= 4),
        |vpairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |vivf AS (SELECT query_id, neighbor_id, CAST(rnk AS INT)
        |    AS rank_2
        |  FROM (SELECT vp.query_id, vp.neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY vp.query_id
        |        ORDER BY vp.score DESC, vp.neighbor_id) AS rnk
        |    FROM vpairs vp
        |    JOIN probes p ON p.query_id = vp.query_id
        |    JOIN asg a ON a.cid = p.cid
        |               AND a.neighbor_id = vp.neighbor_id)
        |  WHERE rnk <= 50),
        |fu AS (SELECT COALESCE(l.query_id, v.query_id) AS query_id,
        |    COALESCE(l.doc_id, v.neighbor_id) AS doc_id,
        |    l.rank_1, v.rank_2,
        |    round(COALESCE(1.0 / (60 + l.rank_1), 0)
        |        + COALESCE(1.0 / (60 + v.rank_2), 0), 9) AS rrf_score
        |  FROM lex l FULL JOIN vivf v
        |    ON l.query_id = v.query_id AND l.doc_id = v.neighbor_id)
        |SELECT query_id, doc_id, rank_1, rank_2, rrf_score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
        |FROM fu QUALIFY rank <= 20
        |ORDER BY query_id, rank""".stripMargin,
    "q200_asof_retrieval_eval" ->
      """WITH dbase AS (SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL),
        |dcorpus AS (SELECT doc_id, text FROM dbase
        |  UNION ALL SELECT doc_id + 1000000, text FROM dbase
        |  WHERE doc_id % 10 = 4),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM dcorpus),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |qs AS (SELECT * FROM (VALUES
        |    (1, ['join', 'merge']), (2, ['spark', 'scan']),
        |    (3, ['merge', 'slow']), (4, ['scan', 'hash']),
        |    (5, ['slow', 'join']), (6, ['hash', 'spark']))
        |  AS v(query_id, terms)),
        |qt AS (SELECT query_id, unnest(terms) AS term FROM qs),
        |dfq AS (SELECT term, (SELECT COUNT(*) FROM tk
        |    WHERE list_contains(tk.t, dt.term)) AS dfc
        |  FROM (SELECT DISTINCT term FROM qt) dt),
        |sc AS (SELECT qt.query_id, tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = qt.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = qt.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN st
        |  JOIN qt ON list_contains(tk.t, qt.term)
        |  JOIN dfq ON dfq.term = qt.term
        |  GROUP BY qt.query_id, tk.doc_id),
        |lres AS (SELECT query_id, doc_id, rank FROM (
        |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 20),
        |lqrl AS (SELECT q.query_id, d.doc_id, d.doc_id % 3 + 1 AS rel
        |  FROM dcorpus d CROSS JOIN (SELECT query_id FROM qs) q
        |  WHERE (d.doc_id + q.query_id) % 11 = 0),
        |ks AS (SELECT unnest([5, 10, 20]) AS k),
        |ljr AS (SELECT r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel
        |  FROM lres r LEFT JOIN lqrl qr
        |    ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id),
        |lpq AS (SELECT ljr.query_id, ks.k,
        |    SUM(CASE WHEN rank <= k AND rel > 0 THEN 1 ELSE 0 END)
        |      AS hits,
        |    MIN(CASE WHEN rank <= k AND rel > 0 THEN rank END)
        |      AS first_rel,
        |    SUM(CASE WHEN rank <= k
        |        THEN (pow(2, rel) - 1) / log2(rank + 1) ELSE 0 END)
        |      AS dcg
        |  FROM ljr CROSS JOIN ks GROUP BY 1, 2),
        |lidl AS (SELECT query_id, rel, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, doc_id)
        |      AS irank FROM lqrl),
        |liq AS (SELECT lidl.query_id, ks.k, COUNT(*) AS tot_rel,
        |    SUM(CASE WHEN irank <= k
        |        THEN (pow(2, rel) - 1) / log2(irank + 1) ELSE 0 END)
        |      AS idcg
        |  FROM lidl CROSS JOIN ks GROUP BY 1, 2),
        |lm AS (SELECT 'lexical' AS run, liq.k,
        |    round(AVG(COALESCE(hits, 0) / tot_rel), 6) AS recall,
        |    round(AVG(COALESCE(hits, 0) / liq.k), 6) AS precision,
        |    round(AVG(COALESCE(1.0 / first_rel, 0)), 6) AS mrr,
        |    round(AVG(COALESCE(dcg, 0) / idcg), 6) AS ndcg
        |  FROM liq LEFT JOIN lpq
        |    ON lpq.query_id = liq.query_id AND lpq.k = liq.k
        |  GROUP BY liq.k),
        |ebase AS (SELECT vec_id, embedding FROM embeddings),
        |ecorpus AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM (SELECT vec_id, embedding FROM ebase
        |    UNION ALL SELECT vec_id + 100000, embedding FROM ebase
        |    WHERE vec_id % 10 = 4)),
        |vqry AS (SELECT vec_id AS query_id, v AS qv FROM ecorpus
        |  ORDER BY md5('aeq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 5),
        |vpairs AS (SELECT vqry.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(c.v, vqry.qv) AS c
        |  FROM ecorpus c CROSS JOIN vqry
        |  WHERE c.vec_id <> vqry.query_id),
        |vsel AS (SELECT query_id, neighbor_id, round(c, 6) AS score
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY c DESC, neighbor_id) AS rr FROM vpairs)
        |  WHERE rr <= 20),
        |vres AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rank
        |  FROM vsel),
        |vqrl AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    e.vec_id % 3 + 1 AS rel
        |  FROM ecorpus e CROSS JOIN (SELECT query_id FROM vqry) q
        |  WHERE (e.vec_id + q.query_id) % 9 = 0
        |    AND e.vec_id <> q.query_id),
        |vjr AS (SELECT r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel
        |  FROM vres r LEFT JOIN vqrl qr
        |    ON r.query_id = qr.query_id
        |   AND r.neighbor_id = qr.neighbor_id),
        |vpq AS (SELECT vjr.query_id, ks.k,
        |    SUM(CASE WHEN rank <= k AND rel > 0 THEN 1 ELSE 0 END)
        |      AS hits,
        |    MIN(CASE WHEN rank <= k AND rel > 0 THEN rank END)
        |      AS first_rel,
        |    SUM(CASE WHEN rank <= k
        |        THEN (pow(2, rel) - 1) / log2(rank + 1) ELSE 0 END)
        |      AS dcg
        |  FROM vjr CROSS JOIN ks GROUP BY 1, 2),
        |vidl AS (SELECT query_id, rel, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, neighbor_id)
        |      AS irank FROM vqrl),
        |viq AS (SELECT vidl.query_id, ks.k, COUNT(*) AS tot_rel,
        |    SUM(CASE WHEN irank <= k
        |        THEN (pow(2, rel) - 1) / log2(irank + 1) ELSE 0 END)
        |      AS idcg
        |  FROM vidl CROSS JOIN ks GROUP BY 1, 2),
        |vm AS (SELECT 'vector' AS run, viq.k,
        |    round(AVG(COALESCE(hits, 0) / tot_rel), 6) AS recall,
        |    round(AVG(COALESCE(hits, 0) / viq.k), 6) AS precision,
        |    round(AVG(COALESCE(1.0 / first_rel, 0)), 6) AS mrr,
        |    round(AVG(COALESCE(dcg, 0) / idcg), 6) AS ndcg
        |  FROM viq LEFT JOIN vpq
        |    ON vpq.query_id = viq.query_id AND vpq.k = viq.k
        |  GROUP BY viq.k)
        |SELECT run, k, recall, precision, mrr, ndcg
        |FROM (SELECT * FROM lm UNION ALL SELECT * FROM vm)
        |ORDER BY run, k""".stripMargin,
    "q199_pq_operating_point" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings
        |  ORDER BY md5('opq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])) AS c
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, round(c, 6) AS cosine_sim,
        |  CAST(rnk AS INT) AS rank, TRUE AS pick_minimal
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY c DESC, neighbor_id) AS rnk FROM pairs)
        |WHERE rnk <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q198_bm25_batch" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents WHERE text IS NOT NULL),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |qs AS (SELECT * FROM (VALUES
        |    (1, ['hash', 'slow', 'sort']),
        |    (2, ['scan', 'spark', 'filter']),
        |    (3, ['merge', 'sort', 'join']),
        |    (4, ['slow', 'filter', 'hash']),
        |    (5, ['spark', 'join', 'scan']),
        |    (6, ['sort', 'hash', 'merge']),
        |    (7, ['filter', 'scan', 'slow']),
        |    (8, ['join', 'merge', 'spark'])) AS v(query_id, terms)),
        |qt AS (SELECT query_id, unnest(terms) AS term FROM qs),
        |dfq AS (SELECT term, (SELECT COUNT(*) FROM tk
        |    WHERE list_contains(tk.t, dt.term)) AS dfc
        |  FROM (SELECT DISTINCT term FROM qt) dt),
        |sc AS (SELECT qt.query_id, tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = qt.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = qt.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN st
        |  JOIN qt ON list_contains(tk.t, qt.term)
        |  JOIN dfq ON dfq.term = qt.term
        |  WHERE tk.doc_id % 3 = 0
        |  GROUP BY qt.query_id, tk.doc_id)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank
        |FROM sc QUALIFY rank <= 20
        |ORDER BY query_id, rank""".stripMargin,
    "q196_dedup_retrieval" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['merge', 'scan', 'slow']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id),
        |cand AS (SELECT doc_id, bm25 FROM sc
        |  ORDER BY bm25 DESC, doc_id LIMIT 100),
        |fp AS (SELECT doc_id,
        |    md5(array_to_string((list_filter(string_split(text, ' '),
        |      t -> len(t) > 0))[1:10], ' ')) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |best AS (SELECT c.doc_id, c.bm25, f.fp,
        |    ROW_NUMBER() OVER (PARTITION BY f.fp
        |      ORDER BY c.bm25 DESC, c.doc_id) AS cr
        |  FROM cand c JOIN fp f USING (doc_id))
        |SELECT doc_id, bm25, fp,
        |  CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
        |    AS rank
        |FROM best WHERE cr = 1
        |QUALIFY rank <= 50 ORDER BY rank""".stripMargin,
    "q195_nprobe_tuning" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |  FROM embeddings
        |  ORDER BY md5('ivfq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |cents AS (SELECT embedding AS cv,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |    ORDER BY md5('ivfc:' || CAST(vec_id AS VARCHAR)), vec_id
        |    LIMIT 16)),
        |asg AS (SELECT vec_id AS neighbor_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS arnk
        |  FROM embeddings e CROSS JOIN cents c) WHERE arnk = 1),
        |probes AS (SELECT query_id, cid, prnk FROM (
        |  SELECT q.query_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS prnk
        |  FROM q CROSS JOIN cents c)),
        |pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |exact AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, neighbor_id) AS rnk FROM pairs)
        |  WHERE rnk <= 10),
        |tot AS (SELECT COUNT(*) AS t FROM exact),
        |ladder AS (SELECT unnest([1, 2, 4, 8, 16]) AS nprobe),
        |cand AS (SELECT l.nprobe, p.query_id, p.neighbor_id, p.score
        |  FROM ladder l
        |  JOIN probes pr ON pr.prnk <= l.nprobe
        |  JOIN asg a ON a.cid = pr.cid
        |  JOIN pairs p ON p.query_id = pr.query_id
        |             AND p.neighbor_id = a.neighbor_id),
        |ivf AS (SELECT nprobe, query_id, neighbor_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
        |    ORDER BY score DESC, neighbor_id) AS rnk FROM cand)
        |  WHERE rnk <= 10),
        |hcnt AS (SELECT i.nprobe, COUNT(*) AS h FROM ivf i
        |  JOIN exact x USING (query_id, neighbor_id) GROUP BY i.nprobe),
        |lad AS (SELECT CAST(l.nprobe AS INT) AS nprobe,
        |    CAST(COALESCE(hcnt.h, 0) AS BIGINT) AS hits,
        |    CAST(COALESCE(hcnt.h, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE)
        |      AS recall
        |  FROM ladder l LEFT JOIN hcnt ON hcnt.nprobe = l.nprobe
        |  CROSS JOIN tot)
        |SELECT nprobe, hits, recall, recall >= 0.9 AS meets_target,
        |  nprobe = COALESCE((SELECT MIN(nprobe) FROM lad
        |    WHERE recall >= 0.9), 16) AS chosen
        |FROM lad ORDER BY nprobe""".stripMargin,
    "q191_pq_adc_rerank" ->
      """WITH ix AS (SELECT vec_id,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |av AS (SELECT vec_id, list(x *
        |    CASE WHEN substring(md5('aniso:7:' ||
        |        CAST(i - 1 AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |      THEN 4.0 ELSE 0.25 END ORDER BY i) AS v
        |  FROM ix GROUP BY vec_id),
        |q AS (SELECT vec_id, v FROM av
        |  ORDER BY md5('pqq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM q CROSS JOIN av c WHERE q.vec_id <> c.vec_id),
        |top10 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rnk FROM s)
        |  WHERE rnk <= 10)
        |SELECT query_id, neighbor_id, score AS cosine_sim,
        |  CAST(rnk AS INT) AS rank, TRUE AS recall_ok
        |FROM top10 ORDER BY query_id, rank""".stripMargin,
    "q188_pca_reduce_recall" ->
      """WITH ix AS (SELECT vec_id,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |av AS (SELECT vec_id, list(x *
        |    CASE WHEN substring(md5('aniso:7:' ||
        |        CAST(i - 1 AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        |      THEN 4.0 ELSE 0.25 END ORDER BY i) AS v
        |  FROM ix GROUP BY vec_id),
        |q AS (SELECT vec_id, v FROM av
        |  ORDER BY md5('pcaq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) AS score
        |  FROM q CROSS JOIN av c WHERE q.vec_id <> c.vec_id),
        |top10 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rnk FROM s)
        |  WHERE rnk <= 10)
        |SELECT query_id, neighbor_id, score AS cosine_sim,
        |  CAST(rnk AS INT) AS rank, TRUE AS recall_ok
        |FROM top10 ORDER BY query_id, rank""".stripMargin,
    "q187_bm25_incremental" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |grown AS (SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 1000000, text FROM base
        |  WHERE doc_id % 10 = 3),
        |alive AS (SELECT doc_id, text FROM grown WHERE doc_id % 7 <> 2),
        |corpus AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 5 THEN text || ' spark spark'
        |         ELSE text END AS text
        |  FROM alive),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM corpus),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id)
        |SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
        |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin,
    "q186_ivf_churn_maintain" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings),
        |grown AS (SELECT vec_id, embedding FROM base
        |  UNION ALL SELECT vec_id + 100000, embedding FROM base
        |  WHERE vec_id % 10 = 3),
        |alive AS (SELECT vec_id, embedding FROM grown WHERE vec_id % 7 <> 2),
        |corpus AS (SELECT vec_id,
        |    CAST(CASE WHEN vec_id % 13 = 5 THEN list_reverse(embedding)
        |         ELSE embedding END AS DOUBLE[]) AS v
        |  FROM alive),
        |q AS (SELECT vec_id, v FROM corpus WHERE vec_id < 20),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN corpus c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q116_ivf_persisted" ->
      """WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.v, c.v) AS cs
        |  FROM q CROSS JOIN c WHERE q.vec_id <> c.vec_id),
        |top5 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cs DESC, neighbor_id) AS rn FROM s)
        |  WHERE rn <= 5)
        |SELECT query_id, neighbor_id, round(cs, 6) AS cosine_sim,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY round(cs, 6) DESC, neighbor_id) AS INT) AS rank
        |FROM top5 ORDER BY query_id, rank""".stripMargin,
    "q152_group_split" ->
      """WITH b AS (SELECT doc_id, source,
        |    CAST((strpos('0123456789abcdef',
        |        substring(md5('split:7:' || source), 31, 1)) - 1) * 16 +
        |      (strpos('0123456789abcdef',
        |        substring(md5('split:7:' || source), 32, 1)) - 1)
        |      AS INT) AS bk
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN bk < 204 THEN 'train'
        |       WHEN bk < 230 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q159_bm25" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id)
        |SELECT doc_id, bm25 FROM sc
        |ORDER BY bm25 DESC, doc_id LIMIT 100""".stripMargin,
    "q175_hybrid_retrieval" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |st AS (SELECT COUNT(*) AS n,
        |    CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl FROM tk),
        |q AS (SELECT unnest(['hash', 'join', 'spark']) AS term),
        |dfq AS (SELECT q.term,
        |    (SELECT COUNT(*) FROM tk WHERE list_contains(tk.t, q.term))
        |      AS dfc FROM q),
        |sc AS (SELECT tk.doc_id,
        |    round(SUM(
        |      ln((st.n - dfq.dfc + 0.5) / (dfq.dfc + 0.5) + 1.0)
        |      * len(list_filter(tk.t, x -> x = dfq.term)) * 2.2
        |      / (len(list_filter(tk.t, x -> x = dfq.term))
        |         + 1.2 * (0.25 + 0.75 * len(tk.t) / st.avgdl))), 6)
        |      AS bm25
        |  FROM tk CROSS JOIN dfq CROSS JOIN st
        |  GROUP BY tk.doc_id),
        |lex AS (SELECT doc_id, bm25 FROM sc
        |  ORDER BY bm25 DESC, doc_id LIMIT 100),
        |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY bm25 DESC, doc_id) AS INT) AS rank_1 FROM lex),
        |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 42),
        |cosb AS (SELECT e.vec_id AS doc_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(qv.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e CROSS JOIN qv),
        |vec AS (SELECT doc_id, cos FROM cosb
        |  ORDER BY cos DESC, doc_id LIMIT 100),
        |vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |    ORDER BY cos DESC, doc_id) AS INT) AS rank_2 FROM vec),
        |f AS (SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    l.rank_1, v.rank_2,
        |    round(COALESCE(1.0 / (60 + l.rank_1), 0)
        |        + COALESCE(1.0 / (60 + v.rank_2), 0), 9) AS rrf_score
        |  FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id)
        |SELECT doc_id, rank_1, rank_2, rrf_score FROM f
        |ORDER BY rrf_score DESC, doc_id LIMIT 50""".stripMargin,
    "q185_pca_whitening" ->
      """WITH ev AS (SELECT
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |tv AS (SELECT round(SUM(v), 4) AS total_var FROM (
        |    SELECT var_pop(x) AS v FROM ev GROUP BY i))
        |SELECT CAST(j.range AS INT) AS component, TRUE AS unit_var,
        |  TRUE AS decorrelated, TRUE AS ordered_desc,
        |  (SELECT total_var FROM tv) AS total_var
        |FROM range(8) j ORDER BY component""".stripMargin,
    "q183_retrieval_eval_indexed" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    label AS qlab FROM embeddings
        |  ORDER BY md5('ivfq:' || CAST(vec_id AS VARCHAR)), vec_id
        |  LIMIT 20),
        |cents AS (SELECT embedding AS cv,
        |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
        |  FROM (SELECT vec_id, embedding FROM embeddings
        |    ORDER BY md5('ivfc:' || CAST(vec_id AS VARCHAR)), vec_id
        |    LIMIT 16)),
        |asg AS (SELECT vec_id AS neighbor_id, nv, cid FROM (
        |  SELECT e.vec_id, e.embedding AS nv, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |      round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS arnk
        |  FROM embeddings e CROSS JOIN cents c) WHERE arnk = 1),
        |probes AS (SELECT query_id, cid FROM (
        |  SELECT q.query_id, c.cid,
        |    ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |      round(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
        |        CAST(c.cv AS DOUBLE[])), 6) DESC, c.cid) AS prnk
        |  FROM q CROSS JOIN cents c) WHERE prnk <= 4),
        |pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    q.qlab, e.label AS nlab,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |exact_res AS (SELECT query_id, neighbor_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rank
        |  FROM pairs QUALIFY rank <= 20),
        |ivf_res AS (SELECT query_id, neighbor_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rank
        |  FROM (SELECT pr.query_id, a.neighbor_id, p.score
        |    FROM probes pr JOIN asg a USING (cid)
        |    JOIN pairs p ON p.query_id = pr.query_id
        |               AND p.neighbor_id = a.neighbor_id)
        |  QUALIFY rank <= 20),
        |res AS (SELECT 'exact' AS run, * FROM exact_res
        |  UNION ALL SELECT 'ivf', * FROM ivf_res),
        |qrels AS (SELECT query_id, neighbor_id,
        |    CASE WHEN qlab = nlab THEN 2
        |         WHEN abs(qlab - nlab) = 1 THEN 1 END AS rel
        |  FROM pairs WHERE qlab = nlab OR abs(qlab - nlab) = 1),
        |jr AS (SELECT r.run, r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel
        |  FROM res r LEFT JOIN qrels qr
        |    ON r.query_id = qr.query_id
        |   AND r.neighbor_id = qr.neighbor_id),
        |ks AS (SELECT unnest([5, 10, 20]) AS k),
        |pq AS (SELECT jr.run, jr.query_id, ks.k,
        |    SUM(CASE WHEN rank <= k AND rel > 0 THEN 1 ELSE 0 END)
        |      AS hits,
        |    MIN(CASE WHEN rank <= k AND rel > 0 THEN rank END)
        |      AS first_rel,
        |    SUM(CASE WHEN rank <= k
        |        THEN (pow(2, rel) - 1) / log2(rank + 1) ELSE 0 END)
        |      AS dcg
        |  FROM jr CROSS JOIN ks GROUP BY 1, 2, 3),
        |idl AS (SELECT query_id, rel, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, neighbor_id)
        |      AS irank FROM qrels),
        |iq AS (SELECT idl.query_id, ks.k, COUNT(*) AS tot_rel,
        |    SUM(CASE WHEN irank <= k
        |        THEN (pow(2, rel) - 1) / log2(irank + 1) ELSE 0 END)
        |      AS idcg
        |  FROM idl CROSS JOIN ks GROUP BY 1, 2),
        |runs AS (SELECT unnest(['exact', 'ivf']) AS run)
        |SELECT runs.run, iq.k,
        |    round(AVG(COALESCE(hits, 0) / tot_rel), 6) AS recall,
        |    round(AVG(COALESCE(hits, 0) / iq.k), 6) AS precision,
        |    round(AVG(COALESCE(1.0 / first_rel, 0)), 6) AS mrr,
        |    round(AVG(COALESCE(dcg, 0) / idcg), 6) AS ndcg
        |  FROM iq CROSS JOIN runs LEFT JOIN pq
        |    ON pq.query_id = iq.query_id AND pq.k = iq.k
        |   AND pq.run = runs.run
        |  GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q176_retrieval_metrics" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    label AS qlab FROM embeddings WHERE vec_id % 100 = 7),
        |pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    q.qlab, e.label AS nlab,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |      CAST(q.qv AS DOUBLE[])), 6) AS score
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |res AS (SELECT query_id, neighbor_id, score,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS rank
        |  FROM pairs QUALIFY rank <= 20),
        |qrels AS (SELECT query_id, neighbor_id,
        |    CASE WHEN qlab = nlab THEN 2
        |         WHEN abs(qlab - nlab) = 1 THEN 1 END AS rel
        |  FROM pairs WHERE qlab = nlab OR abs(qlab - nlab) = 1),
        |jr AS (SELECT r.query_id, r.rank, COALESCE(qr.rel, 0) AS rel
        |  FROM res r LEFT JOIN qrels qr
        |    ON r.query_id = qr.query_id
        |   AND r.neighbor_id = qr.neighbor_id),
        |ks AS (SELECT unnest([5, 10, 20]) AS k),
        |pq AS (SELECT jr.query_id, ks.k,
        |    SUM(CASE WHEN rank <= k AND rel > 0 THEN 1 ELSE 0 END)
        |      AS hits,
        |    MIN(CASE WHEN rank <= k AND rel > 0 THEN rank END)
        |      AS first_rel,
        |    SUM(CASE WHEN rank <= k
        |        THEN (pow(2, rel) - 1) / log2(rank + 1) ELSE 0 END)
        |      AS dcg
        |  FROM jr CROSS JOIN ks GROUP BY 1, 2),
        |idl AS (SELECT query_id, rel, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY rel DESC, neighbor_id)
        |      AS irank FROM qrels),
        |iq AS (SELECT idl.query_id, ks.k, COUNT(*) AS tot_rel,
        |    SUM(CASE WHEN irank <= k
        |        THEN (pow(2, rel) - 1) / log2(irank + 1) ELSE 0 END)
        |      AS idcg
        |  FROM idl CROSS JOIN ks GROUP BY 1, 2)
        |SELECT iq.k,
        |    round(AVG(COALESCE(hits, 0) / tot_rel), 6) AS recall,
        |    round(AVG(COALESCE(hits, 0) / iq.k), 6) AS precision,
        |    round(AVG(COALESCE(1.0 / first_rel, 0)), 6) AS mrr,
        |    round(AVG(COALESCE(dcg, 0) / idcg), 6) AS ndcg
        |  FROM iq LEFT JOIN pq
        |    ON pq.query_id = iq.query_id AND pq.k = iq.k
        |  GROUP BY 1 ORDER BY 1""".stripMargin,
    "q167_nb_quality" ->
      """WITH d AS (SELECT doc_id, text,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |tk AS (SELECT doc_id, pos,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM d),
        |ex AS (SELECT doc_id, pos, unnest(t) AS term FROM tk),
        |bk AS (SELECT doc_id, pos,
        |    ((strpos('0123456789abcdef',
        |        substring(md5('nbq:7:' || term), 31, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef',
        |        substring(md5('nbq:7:' || term), 32, 1)) - 1)) % 64 AS b
        |  FROM ex),
        |cnt AS (SELECT b,
        |    SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS pc,
        |    SUM(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS nc
        |  FROM bk GROUP BY b),
        |tot AS (SELECT (SELECT CAST(SUM(pc) AS DOUBLE) FROM cnt) AS pt,
        |               (SELECT CAST(SUM(nc) AS DOUBLE) FROM cnt) AS nt),
        |r AS (SELECT g.range AS b,
        |    ln((COALESCE(cnt.pc, 0) + 1.0) / (tot.pt + 64.0))
        |  - ln((COALESCE(cnt.nc, 0) + 1.0) / (tot.nt + 64.0)) AS lr
        |  FROM range(64) g LEFT JOIN cnt ON cnt.b = g.range CROSS JOIN tot),
        |prior AS (SELECT ln(CAST(SUM(pos) AS DOUBLE) /
        |    SUM(1 - pos)) AS lp FROM d),
        |ds AS (SELECT bk.doc_id, COUNT(*) AS n_tokens, SUM(r.lr) AS sr
        |  FROM bk JOIN r USING (b) GROUP BY bk.doc_id),
        |sc AS (SELECT d.doc_id,
        |    COALESCE(ds.n_tokens, 0) AS n_tokens,
        |    round((SELECT lp FROM prior) + COALESCE(ds.sr, 0.0), 6)
        |      AS nb_logodds
        |  FROM d LEFT JOIN ds USING (doc_id)),
        |sc2 AS (SELECT doc_id, n_tokens, nb_logodds,
        |    round(1.0 / (1.0 + exp(-nb_logodds)), 6) AS nb_prob FROM sc),
        |u AS (SELECT doc_id,
        |    (((strpos('0123456789abcdef',
        |        substring(md5('nbp1:7:' || CAST(doc_id AS VARCHAR)), 31, 1))
        |        - 1) * 16 +
        |      (strpos('0123456789abcdef',
        |        substring(md5('nbp1:7:' || CAST(doc_id AS VARCHAR)), 32, 1))
        |        - 1)) * 256 +
        |     ((strpos('0123456789abcdef',
        |        substring(md5('nbp2:7:' || CAST(doc_id AS VARCHAR)), 31, 1))
        |        - 1) * 16 +
        |      (strpos('0123456789abcdef',
        |        substring(md5('nbp2:7:' || CAST(doc_id AS VARCHAR)), 32, 1))
        |        - 1)) + 0.5) / 65536.0 AS uu
        |  FROM d)
        |SELECT sc2.doc_id, n_tokens, nb_logodds, nb_prob,
        |  CAST(CASE WHEN u.uu > 1.0 - POWER(2.0 - nb_prob, -9.0)
        |    THEN 1 ELSE 0 END AS INT) AS kept
        |FROM sc2 JOIN u ON sc2.doc_id = u.doc_id
        |ORDER BY sc2.doc_id""".stripMargin,
    "q155_dsir_select" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
        |bk AS (SELECT doc_id,
        |    ((strpos('0123456789abcdef',
        |        substring(md5('dsir:7:' || term), 31, 1)) - 1) * 16 +
        |     (strpos('0123456789abcdef',
        |        substring(md5('dsir:7:' || term), 32, 1)) - 1)) % 64 AS b
        |  FROM ex),
        |cq AS (SELECT b, COUNT(*) AS c FROM bk GROUP BY b),
        |ct AS (SELECT bk.b AS b, COUNT(*) AS c FROM bk
        |  JOIN documents d USING (doc_id)
        |  WHERE d.lang = 'en' GROUP BY bk.b),
        |tot AS (SELECT (SELECT CAST(SUM(c) AS DOUBLE) FROM ct) AS tt,
        |               (SELECT CAST(SUM(c) AS DOUBLE) FROM cq) AS qt),
        |r AS (SELECT g.range AS b,
        |    ln((COALESCE(ct.c, 0) + 1.0) / (tot.tt + 64.0))
        |  - ln((COALESCE(cq.c, 0) + 1.0) / (tot.qt + 64.0)) AS lr
        |  FROM range(64) g LEFT JOIN ct ON ct.b = g.range
        |    LEFT JOIN cq ON cq.b = g.range CROSS JOIN tot),
        |s AS (SELECT bk.doc_id, COUNT(*) AS n_tokens,
        |    round(SUM(r.lr), 6) AS dsir_logweight
        |  FROM bk JOIN r USING (b) GROUP BY bk.doc_id)
        |SELECT doc_id, n_tokens, dsir_logweight FROM s
        |ORDER BY dsir_logweight DESC, doc_id LIMIT 150""".stripMargin,
    "q113_corpus_split" ->
      """WITH b AS (SELECT doc_id,
        |    CAST((strpos('0123456789abcdef',
        |        substring(md5('split:42:' || CAST(doc_id AS VARCHAR)), 31, 1))
        |        - 1) * 16 +
        |      (strpos('0123456789abcdef',
        |        substring(md5('split:42:' || CAST(doc_id AS VARCHAR)), 32, 1))
        |        - 1) AS INT) AS split_bucket
        |  FROM documents),
        |s AS (SELECT doc_id, split_bucket,
        |    CASE WHEN split_bucket < 204 THEN 'train'
        |         WHEN split_bucket < 230 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, COUNT(*) AS n_docs,
        |  CAST(MIN(split_bucket) AS INT) AS min_bucket,
        |  CAST(MAX(split_bucket) AS INT) AS max_bucket
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "q114_unigram_logprob" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |f AS (SELECT term, COUNT(*) AS cnt FROM e2 GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM e2)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(AVG(ln(cnt / total)), 6) AS mean_logprob
        |FROM e2 JOIN f USING (term) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q140_curation_v4" ->
      """WITH base AS (SELECT doc_id,
        |    'Meaningful first line for doc ' || doc_id || ' stays in.'
        |      || chr(10)
        |      || CASE WHEN doc_id % 3 = 0
        |        THEN repeat('spam ', 19) || 'spam.' || chr(10) ELSE '' END
        |      || 'short.' || chr(10)
        |      || 'A second meaningful line survives too!' AS text
        |  FROM documents WHERE doc_id < 400),
        |lf AS (SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0
        |      AND right(trim(l), 1) IN ('.', '!', '?')
        |      AND len(string_split(trim(l), ' ')) >= 3
        |      AND NOT contains(lower(trim(l)), 'cookie')
        |      AND NOT contains(lower(trim(l)), 'javascript')
        |      AND NOT contains(lower(trim(l)), 'terms of use')
        |      AND NOT contains(lower(trim(l)), 'privacy policy')) AS kept
        |  FROM base),
        |ct AS (SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text
        |  FROM lf),
        |ex AS (SELECT doc_id, unnest(string_split(clean_text, ' ')) AS term
        |  FROM ct),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |pt AS (SELECT doc_id, term, COUNT(*) AS c FROM e2 GROUP BY 1, 2),
        |wt AS (SELECT doc_id, c,
        |    CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) AS p
        |  FROM pt),
        |h AS (SELECT doc_id, COUNT(*) AS nd,
        |    round(-SUM(p * ln(p)) + 0.0, 6) AS entropy
        |  FROM wt GROUP BY doc_id),
        |sc AS (SELECT doc_id, CASE WHEN nd = 1 THEN 1.0
        |    ELSE round(entropy / ln(nd), 6) END AS entropy_ratio FROM h),
        |sv AS (SELECT doc_id, entropy_ratio,
        |    CAST(floor(sqrt(doc_id)) AS BIGINT) AS grp
        |  FROM sc WHERE entropy_ratio >= 0.75),
        |c AS (SELECT grp, COUNT(*) AS gn FROM sv GROUP BY grp),
        |m AS (SELECT min(gn) AS nmin FROM c),
        |r AS (SELECT sv.doc_id, sv.grp, sv.entropy_ratio,
        |    CAST(round(sqrt(m.nmin * c.gn)) AS BIGINT) AS q,
        |    CAST(row_number() OVER (PARTITION BY sv.grp
        |      ORDER BY md5('tq:13:' || sv.doc_id), sv.doc_id) AS INT)
        |      AS mix_rank
        |  FROM sv, c, m WHERE sv.grp = c.grp)
        |SELECT doc_id, grp, entropy_ratio, mix_rank FROM r
        |WHERE mix_rank <= q ORDER BY doc_id""".stripMargin,
    "q139_quality_percentile_gate" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |f AS (SELECT term, COUNT(*) AS cnt FROM e2 GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM e2),
        |sc AS (SELECT doc_id,
        |    round(AVG(ln(cnt / total)), 6) AS mean_logprob
        |  FROM e2 JOIN f USING (term) CROSS JOIN n GROUP BY doc_id),
        |c AS (SELECT round(quantile_cont(mean_logprob, 0.25), 4) AS cut
        |  FROM sc)
        |SELECT sc.doc_id, sc.mean_logprob, c.cut
        |FROM sc, c WHERE sc.mean_logprob >= c.cut
        |ORDER BY sc.doc_id""".stripMargin,
    "q138_token_entropy" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |pt AS (SELECT doc_id, term, COUNT(*) AS c FROM e2 GROUP BY 1, 2),
        |wt AS (SELECT doc_id, c,
        |    CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY doc_id) AS p,
        |    SUM(c) OVER (PARTITION BY doc_id) AS n FROM pt),
        |h AS (SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS n_distinct,
        |    round(-SUM(p * ln(p)) + 0.0, 6) AS entropy
        |  FROM wt GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct, entropy,
        |  CASE WHEN n_distinct = 1 THEN 1.0
        |    ELSE round(entropy / ln(n_distinct), 6) END AS entropy_ratio
        |FROM h ORDER BY doc_id""".stripMargin,
    "q137_bigram_logprob" ->
      """WITH tk AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |bi AS (SELECT doc_id,
        |    unnest([{'w1': t[i+1], 'w2': t[i+2]}
        |      for i in range(len(t) - 1)]) AS b
        |  FROM tk),
        |b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        |uf AS (SELECT term, COUNT(*) AS cu
        |  FROM (SELECT unnest(t) AS term FROM tk) GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total
        |  FROM (SELECT unnest(t) AS term FROM tk)),
        |bf AS (SELECT w1, w2, COUNT(*) AS cb FROM b2 GROUP BY w1, w2)
        |SELECT b2.doc_id, COUNT(*) AS n_bigrams,
        |  round(AVG(ln(0.5 * bf.cb / c1.cu + 0.5 * c2.cu / n.total)), 6)
        |    AS mean_logprob
        |FROM b2
        |JOIN bf ON b2.w1 = bf.w1 AND b2.w2 = bf.w2
        |JOIN uf c1 ON b2.w1 = c1.term
        |JOIN uf c2 ON b2.w2 = c2.term
        |CROSS JOIN n
        |GROUP BY b2.doc_id ORDER BY b2.doc_id""".stripMargin,
    "q127_unigram_frozen" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |f AS (SELECT term, COUNT(*) AS cnt FROM e2 GROUP BY term),
        |n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM f),
        |v AS (SELECT term, ln(cnt / total) AS lp FROM f CROSS JOIN n
        |      ORDER BY cnt DESC, term LIMIT 64)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  round(AVG(COALESCE(lp, -18.0)), 6) AS mean_logprob
        |FROM e2 LEFT JOIN v USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q110_variance_dims" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS value FROM embeddings),
        |v AS (SELECT dim, round(var_samp(value), 6) AS dim_variance
        |  FROM e GROUP BY dim),
        |t AS (SELECT dim, dim_variance FROM v
        |  ORDER BY dim_variance DESC, dim LIMIT 8)
        |SELECT e.vec_id, e.dim, e.value, t.dim_variance
        |FROM e JOIN t USING (dim) ORDER BY vec_id, dim""".stripMargin,
    "q111_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
        |    FROM documents),
        |b AS (SELECT doc_id, tk,
        |    list_filter(list_transform(generate_series(1, len(tk)),
        |      p -> CASE WHEN (strpos('0123456789abcdef',
        |          substring(md5(tk[p]), 32, 1)) - 1) % 8 = 0
        |        THEN p - 1 END),
        |      x -> x IS NOT NULL) AS bpos
        |  FROM t),
        |c AS (SELECT doc_id, tk, bpos,
        |    unnest(generate_series(0, len(bpos))) AS k
        |  FROM b),
        |d AS (SELECT doc_id, CAST(k AS INT) AS chunk_index, tk,
        |    CASE WHEN k = 0 THEN 0 ELSE bpos[CAST(k AS INT)] + 1 END AS s,
        |    CASE WHEN k = len(bpos) THEN len(tk)
        |      ELSE bpos[CAST(k AS INT) + 1] + 1 END AS e
        |  FROM c)
        |SELECT doc_id, chunk_index,
        |  CAST(e - s AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(tk[s + 1 : e], ' ') AS chunk_text
        |FROM d WHERE e > s
        |ORDER BY doc_id, chunk_index""".stripMargin,
    "q112_random_projection" ->
      """WITH e AS (SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings),
        |s AS (SELECT CAST(i.range AS INT) AS i, CAST(j.range AS INT) AS j,
        |    CASE WHEN (strpos('0123456789abcdef', substring(md5(
        |        'rp:42:' || CAST(i.range AS VARCHAR) || ':' ||
        |        CAST(j.range AS VARCHAR)), 32, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END AS sgn
        |  FROM range(64) i, range(8) j)
        |SELECT e.vec_id, s.j AS out_dim,
        |  round(SUM(e.x * s.sgn), 6) AS proj
        |FROM e JOIN s USING (i)
        |GROUP BY e.vec_id, s.j ORDER BY e.vec_id, out_dim""".stripMargin,
    "q65_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS sc FROM e),
        |c AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(round(x * sc) AS BIGINT)) AS codes
        |  FROM s)
        |SELECT vec_id,
        |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
        |  CAST(list_aggregate(codes, 'min') AS INT) AS code_min,
        |  CAST(list_aggregate(codes, 'max') AS INT) AS code_max
        |FROM c ORDER BY vec_id""".stripMargin,
    "q64_curation_pipeline" ->
      """WITH s AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t
        |    FROM documents),
        |m AS (SELECT doc_id, lang, text, t,
        |    len(t) AS n_tokens,
        |    (length(text) - len(t) + 1) * 1.0 / len(t) AS mean_token_len,
        |    len(list_filter(t, w -> w IN ('the','a','is','and','of','to',
        |        'in','that','it','for'))) * 1.0 / len(t) AS stopword_ratio
        |  FROM s),
        |q AS (SELECT doc_id, lang, text, t FROM m
        |  WHERE (n_tokens BETWEEN 10 AND 100000)
        |    AND (mean_token_len BETWEEN 2.0 AND 12.0)
        |    AND stopword_ratio >= 0.01),
        |f AS (SELECT doc_id, lang,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS doc_fp,
        |    len(t) AS n_ws_tokens,
        |    CAST(list_aggregate(list_transform(t,
        |        x -> CAST(ceil(len(x) / 4.0) AS BIGINT)), 'sum')
        |      + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
        |      AS BIGINT) AS n_bpeish_tokens
        |  FROM q),
        |d AS (SELECT *, row_number() OVER (PARTITION BY doc_fp
        |    ORDER BY doc_id) AS rn FROM f)
        |SELECT doc_id, lang, n_ws_tokens, n_bpeish_tokens
        |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q104_containment" ->
      """WITH s AS (SELECT doc_id, lang,
        |    list_distinct(string_split(text, ' ')) AS ws FROM documents)
        |SELECT a.doc_id AS ida, b.doc_id AS idb, a.lang AS lang,
        |  len(list_intersect(a.ws, b.ws)) * 1.0 / len(a.ws) AS containment
        |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id <> b.doc_id
        |WHERE a.doc_id % 10 = 0
        |  AND len(list_intersect(a.ws, b.ws)) * 1.0 / len(a.ws) >= 0.95
        |ORDER BY ida, idb""".stripMargin,
    "q101_chunking" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS t
        |    FROM documents),
        |c AS (SELECT doc_id, t, unnest(generate_series(0,
        |    CAST(ceil(greatest(len(t) - 32, 0) / 16.0) AS INT)))
        |    AS chunk_index FROM s)
        |SELECT doc_id, CAST(chunk_index AS INT) AS chunk_index,
        |  CAST(chunk_index * 16 AS BIGINT) AS chunk_start,
        |  CAST(len(t[chunk_index * 16 + 1 : chunk_index * 16 + 32])
        |    AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(t[chunk_index * 16 + 1 : chunk_index * 16 + 32],
        |    ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_index""".stripMargin,
    "q99_curation_v3" ->
      """WITH s AS (SELECT doc_id, lang, source, text,
        |    string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT *, len(t) AS n_tokens,
        |    (length(text) - len(t) + 1) * 1.0 / len(t) AS mtl,
        |    len(list_filter(t, w -> w IN ('the','a','is','and','of','to',
        |        'in','that','it','for'))) * 1.0 / len(t) AS swr,
        |    greatest(len(t) - 3, 0) + 1 AS n3,
        |    len(list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 3, 0) + 1),
        |      i -> array_to_string(t[i : least(i + 2, len(t))], chr(1)))))
        |      AS d3
        |  FROM s),
        |base AS (SELECT doc_id, lang, source, text, t FROM m
        |  WHERE n_tokens BETWEEN 10 AND 100000
        |    AND mtl BETWEEN 2.0 AND 12.0 AND swr >= 0.01
        |    AND NOT ((n3 - d3) * 100 >= n3 * 50)),
        |sh8 AS (SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 8, 0) + 1),
        |      i -> array_to_string(t[i : least(i + 7, len(t))], chr(1))))
        |      AS sh FROM base),
        |ex AS (SELECT doc_id, md5(unnest(sh)) AS h FROM sh8),
        |dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= 2),
        |spanstat AS (SELECT e.doc_id, count(*) AS nsp,
        |    sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS ndup
        |  FROM ex e LEFT JOIN dup d ON e.h = d.h GROUP BY e.doc_id),
        |surv AS (SELECT b.* FROM base b JOIN spanstat sp
        |  ON b.doc_id = sp.doc_id WHERE NOT (ndup * 100 >= nsp * 50)),
        |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 3, 0) + 1),
        |      i -> array_to_string(t[i : least(i + 2, len(t))], chr(1)))))
        |      AS sh
        |  FROM s WHERE doc_id % 97 = 0),
        |ssh AS (SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, greatest(len(t) - 3, 0) + 1),
        |      i -> array_to_string(t[i : least(i + 2, len(t))], chr(1))))
        |      AS sh FROM surv),
        |hits AS (SELECT doc_id, count(*) AS n_hit FROM
        |    (SELECT doc_id, unnest(sh) AS sh FROM ssh) d
        |  JOIN bsh USING (sh) GROUP BY doc_id),
        |clean AS (SELECT surv.* FROM surv
        |  LEFT JOIN ssh ON surv.doc_id = ssh.doc_id
        |  LEFT JOIN hits ON surv.doc_id = hits.doc_id
        |  WHERE NOT (coalesce(n_hit, 0) * 100 >= len(sh) * 80
        |    AND len(sh) > 0)),
        |t2 AS (SELECT doc_id, source, lang,
        |    CAST(len(t) AS BIGINT) AS tok FROM clean),
        |c AS (SELECT doc_id, source, lang, tok,
        |    CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM t2)
        |SELECT doc_id, source, lang, cum_tokens FROM c
        |WHERE cum_tokens - tok < 800 ORDER BY doc_id""".stripMargin,
    "q97_cms_termcounts" ->
      """SELECT term, COUNT(*) AS n_exact, TRUE AS viol_ok FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term ORDER BY term""".stripMargin,
    "q96_bloom_contamination" ->
      """WITH s AS (SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1)))) AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |bsh AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 97 = 0),
        |dsh AS (SELECT doc_id, unnest(sh) AS sh FROM s),
        |hits AS (SELECT doc_id, count(*) AS n_hit
        |  FROM dsh JOIN bsh USING (sh) GROUP BY doc_id)
        |SELECT s.doc_id, len(sh) AS n_shingles,
        |  coalesce(n_hit, 0) AS n_hit,
        |  TRUE AS contaminated
        |FROM s LEFT JOIN hits ON s.doc_id = hits.doc_id
        |WHERE coalesce(n_hit, 0) * 100 >= len(sh) * 80 AND len(sh) > 0
        |ORDER BY s.doc_id""".stripMargin,
    "q92_tfidf" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM e2 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |    round(tf * ln((SELECT n FROM n) * 1.0 / df), 6) AS tfidf
        |  FROM tf JOIN dfq USING (term)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS INT) AS rank FROM sc)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q93_vocab_oov" ->
      """WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |e2 AS (SELECT doc_id, term FROM ex WHERE length(term) > 0),
        |vc AS (SELECT term, count(*) AS c FROM e2 GROUP BY 1),
        |vocab AS (SELECT term FROM vc ORDER BY c DESC, term LIMIT 20),
        |j AS (SELECT e2.doc_id,
        |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM e2 LEFT JOIN vocab v USING (term))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  sum(oov) * 100 >= count(*) * 30 AS oov_flagged
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q94_repeated_ngrams" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(greatest(len(w) - 3, 0) + 1 AS BIGINT) AS n_ngrams,
        |    CAST(len(list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 3, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 2, len(w))], chr(1)))))
        |      AS BIGINT) AS n_distinct
        |  FROM s)
        |SELECT doc_id, n_ngrams, n_ngrams - n_distinct AS n_repeated,
        |  (n_ngrams - n_distinct) * 100 >= n_ngrams * 50 AS rep_flagged
        |FROM m ORDER BY doc_id""".stripMargin,
    "q95_incremental_new" ->
      """WITH fp AS (SELECT doc_id, lang, source,
        |    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |corpus AS (SELECT fp FROM fp WHERE doc_id < 400),
        |batch AS (SELECT doc_id, lang, source, fp FROM fp WHERE doc_id >= 400
        |  UNION ALL
        |  SELECT doc_id + 10000, lang, source, fp FROM fp WHERE doc_id < 50)
        |SELECT doc_id, lang, source FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,
    "q88_span_dedup" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |      generate_series(1, greatest(len(w) - 8, 0) + 1),
        |      i -> array_to_string(w[i : least(i + 7, len(w))], chr(1))))
        |      AS sh
        |  FROM s),
        |ex AS (SELECT doc_id, md5(unnest(sh)) AS h FROM sh),
        |dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= 2)
        |SELECT e.doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_spans,
        |  sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) * 100
        |    >= count(*) * 50 AS span_dup_flagged
        |FROM ex e LEFT JOIN dup d ON e.h = d.h
        |GROUP BY e.doc_id ORDER BY e.doc_id""".stripMargin,
    "q89_semantic_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (SELECT vec_id + 100000 AS vec_id,
        |    list_prepend(CAST(embedding[1] + 0.001 AS FLOAT), embedding[2:])
        |      AS embedding FROM e),
        |a AS (SELECT * FROM e UNION ALL SELECT * FROM p),
        |pairs AS (SELECT x.vec_id AS ia, y.vec_id AS ib
        |  FROM a x JOIN a y ON x.vec_id <> y.vec_id
        |  WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.99),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM a
        |  UNION
        |  SELECT p.ia, r.r FROM pairs p JOIN reach r ON p.ib = r.id)
        |SELECT id AS vec_id, min(r) AS cluster_id, id = min(r) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "q91_source_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, source, tok,
        |    CAST(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, cum_tokens FROM c
        |WHERE cum_tokens - tok < 800 ORDER BY doc_id""".stripMargin,
    "q30_term_freq" ->
      """SELECT term, COUNT(*) AS term_count FROM (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE length(term) > 0
        |GROUP BY term HAVING COUNT(*) >= 100
        |ORDER BY term""".stripMargin,
    "q31_term_lookup" ->
      """SELECT doc_id,
        |  len(list_filter(list_distinct(string_split(text, ' ')),
        |      w -> w IN ('spark','vector','stream'))) AS n_matched
        |FROM documents
        |WHERE len(list_filter(list_distinct(string_split(text, ' ')),
        |      w -> w IN ('spark','vector','stream'))) > 0
        |ORDER BY doc_id""".stripMargin
  )
}
