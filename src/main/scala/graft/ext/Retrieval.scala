package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality evaluation — the measurement leg of the retrieval
  * family ([[TextAnalysis.bm25TopN]] lexical, [[Similarity.bruteForceTopK]]
  * / LSH / IVF vector, [[Similarity.rrfFuse]] hybrid): recall@k,
  * precision@k, MRR@k and nDCG@k (Järvelin & Kekäläinen, TOIS 2002;
  * exponential-gain form) against graded relevance judgments,
  * macro-averaged over judged queries.
  *
  * Scale shape: `results` is candidate-bounded per query (each row set
  * came out of a retriever's top-N) and `qrels` is judgment-bounded —
  * both grow with |queries|, never with the corpus. Every window and
  * aggregate partitions by the query id, so the work distributes across
  * queries; the only cross joins are against the broadcast literal
  * cutoff list. No driver-side collection.
  */
object Retrieval {

  /** DEDUP-AWARE top-N: collapse a ranked candidate list to its best
    * row per duplicate cluster, then re-cut — the search-serving /
    * training-mix op that stops near-identical documents from
    * crowding a result page or a sampled batch (crawl corpora are
    * full of boilerplate twins; retrieval over them returns the same
    * document k times without this). `clusterCol` is any
    * deterministic duplicate key — an exact-content or prefix
    * fingerprint ([[TextAnalysis]]), a MinHash-LSH cluster id
    * ([[Dedup]]), an URL-canonicalization key — so the collapse
    * composes with every dedup lane the engine already certifies.
    *
    * Per cluster the BEST row survives (score desc, id asc — the
    * bruteForceTopK tie discipline; pre-round float scores whose ties
    * must break identically across engines), then the survivors re-
    * rank globally and cut at `topN`. A NULL cluster key means "not
    * dedupable" (a doc whose fingerprinting failed): the row survives
    * as its own singleton — a bare window would weld every null-keyed
    * row into ONE cluster and silently drop unrelated documents.
    * Scale shape: the input is a retriever's top-N —
    * candidate-bounded by construction — so both windows run over
    * hundreds of rows; the corpus-scale work happened inside the
    * retriever (the [[Similarity.rrfFuse]] stance). That contract is
    * ENFORCED, not just documented (the [[Similarity.mmrTopK]]
    * discipline): EVERY window partition in the plan is bounded at
    * `maxCandidates` rows in-plan — a raise_error riding each
    * window's existing rank filter, no extra count job. A hot cluster
    * past the bound fails at the per-cluster collapse; a survivor
    * set (distinct clusters + unkeyed rows) past it fails at the
    * re-cut — instead of silently serializing an unbounded partition
    * through one task. In the single-query form the re-cut is one
    * unpartitioned window, so its single-partition exchange carries
    * at most `maxCandidates` rows.
    *
    * `queryCol` = the BATCH form (the [[graft.ext.Bm25Index.topNBatch]]
    * shape): the input carries a whole query set's candidate lists
    * and BOTH windows key on (query, …) — the collapse per (query,
    * cluster), the re-cut per query — so the work distributes across
    * queries and the single-partition exchange disappears from the
    * plan entirely; a duplicate document is collapsed per query, not
    * across queries (two queries may legitimately surface the same
    * cluster). Per-query output ≡ the single-query form
    * (spec-pinned). Output: input columns + `rank`. */
  def dedupTopN(ranked: DataFrame, idCol: String, scoreCol: String,
      clusterCol: String, topN: Int,
      maxCandidates: Int = 100000,
      queryCol: Option[String] = None): DataFrame = {
    require(topN > 0, s"topN must be positive: $topN")
    require(maxCandidates >= topN,
      s"maxCandidates $maxCandidates < topN $topN")
    // a null query id in batch mode would weld unrelated candidates
    // into one ranking (the topNBatch hazard) — refuse in-plan
    val ranked0 = queryCol.fold(ranked)(q => ranked.filter(
      when(col(q).isNull, raise_error(lit(
        s"dedupTopN: null $q in batch input"))).otherwise(lit(true))))
    val qKey = queryCol.map(col).toSeq
    val wC = Window.partitionBy(qKey :+ col(clusterCol): _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    val wG = Window.partitionBy(qKey: _*)
      .orderBy(col(scoreCol).desc, col(idCol))
    // per-cluster bound rides the collapse rank it already computes:
    // a hot near-duplicate cluster past the bound is exactly the
    // unbounded-partition hazard the contract refuses
    val best = ranked0.filter(col(clusterCol).isNotNull)
      .withColumn("_cr", row_number().over(wC))
      .filter(when(col("_cr") > maxCandidates, raise_error(concat(
          lit(s"dedupTopN: one duplicate cluster exceeds " +
            s"maxCandidates=$maxCandidates rows ("),
          col("_cr").cast("string"),
          lit(") — feed a retriever's bounded top-N, not an unbounded " +
            "frame"))).cast("boolean"))
        .otherwise(col("_cr") === 1))
      .drop("_cr")
    val unkeyed = ranked0.filter(col(clusterCol).isNull)
    // survivor-side bound rides the re-cut rank the same way (rows
    // past the bound throw before the cut could drop them)
    val what = queryCol.fold("survivor set")(q =>
      s"survivor set for a single $q")
    best.unionByName(unkeyed)
      .withColumn("rank", row_number().over(wG))
      .filter(when(col("rank") > maxCandidates, raise_error(concat(
          lit(s"dedupTopN: $what exceeds maxCandidates=$maxCandidates " +
            "rows ("), col("rank").cast("string"),
          lit(") — feed a retriever's bounded top-N, not an unbounded " +
            "frame"))).cast("boolean"))
        .otherwise(col("rank") <= topN))
  }

  /** HARD-NEGATIVE mining — the contrastive-training sampler: per
    * query, the `k` TOP-SCORED candidates that are NOT known
    * positives, after skipping the `skipTop` highest-ranked
    * non-positives (near the top of a ranking, an "un-judged" document
    * is as likely a missing positive label as a true negative — the
    * standard de-noising band for training dual encoders). Negatives
    * rank (score desc, doc asc) — the [[dedupTopN]] tie discipline;
    * pre-round float scores whose ties must break identically across
    * engines. Output: the surviving rows with `neg_rank` 1..k per
    * query (band-skipped rank).
    *
    * `run`: (queryCol, docCol, scoreCol) — a retriever's
    * candidate-bounded lists, rows unique per (query, doc).
    * `positives`: (queryCol, docCol) judged-relevant pairs; rows of
    * `run` matching a positive are removed by an anti-join BEFORE
    * ranking, so the skip band counts only non-positives.
    *
    * Scale shape: batch by construction — the anti-join hashes on the
    * (query, doc) pair and the one window keys on the query id, so a
    * 10k-query mining run is one distributed job (the
    * [[graft.ext.Bm25Index.topNBatch]] shape). The bounded-input
    * contract is ENFORCED in-plan (the [[Similarity.mmrTopK]]
    * discipline): a per-query candidate list past `maxCandidates`
    * refuses loudly via a raise_error riding the rank filter — no
    * extra count job — instead of silently serializing an unbounded
    * partition. Null query/doc ids refuse in-plan (a null key would
    * weld unrelated rows, or survive every anti-join forever). */
  def hardNegatives(run: DataFrame, positives: DataFrame,
      queryCol: String, docCol: String, scoreCol: String, k: Int,
      skipTop: Int = 0, maxCandidates: Int = 100000): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(skipTop >= 0, s"skipTop must be >= 0: $skipTop")
    require(maxCandidates >= skipTop + k,
      s"maxCandidates $maxCandidates < skipTop $skipTop + k $k")
    val run0 = run.filter(
      when(col(queryCol).isNull || col(docCol).isNull,
        raise_error(lit(s"hardNegatives: null $queryCol/$docCol in " +
          "the run — a null key welds unrelated rows or dodges the " +
          "positives anti-join"))).otherwise(lit(true)))
    val pos = positives.select(col(queryCol), col(docCol))
    val nonPos = run0.join(pos, Seq(queryCol, docCol), "left_anti")
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(docCol))
    nonPos.withColumn("_nr", row_number().over(w))
      .filter(when(col("_nr") > maxCandidates, raise_error(concat(
          lit(s"hardNegatives: one query's candidate list exceeds " +
            s"maxCandidates=$maxCandidates rows ("),
          col("_nr").cast("string"),
          lit(") — feed a retriever's bounded top-N, not an unbounded " +
            "frame"))).cast("boolean"))
        .otherwise(col("_nr") > skipTop && col("_nr") <= skipTop + k))
      .withColumn("neg_rank", (col("_nr") - skipTop).cast("int"))
      .drop("_nr")
  }

  /** Compute recall/precision/MRR/nDCG at each cutoff in `ks`.
    *
    * `results`: (queryCol, docCol, scoreCol) ranked candidates — ranks
    * are assigned here as (score desc, doc asc), so pre-round any
    * float score whose ties must break identically across engines.
    * `qrels`: (queryCol, docCol, relCol) graded judgments, unique per
    * (query, doc); rel <= 0 rows count as non-relevant (a TREC
    * negative judgment never contributes gain). Retrieved documents
    * without a judgment count as non-relevant; a judged query the run
    * never answered scores 0 on every metric (the trec_eval `-c`
    * convention — dropping it would reward retrievers that return
    * nothing on hard queries); only queries with no positive judgment
    * at all are excluded (no ideal ranking exists). MRR uses the
    * first rank with rel > 0; nDCG uses gain 2^rel - 1 with the ideal
    * ranking truncated at k.
    * Output: one row per cutoff, (k, recall, precision, mrr, ndcg),
    * metrics rounded at 1e-6. */
  def metrics(results: DataFrame, qrels: DataFrame, queryCol: String,
      docCol: String, scoreCol: String, relCol: String,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"bad cutoffs: $ks")
    val spark = results.sparkSession
    import spark.implicits._
    val kdf = broadcast(ks.distinct.sorted.toDF("k"))

    val wr = Window.partitionBy(queryCol)
      .orderBy(col(scoreCol).desc, col(docCol))
    // rel <= 0 judgments are dropped HERE so they read as unjudged
    // (gain 0) on the run side, mirroring the ideal side's filter
    val judged = results.select(col(queryCol), col(docCol), col(scoreCol))
      .withColumn("rank", row_number().over(wr))
      .join(qrels.filter(col(relCol) > 0)
          .select(col(queryCol), col(docCol),
            col(relCol).cast("double").as("rel")),
        Seq(queryCol, docCol), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0.0)))

    val inK = col("rank") <= col("k")
    val perQK = judged.crossJoin(kdf)
      .groupBy(col(queryCol), col("k"))
      .agg(
        sum(when(inK && col("rel") > 0, 1L).otherwise(0L)).as("hits"),
        min(when(inK && col("rel") > 0, col("rank"))).as("first_rel"),
        sum(when(inK, (pow(lit(2.0), col("rel")) - 1.0)
          / log2(col("rank") + 1)).otherwise(0.0)).as("dcg"))

    val wi = Window.partitionBy(queryCol)
      .orderBy(col("rel").desc, col(docCol))
    val ideal = qrels.select(col(queryCol), col(docCol),
        col(relCol).cast("double").as("rel"))
      .filter(col("rel") > 0)
      .withColumn("irank", row_number().over(wi))
      .crossJoin(kdf)
      .groupBy(col(queryCol), col("k"))
      .agg(
        count(lit(1)).as("tot_rel"),
        sum(when(col("irank") <= col("k"),
          (pow(lit(2.0), col("rel")) - 1.0)
            / log2(col("irank") + 1)).otherwise(0.0)).as("idcg"))

    // LEFT from the ideal side: a query with no positive judgment has
    // no ideal ranking and drops; a JUDGED query the run never
    // answered stays and scores 0 everywhere (hits/dcg default 0)
    ideal.join(perQK, Seq(queryCol, "k"), "left")
      .groupBy(col("k"))
      .agg(
        round(avg(coalesce(col("hits"), lit(0L)) / col("tot_rel")), 6)
          .as("recall"),
        round(avg(coalesce(col("hits"), lit(0L)) / col("k")), 6)
          .as("precision"),
        round(avg(coalesce(lit(1.0) / col("first_rel"), lit(0.0))), 6)
          .as("mrr"),
        round(avg(coalesce(col("dcg"), lit(0.0)) / col("idcg")), 6)
          .as("ndcg"))
      .orderBy(col("k"))
  }
}
