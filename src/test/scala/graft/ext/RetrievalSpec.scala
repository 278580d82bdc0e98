package graft.ext

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Reciprocal-rank fusion semantics pinned by hand: rank assignment,
  * the missing-document contribution and tie-breaks. */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rrfFuse: hand-computed scores, missing docs contribute zero") {
    // lexical list: a(1), b(2), c(3); vector list: c(1), a(2), d(3)
    val lex = Seq(("a", 9.0), ("b", 5.0), ("c", 2.0)).toDF("id", "s")
    val vec = Seq(("c", 0.99), ("a", 0.90), ("d", 0.80)).toDF("id", "s")
    val out = Similarity.rrfFuse(Seq(lex -> "s", vec -> "s"), "id",
        topN = 10, rrfK = 60)
      .collect().map(r => (r.getString(0), r.get(1), r.get(2),
        r.getDouble(3))).toList
    def rrf(rs: Int*): Double =
      BigDecimal(rs.map(r => 1.0 / (60 + r)).sum)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a: 1/(60+1)+1/(60+2); c: 1/(60+3)+1/(60+1); b: 1/(60+2); d: 1/(60+3)
    assert(out == List(
      ("a", 1, 2, rrf(1, 2)),
      ("c", 3, 1, rrf(3, 1)),
      ("b", 2, null, rrf(2)),
      ("d", null, 3, rrf(3))))
  }

  test("rrfFuse: ties in a list break by id in rank assignment") {
    val l = Seq(("b", 1.0), ("a", 1.0), ("c", 0.5)).toDF("id", "s")
    val out = Similarity.rrfFuse(Seq(l -> "s"), "id", topN = 3)
      .select("id", "rank_1").as[(String, Int)].collect().toList
    assert(out.sortBy(_._2) == List(("a", 1), ("b", 2), ("c", 3)))
  }

  test("retrievalMetrics: hand-computed recall/precision/MRR/nDCG") {
    // one query; ranked run a(1) b(2) c(3) d(4); qrels: b rel=2,
    // d rel=1, e rel=2 (e never retrieved)
    val results = Seq(("q1", "a", 0.9), ("q1", "b", 0.8),
      ("q1", "c", 0.7), ("q1", "d", 0.6)).toDF("qid", "doc", "s")
    val qrels = Seq(("q1", "b", 2), ("q1", "d", 1), ("q1", "e", 2))
      .toDF("qid", "doc", "rel")
    val out = Retrieval.metrics(results, qrels, "qid", "doc", "s",
        "rel", Seq(2, 4))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toList
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ideal ranking: b(2) e(2) d(1) -> gains 3,3,1
    val idcg2 = 3.0 / (math.log(2) / math.log(2)) +
      3.0 / (math.log(3) / math.log(2))
    val idcg4 = idcg2 + 1.0 / (math.log(4) / math.log(2))
    // run gains: a 0, b 3@2, c 0, d 1@4
    val dcg2 = 3.0 / (math.log(3) / math.log(2))
    val dcg4 = dcg2 + 1.0 / (math.log(5) / math.log(2))
    assert(out == List(
      (2, r6(1.0 / 3), 0.5, 0.5, r6(dcg2 / idcg2)),
      (4, r6(2.0 / 3), 0.5, 0.5, r6(dcg4 / idcg4))))
  }

  test("retrievalMetrics: judged-but-unanswered queries score 0; " +
      "negative judgments contribute no gain") {
    // q1 answered perfectly; q2 judged but absent from the run ->
    // averages halve instead of silently dropping q2
    val results = Seq(("q1", "a", 1.0)).toDF("qid", "doc", "s")
    val qrels = Seq(("q1", "a", 1), ("q2", "z", 2))
      .toDF("qid", "doc", "rel")
    val out = Retrieval.metrics(results, qrels, "qid", "doc", "s",
      "rel", Seq(1)).head()
    assert(out.getDouble(1) == 0.5 && out.getDouble(2) == 0.5 &&
      out.getDouble(3) == 0.5 && out.getDouble(4) == 0.5)
    // a TREC negative judgment on a retrieved doc is non-relevant,
    // never negative gain: rank-1 docX rel=-1 must score exactly like
    // an unjudged docX
    val res2 = Seq(("q1", "x", 1.0), ("q1", "a", 0.5))
      .toDF("qid", "doc", "s")
    val neg = Seq(("q1", "a", 1), ("q1", "x", -1))
      .toDF("qid", "doc", "rel")
    val unj = Seq(("q1", "a", 1)).toDF("qid", "doc", "rel")
    val gotNeg = Retrieval.metrics(res2, neg, "qid", "doc", "s",
      "rel", Seq(2)).collect().toSeq
    val gotUnj = Retrieval.metrics(res2, unj, "qid", "doc", "s",
      "rel", Seq(2)).collect().toSeq
    assert(gotNeg == gotUnj && gotNeg.head.getDouble(4) > 0)
  }

  test("retrievalMetrics: unjudged queries drop from the macro-average") {
    val results = Seq(("q1", "a", 1.0), ("q2", "a", 1.0))
      .toDF("qid", "doc", "s")
    val qrels = Seq(("q1", "a", 1)).toDF("qid", "doc", "rel")
    val out = Retrieval.metrics(results, qrels, "qid", "doc", "s",
      "rel", Seq(1)).collect()
    assert(out.length == 1 && out(0).getDouble(1) == 1.0 &&
      out(0).getDouble(4) == 1.0) // q2 contributes nothing
  }

  test("dedupTopN: best row per cluster survives (score desc, id " +
      "tie-break), survivors re-rank globally, and the cut applies " +
      "after the collapse") {
    // clusters: A has three members (7 wins on score; 3 beats 9 on id
    // at the tied score below but loses to 7), B two (20 wins), C one
    val ranked = Seq(
      (7L, 0.9, "A"), (3L, 0.8, "A"), (9L, 0.8, "A"),
      (20L, 0.85, "B"), (21L, 0.5, "B"),
      (30L, 0.7, "C")).toDF("doc_id", "score", "fp")
    val got = Retrieval.dedupTopN(ranked, "doc_id", "score", "fp", 10)
      .select($"doc_id", $"score", $"fp", $"rank")
      .as[(Long, Double, String, Int)].collect().toSeq.sortBy(_._4)
    assert(got == Seq(
      (7L, 0.9, "A", 1), (20L, 0.85, "B", 2), (30L, 0.7, "C", 3)),
      s"got $got")
    // the cut applies AFTER the collapse: topN = 2 keeps the two best
    // SURVIVORS, not the two best raw rows (which share cluster A)
    val cut = Retrieval.dedupTopN(ranked, "doc_id", "score", "fp", 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(cut == Set(7L, 20L), s"got $cut")
    // per-cluster tie-break is by id: drop 7, then 3 beats 9
    val tied = Retrieval.dedupTopN(ranked.filter($"doc_id" =!= 7L),
        "doc_id", "score", "fp", 10)
      .filter($"fp" === "A").select($"doc_id").as[Long].collect().toSeq
    assert(tied == Seq(3L), s"got $tied")
    // NULL cluster keys mean "not dedupable": each survives as its
    // own singleton instead of welding into one dropped cluster
    val withNulls = ranked.unionByName(Seq(
      (40L, 0.95, null.asInstanceOf[String]),
      (41L, 0.88, null.asInstanceOf[String]))
      .toDF("doc_id", "score", "fp"))
    val kept = Retrieval.dedupTopN(withNulls, "doc_id", "score",
        "fp", 10)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(7L, 20L, 30L, 40L, 41L),
      s"null-keyed rows must each survive: $kept")
  }

  test("mmrTopK: greedy trade-off picks the diverse runner-up over " +
      "the redundant one; step 1 is the relevance argmax; bounded " +
      "pools are enforced") {
    // query direction ~(1,0): doc 10 is the relevance argmax, doc 11
    // is nearly its twin, doc 12 is orthogonal with lower relevance —
    // at lambda 0.7 greedy must pick 10, then 12 (diversity beats the
    // twin), then 11 (hand-replayed, and cross-checked against the
    // DuckDB recursive-CTE replay used by q197's oracle)
    val pool = Seq(
      (1L, 10L, Seq(1.0, 0.0), 0.95),
      (1L, 11L, Seq(0.99, 0.14), 0.93),
      (1L, 12L, Seq(0.0, 1.0), 0.60),
      (1L, 13L, Seq(0.7, 0.7), 0.80),
      (2L, 20L, Seq(1.0, 0.0), 0.90),
      (2L, 21L, Seq(0.0, 1.0), 0.50))
      .toDF("query_id", "doc_id", "v", "rel")
    val got = Similarity.mmrTopK(pool, "query_id", "doc_id", "v",
        "rel", k = 3, lambda = 0.7)
      .select($"query_id", $"doc_id", $"rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set(
      (1L, 10L, 1), (1L, 12L, 2), (1L, 11L, 3),
      (2L, 20L, 1), (2L, 21L, 2)), // k > pool truncates to the pool
      s"got $got")
    // lambda = 1 degenerates to pure relevance order
    val pure = Similarity.mmrTopK(pool.filter($"query_id" === 1L),
        "query_id", "doc_id", "v", "rel", k = 4, lambda = 1.0)
      .orderBy($"rank").select($"doc_id").as[Long].collect().toSeq
    assert(pure == Seq(10L, 11L, 13L, 12L), s"got $pure")
    // an unbounded candidate feed is refused loudly
    val big = spark.range(20000).select(lit(1L).as("query_id"),
      $"id".as("doc_id"), array(lit(1.0), lit(0.0)).as("v"),
      lit(0.5).as("rel"))
    val ex = intercept[org.apache.spark.SparkException](
      Similarity.mmrTopK(big, "query_id", "doc_id", "v", "rel",
        k = 2, lambda = 0.5, maxPool = 1000).collect())
    assert(ex.getMessage != null)
    // degenerate inputs refuse loudly, never an opaque greedy-loop
    // crash: a zero-norm vector would NaN the cosine, a NaN rel would
    // NaN every objective
    val zeroVec = pool.unionByName(Seq(
      (1L, 99L, Seq(0.0, 0.0), 0.4)).toDF("query_id", "doc_id", "v", "rel"))
    val exZ = intercept[org.apache.spark.SparkException](
      Similarity.mmrTopK(zeroVec, "query_id", "doc_id", "v", "rel",
        k = 2, lambda = 0.7).collect())
    assert(exZ.getMessage.contains("zero-norm") ||
      exZ.getCause != null)
    val nanRel = pool.unionByName(Seq(
      (1L, 98L, Seq(0.5, 0.5), Double.NaN))
      .toDF("query_id", "doc_id", "v", "rel"))
    val exN = intercept[org.apache.spark.SparkException](
      Similarity.mmrTopK(nanRel, "query_id", "doc_id", "v", "rel",
        k = 2, lambda = 0.7).collect())
    assert(exN.getMessage != null)
  }

  test("dedupTopN / rrfFuse: an input past maxCandidates refuses " +
      "loudly instead of silently single-partition-sorting it") {
    // distinct cluster keys: the dedupTopN guard bounds the rows the
    // GLOBAL (single-partition) window actually sorts — the per-
    // cluster collapse upstream is a keyed, parallel window
    val big = spark.range(0, 500).select(col("id"),
      (col("id") % 7).cast("double").as("s"),
      col("id").cast("string").as("fp"))
    // under the bound: both run clean
    assert(Retrieval.dedupTopN(big, "id", "s", "fp", topN = 10,
      maxCandidates = 500).count() == 10)
    assert(Similarity.rrfFuse(Seq(big -> "s"), "id", topN = 10,
      maxCandidates = 500).count() == 10)
    // past the bound: the in-plan guard throws at action time with the
    // contract message (a SparkException wrapping the raise_error)
    val e1 = intercept[Exception](Retrieval.dedupTopN(big, "id", "s",
      "fp", topN = 10, maxCandidates = 499).count())
    assert(e1.getMessage.contains("maxCandidates"), e1.getMessage)
    val e2 = intercept[Exception](Similarity.rrfFuse(Seq(big -> "s"),
      "id", topN = 10, maxCandidates = 499).count())
    assert(e2.getMessage.contains("maxCandidates"), e2.getMessage)
    // a bound below the cut is a caller bug, refused up front
    val e3 = intercept[IllegalArgumentException](Retrieval.dedupTopN(
      big, "id", "s", "fp", topN = 10, maxCandidates = 9))
    assert(e3.getMessage.contains("maxCandidates"))
    val e4 = intercept[IllegalArgumentException](Similarity.rrfFuse(
      Seq(big -> "s"), "id", topN = 10, maxCandidates = 9))
    assert(e4.getMessage.contains("maxCandidates"))
  }

  test("mmrTopK: ragged vector widths refuse loudly") {
    val cands = Seq(
      (1L, 10L, Seq(1.0, 0.0), 0.9),
      (1L, 11L, Seq(1.0, 0.0, 0.5), 0.8))
      .toDF("q", "d", "v", "rel")
    val ex = intercept[Exception](Similarity.mmrTopK(cands, "q", "d",
      "v", "rel", k = 2, lambda = 0.7).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("ragged vector width")),
      msgs(ex).mkString(" | "))
  }

  test("rrfFuseBatch / batched dedupTopN: per-query output equals the " +
      "single-query form, windows are keyed (no single-partition " +
      "exchange in the plan), and the per-query bound refuses") {
    // two ranked lists over 4 queries × 30 candidates, scores seeded
    val base = spark.range(0, 120).select(
      (col("id") % 4).as("q"), (col("id") / 4).as("d"),
      ((col("id") * 37 % 101).cast("double") / 100).as("s1"),
      ((col("id") * 53 % 97).cast("double") / 100).as("s2"),
      (col("id") % 11).cast("string").as("fp"))
    val l1 = base.select("q", "d", "s1")
    val l2 = base.filter(col("d") % 3 =!= 1).select("q", "d", "s2")
    val fused = Similarity.rrfFuseBatch(Seq(l1 -> "s1", l2 -> "s2"),
      "q", "d", topN = 10)
    // keyed windows: the batch plan must carry NO single-partition
    // exchange (the one-query form's structural cost, gone)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"batched fusion must not single-partition: $plan")
    (0L to 3L).foreach { q =>
      val single = Similarity.rrfFuse(Seq(
          l1.filter(col("q") === q).drop("q") -> "s1",
          l2.filter(col("q") === q).drop("q") -> "s2"),
        "d", topN = 10)
        .select("d", "rank_1", "rank_2", "rrf_score")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
        .toSeq
      val batch = fused.filter(col("q") === q).orderBy("rank")
        .select("d", "rank_1", "rank_2", "rrf_score")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
        .toSeq
      assert(batch == single, s"query $q: batch $batch != single $single")
    }
    // per-(list, query) bound: 30 candidates for one query trip a 29 cap
    val e1 = intercept[Exception](Similarity.rrfFuseBatch(
      Seq(l1 -> "s1"), "q", "d", topN = 10, maxCandidates = 29).count())
    assert(e1.getMessage.contains("maxCandidates"), e1.getMessage)
    // a null query id would weld unrelated rankings — refused in-plan
    // by BOTH batch operators (the topNBatch discipline)
    val withNull = l1.unionByName(Seq((null.asInstanceOf[java.lang.Long],
        999L, 0.5)).toDF("q", "d", "s1")
      .select(col("q").cast("long"), col("d"), col("s1")))
    val eN1 = intercept[Exception](Similarity.rrfFuseBatch(
      Seq(withNull -> "s1"), "q", "d", topN = 10).count())
    assert(eN1.getMessage.contains("null query id"), eN1.getMessage)
    val eN2 = intercept[Exception](Retrieval.dedupTopN(
      withNull.withColumn("fp", col("d").cast("string")),
      "d", "s1", "fp", topN = 5, queryCol = Some("q")).count())
    assert(eN2.getMessage.contains("null q"), eN2.getMessage)
    // a HOT duplicate cluster past the bound refuses at the collapse
    // (post-collapse survivor counts alone would never see it)
    val hot = spark.range(0, 50).select(col("id").as("d"),
      lit(1.0).as("s1"), lit("same").as("fp"))
    val eH = intercept[Exception](Retrieval.dedupTopN(hot, "d", "s1",
      "fp", topN = 5, maxCandidates = 49).count())
    assert(eH.getMessage.contains("duplicate cluster"), eH.getMessage)
    // batched dedup-aware collapse: per (query, cluster), then a
    // per-query re-cut — equal to the single-query form per query
    val scored = base.select(col("q"), col("d"), col("s1"), col("fp"))
    val dBatch = Retrieval.dedupTopN(scored, "d", "s1", "fp",
      topN = 5, queryCol = Some("q"))
    val dPlan = dBatch.queryExecution.executedPlan.toString
    assert(!dPlan.contains("SinglePartition"),
      s"batched dedup must not single-partition: $dPlan")
    (0L to 3L).foreach { q =>
      val single = Retrieval.dedupTopN(scored.filter(col("q") === q),
          "d", "s1", "fp", topN = 5)
        .select("d", "s1", "fp", "rank")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
        .toSet
      val batch = dBatch.filter(col("q") === q)
        .select("d", "s1", "fp", "rank")
        .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3)))
        .toSet
      assert(batch == single, s"query $q: batch $batch != single $single")
    }
  }

  test("hardNegatives: positives removed, skip band counts non-positives, ties by doc id") {
    // query 1 ranking (score desc, doc asc among the 0.8 tie):
    //   p1(0.9, positive), n1(0.8), n2(0.8), n3(0.7), p2(0.6, positive), n4(0.5)
    // non-positive ranks: n1=1, n2=2, n3=3, n4=4; skipTop=1, k=2 →
    // negatives n2(neg_rank 1), n3(neg_rank 2) — p1/p2 NEVER appear,
    // and the skip band consumed n1, not a positive
    val run = Seq(
      (1L, "p1", 0.9), (1L, "n2", 0.8), (1L, "n1", 0.8),
      (1L, "n3", 0.7), (1L, "p2", 0.6), (1L, "n4", 0.5),
      (2L, "n5", 0.4), (2L, "n6", 0.3)
    ).toDF("query_id", "doc_id", "score")
    val pos = Seq((1L, "p1"), (1L, "p2"), (9L, "zz"))
      .toDF("query_id", "doc_id")
    val out = Retrieval.hardNegatives(run, pos, "query_id", "doc_id",
        "score", k = 2, skipTop = 1)
      .select("query_id", "doc_id", "neg_rank")
      .as[(Long, String, Int)].collect().toSet
    assert(out == Set((1L, "n2", 1), (1L, "n3", 2), (2L, "n6", 1)))
    // query 2 has only 2 non-positives: skip band eats n5, n6 is the
    // one surviving negative (short lists yield < k, never error)

    // an unbounded per-query list refuses loudly in-plan
    val big = spark.range(0, 50).select(lit(1L).as("query_id"),
      concat(lit("d"), col("id")).as("doc_id"),
      (col("id") * -1.0).as("score"))
    val e = intercept[Exception] {
      Retrieval.hardNegatives(big, pos, "query_id", "doc_id", "score",
        k = 2, skipTop = 0, maxCandidates = 10).collect()
    }
    assert(e.getMessage.contains("maxCandidates"))
    // null doc ids refuse in-plan (they would dodge the anti-join)
    val nullDoc = Seq((1L, null.asInstanceOf[String], 1.0))
      .toDF("query_id", "doc_id", "score")
    val e2 = intercept[Exception] {
      Retrieval.hardNegatives(nullDoc, pos, "query_id", "doc_id",
        "score", k = 1).collect()
    }
    assert(e2.getMessage.contains("null"))
  }
}
