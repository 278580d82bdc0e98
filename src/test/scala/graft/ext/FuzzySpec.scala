package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Fuzzy matching: q-gram blocking exactness, best-match lookup,
  * connected-component grouping. */
class FuzzySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("key", StringType)))
  private def frame(rows: (Long, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), schema)

  test("candidatePairs is a lossless superset of brute-force pairs (incl. short strings)") {
    // adversarial corpus: short strings, near-dups, length boundary
    // around minGramLen(3, 0.8) = the q-gram bound's blind spot
    val rnd = new scala.util.Random(13)
    val vocab = "abcde"
    def randStr(n: Int) = (1 to n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString
    val base = (1L to 40L).map(i => i -> randStr(1 + rnd.nextInt(12)))
    val mutated = base.take(20).map { case (i, s) =>
      (i + 100L) -> (if (s.length > 1) s.init + "z" else s)
    }
    val rows = base ++ mutated
    val t = 0.8
    val d = frame(rows: _*)
    val a = d.select(col("id").as("aid"), Fuzzy.normalize(col("key")).as("akey"))
    val b = d.select(col("id").as("bid"), Fuzzy.normalize(col("key")).as("bkey"))
    val cand = Fuzzy.candidatePairs(a, b, t)
      .as[(Long, Long)].collect().toSet
    val brute = a.crossJoin(b)
      .filter(Fuzzy.editSimilarity(col("akey"), col("bkey")) >= t)
      .select(col("aid"), col("bid")).as[(Long, Long)].collect().toSet
    val missed = brute -- cand
    assert(missed.isEmpty, s"blocking dropped true pairs: $missed")
  }

  test("groupLabels produces transitive components with min-id canonical") {
    // chain: a ~ b ~ c (a !~ c directly) must share one component
    val d = frame(
      (5L, "abcdefghij"), (2L, "abcdefghiz"), (9L, "abcdefghzz"),
      (7L, "qqqqqqqqqq"))
    val labels = Fuzzy.groupLabels(d, "id", "key", minSim = 0.8)
      .as[(Long, Long)].collect().toMap
    assert(labels(5L) == 2L && labels(2L) == 2L && labels(9L) == 2L)
    assert(labels(7L) == 7L)
  }

  test("cosineNearDupPairs grid blocking is lossless vs brute force") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    def vec() = Seq.fill(dim)((rnd.nextGaussian()).toFloat)
    val baseVecs = (1L to 30L).map(i => (i, vec()))
    // twins at tiny perturbation + unrelated vectors
    val twins = baseVecs.take(15).map { case (i, v) =>
      (i + 100L, v.updated(0, v.head + 0.001f)) }
    val vschema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      (baseVecs ++ twins).map(r => Row(r._1, r._2)): _*), vschema)
    val t = 0.99
    val blocked = Similarity.cosineNearDupPairs(df, "id", "v", t)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val a = df.select(col("id").as("ida"), col("v").as("va"))
    val b = df.select(col("id").as("idb"), col("v").as("vb"))
    val brute = a.join(b, col("ida") < col("idb"))
      .filter(Similarity.cosine(col("va"), col("vb")) >= t)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(blocked == brute && brute.nonEmpty)
  }

  test("cosineNearDupPairs refuses an over-bound corpus and steers to the approx path") {
    val vschema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      (1L to 10L).map(i => Row(i, Seq.fill(8)(i.toFloat))): _*), vschema)
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(df, "id", "v", 0.9, maxCorpusRows = 5)
    }
    assert(e.getMessage.contains("semanticDedupApprox"))
    // the explicit opt-in works on the same corpus
    assert(Similarity.cosineNearDupPairs(df, "id", "v", 0.9,
      maxCorpusRows = 10).columns.contains("cosine_sim"))
  }

  test("banded cosine blocking is lossless across dims, thresholds, and blockings") {
    // dim 64 = the production embedding shape (16 segments); dim 6
    // exercises the padded last segment (nSeg=2, two constant cells);
    // blockings=2 exercises the candidate-set intersection — every
    // combination must equal brute force EXACTLY
    for (dim <- Seq(6, 64); t <- Seq(0.9, 0.99); blockings <- Seq(1, 2)) {
      val rnd = new scala.util.Random(31 * dim + (t * 100).toInt)
      val baseVecs = (1L to 40L).map(i =>
        (i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
      val twins = baseVecs.take(20).map { case (i, v) =>
        (i + 100L, v.updated(0, v.head + 0.001f)) }
      val vschema = StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(FloatType))))
      val df = spark.createDataFrame(java.util.Arrays.asList(
        (baseVecs ++ twins).map(r => Row(r._1, r._2)): _*), vschema)
      val blocked = Similarity.cosineNearDupPairs(df, "id", "v", t,
          blockings = blockings)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      val a = df.select(col("id").as("ida"), col("v").as("va"))
      val b = df.select(col("id").as("idb"), col("v").as("vb"))
      val brute = a.join(b, col("ida") < col("idb"))
        .filter(Similarity.cosine(col("va"), col("vb")) >= t)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      assert(blocked == brute && brute.nonEmpty,
        s"dim=$dim t=$t blockings=$blockings")
    }
  }

  test("connectedComponents fixpoint on a longer chain (driver and distributed paths agree)") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 9L).toDF("id")
    val edges = Seq((6L, 5L), (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val viaDriver = Fuzzy.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    val viaLoop = Fuzzy.connectedComponents(nodes, edges, driverLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == viaLoop)
    assert(viaDriver(6L) == 1L && viaDriver(9L) == 9L)
  }

  test("distributed CC converges on a diameter-300 chain within O(log n) rounds") {
    // THE case the pre-r19 distributed path (min-label propagation,
    // O(diameter) rounds) could never finish: a chain longer than any
    // sane round budget. Star contraction must land the fixpoint in a
    // handful of rounds — maxIters = 15 would have failed propagation
    // at diameter 6, let alone 300.
    val n = 300L
    val nodes = (0L to n).toDF("id")
    val edges = (0L until n).map(i => (i, i + 1L)).toDF("src", "dst")
    val labels = Fuzzy.connectedComponents(nodes, edges,
        maxIters = 15, driverLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == n + 1 && labels.values.forall(_ == 0L))
  }

  test("distributed CC equals driver union-find on random multi-component graphs") {
    for (seed <- Seq(7, 19)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      // ~0.8 edges/node: a mix of chains, small trees, cycles,
      // singletons; duplicate + self edges exercise the dedup/orient
      val edges = (1 to (n * 4 / 5)).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      } ++ Seq((3L, 3L), (5L, 9L), (9L, 5L))
      val nodesDf = (0L until n.toLong).toDF("id")
      val edgesDf = edges.toDF("src", "dst")
      val viaDriver = Fuzzy.connectedComponents(nodesDf, edgesDf)
        .as[(Long, Long)].collect().toMap
      val viaStars = Fuzzy.connectedComponents(nodesDf, edgesDf,
          driverLimit = 0L)
        .as[(Long, Long)].collect().toMap
      assert(viaDriver == viaStars, s"seed=$seed")
    }
  }

  test("distributed CC handles string ids and empty edge sets") {
    val nodes = Seq("kiwi", "apple", "fig", "date").toDF("id")
    val edges = Seq(("kiwi", "fig"), ("fig", "apple")).toDF("src", "dst")
    val labels = Fuzzy.connectedComponents(nodes, edges, driverLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(labels == Map("kiwi" -> "apple", "fig" -> "apple",
      "apple" -> "apple", "date" -> "date"))
    val none = Fuzzy.connectedComponents(nodes,
        edges.limit(0), driverLimit = 0L)
      .as[(String, String)].collect().toMap
    assert(none.values.toSet == none.keySet)
  }
}
