package graft.functions

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.queries.TokenizerQueries

/** Pins the three claims the Bpe scaladoc makes:
  *  1. best-first greedy (the shipped encoder) ≡ rank-order single-pass
  *     application ≡ leftmost-one-at-a-time (the DuckDB oracle form),
  *     for well-formed tables — property-tested on trained tables over
  *     random corpora;
  *  2. the distributed trainer is deterministic and reproduces the
  *     frozen literal in TokenizerQueries;
  *  3. the native expressions (interpreted AND codegen) agree with the
  *     driver-side encoder, and bpe_token_count == size(bpe_tokens). */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // reference encoder A: apply each rule once, in rank order, merging
  // left-to-right occurrences simultaneously
  private def encodeRankOrder(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    var toks: List[String] = word.map(_.toString).toList
    merges.foreach { case (l, r) =>
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var rest = toks
      while (rest.nonEmpty) rest match {
        case a :: b :: t if a == l && b == r => out += (l + r); rest = t
        case a :: t => out += a; rest = t
        case Nil =>
      }
      toks = out.toList
    }
    toks
  }

  // reference encoder B: repeatedly merge ONE leftmost occurrence of
  // the lowest-rank applicable rule (the oracle's recursive-CTE form)
  private def encodeOneAtATime(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).min }
    var toks: Vector[String] = word.map(_.toString).toVector
    var done = false
    while (!done) {
      val best = toks.indices.dropRight(1)
        .flatMap(i => rank.get((toks(i), toks(i + 1))).map(r => (r, i)))
        .sorted.headOption
      best match {
        case None => done = true
        case Some((r, _)) =>
          val (l, rr) = merges(r)
          val i = toks.indices.dropRight(1)
            .find(j => toks(j) == l && toks(j + 1) == rr).get
          toks = (toks.take(i) :+ (l + rr)) ++ toks.drop(i + 2)
      }
    }
    toks
  }

  private def randomCorpus(rnd: Random, alpha: String, n: Int): Seq[String] =
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(4))(
      (1 to (1 + rnd.nextInt(8))).map(_ =>
        alpha(rnd.nextInt(alpha.length))).mkString).mkString(" "))

  test("best-first == rank-order == one-at-a-time on trained tables") {
    val rnd = new Random(42)
    (1 to 20).foreach { trial =>
      val alpha = "abcd"
      val corpus = randomCorpus(rnd, alpha, 30)
      val wc = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
      val merges = Bpe.trainOnCounts(wc, 1 + rnd.nextInt(24))
      val tok = new BpeTokenizer(merges)
      // test on trained words AND fresh unseen words
      val words = wc.map(_._1) ++ randomCorpus(rnd, alpha, 10)
        .flatMap(_.split(" ")).filter(_.nonEmpty)
      words.foreach { w =>
        val a = tok.encodeWord(w).toSeq
        val b = encodeRankOrder(w, merges)
        val c = encodeOneAtATime(w, merges)
        assert(a == b, s"trial $trial word '$w': best-first $a vs rank-order $b")
        assert(a == c, s"trial $trial word '$w': best-first $a vs one-at-a-time $c")
        assert(a.mkString == w, s"trial $trial: lossless concat broken for '$w'")
      }
    }
  }

  test("incremental trainer == reference trainer on random corpora") {
    val rnd = new Random(7)
    (1 to 25).foreach { trial =>
      val corpus = randomCorpus(rnd, "abcde", 40)
      val wc = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, g) =>
          (w, g.size.toLong * (1 + rnd.nextInt(3))) }.toSeq
      val k = 1 + rnd.nextInt(40)
      val fast = Bpe.trainOnCounts(wc, k)
      val ref = BpeSpec.trainOnCountsReference(wc, k)
      assert(fast == ref, s"trial $trial k=$k: $fast vs $ref")
    }
  }

  test("trainer reproduces the frozen literal deterministically") {
    val wc = TokenizerQueries.trainCorpus
      .flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, g) => (w, g.size.toLong) }.toSeq
    val m1 = Bpe.trainOnCounts(wc, 64)
    val m2 = Bpe.trainOnCounts(Random.shuffle(wc.toList), 64)
    assert(m1 == TokenizerQueries.frozenMerges)
    assert(m2 == m1, "trainer must be input-order independent")
  }

  test("malformed tables are refused") {
    // right side 'xy' is neither a codepoint nor an earlier output
    intercept[IllegalArgumentException] {
      new BpeTokenizer(IndexedSeq(("a", "xy")))
    }
    intercept[IllegalArgumentException] {
      new BpeTokenizer(IndexedSeq.empty)
    }
    // reserved separator
    intercept[IllegalArgumentException] {
      new BpeTokenizer(IndexedSeq(("", "a")))
    }
    // oracle replay refuses non-alphanumeric tokens (regex metachars)
    intercept[IllegalArgumentException] {
      Bpe.oracleDistinctWordCte(Seq(("(", ")")), "SELECT 'x' AS w")
    }
  }

  test("native expressions match the driver encoder; count == size(tokens)") {
    val s = spark
    import s.implicits._
    val merges = TokenizerQueries.frozenMerges
    val tok = new BpeTokenizer(merges)
    val texts = Seq(
      "the window merge join", "spark  query   stream", "", "zebra unseen",
      "table table table", "a", "join") // incl. repeated spaces + empty
    // repartition so ConvertToLocalRelation can't eval the projection
    // driver-side — the assert below must see the codegen'd path
    val df = texts.toDF("t").repartition(2).select(
      col("t"),
      Bpe.tokens(col("t"), merges).as("toks"),
      Bpe.tokenCount(col("t"), merges).as("n"))
    texts.zip(df.collect().map(r =>
      (r.getString(0), r.getSeq[String](1), r.getLong(2))).sortBy(x =>
        texts.indexOf(x._1)).map(x => (x._2, x._3))).foreach {
      case (t, (got, n)) =>
        val want = tok.encodeText(t).toSeq
        assert(got == want, s"'$t': expression $got vs driver $want")
        assert(n == want.length, s"'$t': count $n vs ${want.length}")
    }
    // codegen path really ran (no fallback): the Project carries the
    // whole-stage-codegen marker `*(n)` in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.trim.stripPrefix("+- ").startsWith("*(")),
      plan)
  }
}

object BpeSpec {
  /** Reference trainer — the K-pass textbook loop the incremental
    * [[Bpe.trainOnCounts]] must reproduce bit-for-bit. Kept as the
    * equivalence oracle; quadratic in (merges × vocab). */
  def trainOnCountsReference(wordCounts: Seq[(String, Long)],
      numMerges: Int): IndexedSeq[(String, String)] = {
    def cps(w: String): Array[String] = {
      val out = new mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); val n = Character.charCount(cp)
        out += w.substring(i, i + n); i += n
      }
      out.toArray
    }
    var segs: Array[(Array[String], Long)] =
      wordCounts.map { case (w, c) => (cps(w), c) }.toArray
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (toks, c) =>
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        val best = pairCounts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        out += best
        segs = segs.map { case (toks, c) =>
          val merged = new mutable.ArrayBuffer[String](toks.length)
          var j = 0
          while (j < toks.length) {
            if (j < toks.length - 1 && toks(j) == best._1 &&
                toks(j + 1) == best._2) { merged += (best._1 + best._2); j += 2 }
            else { merged += toks(j); j += 1 }
          }
          (merged.toArray, c)
        }
        k += 1
      }
    }
    out.toIndexedSeq
  }
}
