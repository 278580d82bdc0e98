package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy byte-pair-encoding tokenizer — REAL subword token accounting
  * for the budget/packing/chunking operators, which previously counted
  * whitespace tokens only (production data pipelines budget BPE
  * tokens; the reference's row-level string ops stop at words,
  * `/root/reference/mapping/enhanced_json_mapper.py` derived-column
  * transforms).
  *
  * Encoding semantics (the contract both the expression and the
  * DuckDB oracle replay satisfy, certified by q147/q148): a text
  * splits into words on single spaces (trailing empties kept — the
  * same `split(text, ' ')` contract as [[graft.ext.TextAnalysis
  * .tokens]]); each word starts as its sequence of Unicode
  * codepoints; then, repeatedly, the adjacent token pair with the
  * LOWEST merge rank present in the word is merged, occurrences
  * left-to-right. For a WELL-FORMED merges table — each side of rule
  * k is a single codepoint or the output of an earlier rule, which
  * is exactly what BPE training produces and what [[BpeTokenizer]]
  * enforces — this best-first loop is equivalent to applying the
  * rules once each in rank order (a rule application can only create
  * pairs of strictly later rank), and equivalent to merging one
  * leftmost occurrence at a time (the recursive form the oracle
  * replays). BpeSpec pins both equivalences property-style.
  *
  * Scale shape: the merges table ships inside the expression tree
  * (the `cms_estimate` literal-sketch discipline — serialized once
  * per task, rebuilt once per executor JVM), encoding is a pure
  * projection (no shuffle, no UDF registry), and a per-JVM
  * bounded word→tokens cache makes the amortized cost of Zipfian
  * text one hash lookup per word. */
final class BpeTokenizer(val merges: IndexedSeq[(String, String)])
    extends Serializable {
  require(merges.nonEmpty, "empty merges table: train or supply rules")
  locally {
    val produced = mutable.HashSet.empty[String]
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      def ok(s: String) =
        (s.nonEmpty && s.codePointCount(0, s.length) == 1) ||
          produced.contains(s)
      require(ok(l) && ok(r),
        s"merge $i ('$l','$r') is not well-formed: each side must be a " +
          "single codepoint or the output of an earlier merge — " +
          "best-first and rank-order encoding diverge otherwise")
      require(!l.contains('\u001f') && !r.contains('\u001f') &&
        !l.contains(' ') && !r.contains(' '),
        s"merge $i ('$l','$r'): U+001F and space are reserved " +
          "(word/oracle separators)")
      produced += (l + r)
    }
  }

  // pair -> rank, keyed L + U+001F + R (tokens never contain U+001F)
  private val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      // a duplicate pair would make rank ambiguous; first rank wins
      // in real BPE tables (later duplicate can never fire anyway)
      m.putIfAbsent(l + '\u001f' + r, i)
    }
    m
  }

  private def codepoints(word: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      out += word.substring(i, i + n)
      i += n
    }
    out.toArray
  }

  /** Best-first greedy merge loop over one word (the HuggingFace-style
    * word encoder: K-independent — cost scales with merges APPLIED,
    * not table size). */
  def encodeWord(word: String): Array[String] = {
    var toks = codepoints(word)
    var continue = toks.length > 1
    while (continue) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < toks.length - 1) {
        val r = rank.get(toks(i) + '\u001f' + toks(i + 1))
        if (r != null && r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val l = merges(bestRank)._1
        val r = merges(bestRank)._2
        val out = new mutable.ArrayBuffer[String](toks.length)
        var j = 0
        while (j < toks.length) {
          if (j < toks.length - 1 && toks(j) == l && toks(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += toks(j); j += 1 }
        }
        toks = out.toArray
        continue = toks.length > 1
      }
    }
    toks
  }

  // Per-JVM bounded word cache: natural text is Zipfian, so nearly
  // every word is a hit. ConcurrentHashMap — the expression object is
  // shared across a executor's task threads. Cleared when over cap
  // (adversarial all-distinct input degrades to uncached, not OOM).
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
  private def encodeWordCached(word: String): Array[String] = {
    val hit = cache.get(word)
    if (hit != null) return hit
    val enc = encodeWord(word)
    if (cache.size >= 65536) cache.clear()
    cache.put(word, enc)
    enc
  }

  /** All tokens of a text, words encoded independently (empty words
    * from repeated spaces contribute nothing). */
  def encodeText(text: String): mutable.ArrayBuffer[String] = {
    val words = text.split(" ", -1)
    val out = new mutable.ArrayBuffer[String](text.length / 3 + 1)
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) out ++= encodeWordCached(words(i))
      i += 1
    }
    out
  }

  /** Codegen entry: array<string> of tokens. */
  def encodeToArrayData(text: UTF8String): GenericArrayData =
    new GenericArrayData(
      encodeText(text.toString).map(UTF8String.fromString).toArray[Any])

  /** Codegen entry: token count only (no array materialization). */
  def countTokens(text: UTF8String): Long = {
    val words = text.toString.split(" ", -1)
    var n = 0L
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) n += encodeWordCached(words(i)).length
      i += 1
    }
    n
  }
}

/** Shared analysis for `bpe_tokens` / `bpe_token_count`: text column
  * plus a FOLDABLE merges-spec string literal ("left right" per line,
  * the broadcast-literal discipline of [[CmsEstimate]]). */
abstract class BpeExpressionBase extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a string text column, got " +
          left.dataType.catalogString)
    else if (right.dataType != StringType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a foldable string merges spec")
    else if (right.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName merges spec must not be null")
    else
      try { tokenizer; TypeCheckResult.TypeCheckSuccess }
      catch { case e: IllegalArgumentException =>
        TypeCheckResult.TypeCheckFailure(e.getMessage) }

  // One parse + table build per executor JVM (expression tree is
  // serialized into the task; transient lazy rematerializes locally).
  @transient protected final lazy val tokenizer: BpeTokenizer =
    new BpeTokenizer(Bpe.parseSpec(
      right.eval(null).asInstanceOf[UTF8String].toString))
}

/** `bpe_tokens(text, mergesSpec)` → array<string>. */
case class BpeTokens(left: Expression, right: Expression)
    extends BpeExpressionBase {
  override def prettyName: String = "bpe_tokens"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any, spec: Any): Any =
    tokenizer.encodeToArrayData(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", tokenizer,
      classOf[BpeTokenizer].getName)
    defineCodeGen(ctx, ev, (t, _) => s"$ref.encodeToArrayData($t)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BpeTokens = copy(left = l, right = r)
}

/** `bpe_token_count(text, mergesSpec)` → long (no array built). */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BpeExpressionBase {
  override def prettyName: String = "bpe_token_count"
  override def dataType: DataType = LongType
  override def nullSafeEval(text: Any, spec: Any): Any =
    tokenizer.countTokens(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpe", tokenizer,
      classOf[BpeTokenizer].getName)
    defineCodeGen(ctx, ev, (t, _) => s"$ref.countTokens($t)")
  }
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BpeTokenCount = copy(left = l, right = r)
}

object Bpe {
  /** Serialize merges as the expression-literal spec ("left right"
    * per line). */
  def spec(merges: Seq[(String, String)]): String =
    merges.map { case (l, r) => s"$l $r" }.mkString("\n")

  def parseSpec(s: String): IndexedSeq[(String, String)] =
    s.split("\n", -1).toIndexedSeq.filter(_.nonEmpty).map { line =>
      val parts = line.split(" ", -1)
      require(parts.length == 2 && parts.forall(_.nonEmpty),
        s"bad merges line '$line': expected 'left right'")
      (parts(0), parts(1))
    }

  /** Token array column. */
  def tokens(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_tokens", text, lit(spec(merges)))

  /** Token count column — feed this to the tokenizer-parameterized
    * budget operators ([[graft.ext.TextAnalysis.packSequences]],
    * [[graft.ext.TextAnalysis.capPerGroupBudget]] take any token
    * Column). */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_token_count", text, lit(spec(merges)))

  /** Distributed BPE training: the corpus→(word, count) aggregation is
    * the distributed wordcount shuffle; the K-merge loop then runs on
    * the COLLECTED word-frequency table — the standard trainer design
    * (HF tokenizers train on word counts, not the corpus), and a
    * documented driver-bounded spot: distinct words, not documents
    * (refused loudly over `maxDistinctWords`; a 100 TB web corpus
    * caps its training vocab the same way, or pre-samples). Fully
    * deterministic: ties broken by (count DESC, left ASC, right
    * ASC). */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxDistinctWords: Int = 4 << 20): IndexedSeq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    val wc = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .limit(maxDistinctWords + 1)
      .collect()
    require(wc.length <= maxDistinctWords,
      s"more than $maxDistinctWords distinct words — cap or sample the " +
        "training vocab (the driver-bounded contract, SCALING.md)")
    trainOnCounts(
      wc.map(r => r.getString(0) -> r.getLong(1)).toSeq, numMerges)
  }

  /** The driver-side merge loop on a word-frequency table —
    * INCREMENTAL (the production trainer): global pair counts are
    * updated by per-word deltas when a merge fires (only words
    * CONTAINING the merged pair are touched), and the best pair comes
    * off a lazy-deletion heap instead of a full rescan. Cost is
    * O(merges-applied × word length + K log P) versus the reference
    * loop's O(K × vocab × length) — measured on a 49k-word Zipf vocab
    * (graft.tools.BpeTrainBench): 1.9 s vs 85.5 s at K=2048 (45×),
    * and near-FLAT in K (1.2 s → 1.9 s for 8× more merges) where the
    * reference grows linearly — at a production 32k-merge vocab that
    * is seconds versus tens of minutes. Deterministic
    * and bit-identical to the textbook K-pass loop
    * (`BpeSpec.trainOnCountsReference`; ties broken by
    * (count DESC, left ASC, right ASC); BpeSpec pins the equivalence
    * property-style on random corpora). */
  def trainOnCounts(wordCounts: Seq[(String, Long)],
      numMerges: Int): IndexedSeq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    def cps(w: String): Array[String] = {
      val out = new mutable.ArrayBuffer[String](w.length)
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i); val n = Character.charCount(cp)
        out += w.substring(i, i + n); i += n
      }
      out.toArray
    }
    // deterministic word order: sort once so iteration order never
    // depends on input order (the reference loop is order-free too)
    val sorted = wordCounts.sortBy(_._1)
    val words: Array[Array[String]] = sorted.map(x => cps(x._1)).toArray
    val counts: Array[Long] = sorted.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String),
      mutable.HashSet[Int]]
    def pairsOf(toks: Array[String]): Iterator[(String, String)] =
      (0 until toks.length - 1).iterator.map(i => (toks(i), toks(i + 1)))
    words.indices.foreach { wi =>
      pairsOf(words(wi)).foreach { p =>
        pairCount.update(p, pairCount.getOrElse(p, 0L) + counts(wi))
        pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += wi
      }
    }
    // lazy-deletion heap: entries are (count, l, r) snapshots; an
    // entry is live iff its count equals the map's current value
    val ord = Ordering.by[(Long, String, String), (Long, String, String)] {
      case (c, l, r) => (-c, l, r)
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord.reverse)
    pairCount.foreach { case ((l, r), c) => heap.enqueue((c, l, r)) }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    while (out.length < numMerges && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      if (c > 0 && pairCount.getOrElse((l, r), 0L) == c) {
        val best = (l, r)
        out += best
        val affected = pairWords.getOrElse(best, mutable.HashSet.empty)
          .toArray.sorted
        affected.foreach { wi =>
          val oldToks = words(wi)
          val merged = new mutable.ArrayBuffer[String](oldToks.length)
          var j = 0
          while (j < oldToks.length) {
            if (j < oldToks.length - 1 && oldToks(j) == l &&
                oldToks(j + 1) == r) { merged += (l + r); j += 2 }
            else { merged += oldToks(j); j += 1 }
          }
          val newToks = merged.toArray
          words(wi) = newToks
          // apply the word's pair-multiset delta to the global counts
          val delta = mutable.HashMap.empty[(String, String), Long]
          pairsOf(oldToks).foreach(p =>
            delta.update(p, delta.getOrElse(p, 0L) - counts(wi)))
          pairsOf(newToks).foreach(p =>
            delta.update(p, delta.getOrElse(p, 0L) + counts(wi)))
          delta.foreach { case (p, d) =>
            if (d != 0) {
              val nc = pairCount.getOrElse(p, 0L) + d
              if (nc <= 0) { pairCount.remove(p); pairWords.remove(p) }
              else {
                pairCount.update(p, nc)
                heap.enqueue((nc, p._1, p._2))
              }
            }
          }
          // membership: the word now contains newToks' pairs only
          pairsOf(oldToks).foreach(p =>
            pairWords.get(p).foreach(_ -= wi))
          pairsOf(newToks).foreach(p =>
            pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += wi)
        }
        pairCount.remove(best)
        pairWords.remove(best)
      }
    }
    out.toIndexedSeq
  }

  /** DuckDB replay of the encoder for the oracle gate: a recursive CTE
    * over DISTINCT words (sentinel-delimited U+001F strings), each
    * step merging ONE leftmost occurrence of the lowest-rank
    * applicable rule (`regexp_replace` replaces the first match) —
    * the one-at-a-time form the scaladoc equivalence covers. Returns
    * (cteName, tokenCountExpr) to splice into an oracle query; words
    * come from `wordsSql`, which must yield (w). */
  def oracleDistinctWordCte(merges: Seq[(String, String)],
      wordsSql: String): String = {
    // regexp_replace treats the pair pattern as a regex and the rules
    // are spliced as SQL string literals — restrict to tokens where
    // both readings are literal, rather than silently diverging
    require(merges.forall { case (l, r) =>
      (l + r).forall(c => c < 128 && Character.isLetterOrDigit(c)) },
      "oracle replay requires ASCII-alphanumeric merge tokens " +
        "(regexp/SQL-literal safe); train on such a corpus")
    val sep = "chr(31)"
    def pat(l: String, r: String) = s"$sep || '$l' || $sep || '$r' || $sep"
    def rep(l: String, r: String) = s"$sep || '$l$r' || $sep"
    val anyApplies = merges
      .map { case (l, r) => s"contains(s, ${pat(l, r)})" }
      .mkString(" OR ")
    val caseArms = merges.map { case (l, r) =>
      s"WHEN contains(s, ${pat(l, r)}) THEN " +
        s"regexp_replace(s, ${pat(l, r)}, ${rep(l, r)})"
    }.mkString(" ")
    s"""__bpe_enc(w, s) AS (
       |  SELECT w, $sep || array_to_string(string_split(w, ''), $sep) || $sep
       |  FROM ($wordsSql) WHERE length(w) > 0
       |  UNION ALL
       |  SELECT w, CASE $caseArms END
       |  FROM __bpe_enc WHERE $anyApplies
       |),
       |__bpe_counts AS (
       |  SELECT w,
       |    CAST(len(string_split(s, $sep)) - 2 AS BIGINT) AS n_word_tokens
       |  FROM __bpe_enc WHERE NOT ($anyApplies)
       |)""".stripMargin
  }
}
