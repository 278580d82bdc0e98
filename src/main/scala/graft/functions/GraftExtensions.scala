package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Registers graft's native Catalyst expressions as SQL functions via
  * the PUBLIC `SparkSessionExtensions.injectFunction` API — call sites
  * then reach them with `functions.call_function("minhash_sig", ...)`,
  * keeping the library off Spark's `private[sql]` internals.
  *
  * Wire up with either
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => args match {
        case Seq(child, Literal(n: Int, IntegerType)) => MinHashSig(child, n)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(array<string>, numHashes int-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("token_shingles"),
      new ExpressionInfo(classOf[TokenShingles].getName, "token_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(child, Literal(k: Int, IntegerType)) => TokenShingles(child, k)
        case _ => throw new IllegalArgumentException(
          "token_shingles(string, k int-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => SimHash64(child)
        case _ => throw new IllegalArgumentException("simhash64(string)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_prefix"),
      new ExpressionInfo(classOf[JaccardPrefix].getName, "jaccard_prefix"),
      (args: Seq[Expression]) => args match {
        case Seq(child, Literal(t: Double, DoubleType)) => JaccardPrefix(child, t)
        case _ => throw new IllegalArgumentException(
          "jaccard_prefix(array<string>, threshold double-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("try_capture"),
      new ExpressionInfo(classOf[TryCapture].getName, "try_capture"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => TryCapture(child)
        case _ => throw new IllegalArgumentException("try_capture(expr)")
      }))
    // Spark's OWN distributed bloom-filter build/probe (the machinery
    // behind its runtime row-group filters) — public classes, but not
    // in the public FunctionRegistry, so surface them here. Used by
    // the contamination screen's sketch prefilter.
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(child, n @ Literal(_: Long, LongType),
            b @ Literal(_: Long, LongType)) =>
          new BloomFilterAggregate(child, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(longCol, estimatedItems long-literal, numBits long-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (args: Seq[Expression]) => args match {
        case Seq(bf, v) => BloomFilterMightContain(bf, v)
        case _ => throw new IllegalArgumentException(
          "bloom_might_contain(bloomBinary, longValue)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_low_byte"),
      new ExpressionInfo(classOf[Md5LowByte].getName, "md5_low_byte"),
      (args: Seq[Expression]) => args match {
        case Seq(s) => Md5LowByte(s)
        case _ => throw new IllegalArgumentException("md5_low_byte(str)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("repeat_rows"),
      new ExpressionInfo(classOf[RepeatRows].getName, "repeat_rows"),
      (args: Seq[Expression]) =>
        if (args.size >= 2) RepeatRows(args)
        else throw new IllegalArgumentException(
          "repeat_rows(count bigint, col, ...)")))
    ext.injectFunction((
      new FunctionIdentifier("overlap_size"),
      new ExpressionInfo(classOf[OverlapSize].getName, "overlap_size"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => OverlapSize(a, b)
        case _ => throw new IllegalArgumentException("overlap_size(a, b)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_sets"),
      new ExpressionInfo(classOf[JaccardSets].getName, "jaccard_sets"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => JaccardSets(a, b)
        case _ => throw new IllegalArgumentException("jaccard_sets(a, b)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (args: Seq[Expression]) => args match {
        case Seq(sketch, term) => CmsEstimate(sketch, term)
        case _ => throw new IllegalArgumentException(
          "cms_estimate(sketchBinary-literal, term)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecDot(a, b)
        case _ => throw new IllegalArgumentException("vec_dot(a, b)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => VecCosine(a, b)
        case _ => throw new IllegalArgumentException("vec_cosine(a, b)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (args: Seq[Expression]) => args match {
        case Seq(v, cb) => PqEncode(v, cb)
        case _ => throw new IllegalArgumentException(
          "pq_encode(vec, codebooks array-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("pq_quant_err"),
      new ExpressionInfo(classOf[PqQuantErr].getName, "pq_quant_err"),
      (args: Seq[Expression]) => args match {
        case Seq(v, cd, cb) => PqQuantErr(v, cd, cb)
        case _ => throw new IllegalArgumentException(
          "pq_quant_err(vec, codes, codebooks array-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_tokens"),
      new ExpressionInfo(classOf[BpeTokens].getName, "bpe_tokens"),
      (args: Seq[Expression]) => args match {
        case Seq(text, mergesSpec) => BpeTokens(text, mergesSpec)
        case _ => throw new IllegalArgumentException(
          "bpe_tokens(text, mergesSpec string-literal)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (args: Seq[Expression]) => args match {
        case Seq(text, mergesSpec) => BpeTokenCount(text, mergesSpec)
        case _ => throw new IllegalArgumentException(
          "bpe_token_count(text, mergesSpec string-literal)")
      }))
  }
}
