package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.PqExprs

/** The native PQ kernels must be BIT-IDENTICAL to the HOF reference
  * forms they replaced — same distances (ascending-i fold), same
  * round(·, 9) tie grid, same lowest-id tie-break, same null algebra.
  * The corpus here is adversarial: exact codeword duplicates (forced
  * ties), sub-1e-9 codeword separations (rounding ties), NaN/±Inf
  * elements, null vectors, null elements, short vectors, and both
  * float and double element types. */
class PqExprsSpec extends AnyFunSuite {
  import PqExprsSpec.{encodeHof, quantErrHof}
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  private val m = 4
  private val ks = 6

  /** Codebooks with planted ties: codeword 3 duplicates codeword 1
    * exactly; codeword 4 sits 2e-10 from codeword 2 (inside the
    * round-9 grid step, so their rounded distances tie for vectors
    * near either). */
  private val model: Pq.PqModel = {
    val rnd = new scala.util.Random(11)
    val cbs = (0 until m).map { j =>
      val base = (0 until ks).map(c =>
        Seq.fill(dim / m)(rnd.nextGaussian()))
      val tied = base.updated(3, base(1))
      tied.updated(4, base(2).map(_ + 2e-10))
    }
    Pq.PqModel(dim, m, ks, cbs)
  }

  private def floatCorpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Array[java.lang.Float])] =
      (0L until 300L).map { i =>
        (i, Array.fill(dim)(java.lang.Float.valueOf(
          (rnd.nextGaussian()).toFloat)))
      } ++ Seq(
        // exact codeword hits in every subspace -> raw ties with the
        // duplicate codeword 3
        (300L, model.codebooks.flatMap(_(1)).map(d =>
          java.lang.Float.valueOf(d.toFloat)).toArray),
        (301L, model.codebooks.flatMap(_(2)).map(d =>
          java.lang.Float.valueOf(d.toFloat)).toArray),
        (302L, null),                                   // null vector
        (303L, Array[java.lang.Float](1f, 2f, 3f)),      // short vector
        (304L, Array.tabulate[java.lang.Float](dim)(i =>
          if (i == 2) null else java.lang.Float.valueOf(i * 0.5f))),
        (305L, Array.tabulate[java.lang.Float](dim)(i =>
          if (i == 5) java.lang.Float.valueOf(Float.NaN)
          else java.lang.Float.valueOf(1f))),
        (306L, Array.tabulate[java.lang.Float](dim)(i =>
          if (i == 0) java.lang.Float.valueOf(Float.PositiveInfinity)
          else java.lang.Float.valueOf(1f))))
    rows.toDF("vec_id", "embedding")
  }

  test("pq_encode matches the HOF reference bit-for-bit (float)") {
    val df = floatCorpus
    val native = Pq.encode(df, "embedding", model)
      .select($"vec_id", $"pq_code")
    val hof = encodeHof(df, "embedding", model)
      .select($"vec_id", $"pq_code".as("hof_code"))
    val mismatches = native.join(hof, "vec_id")
      .filter(!($"pq_code" <=> $"hof_code")).collect()
    assert(mismatches.isEmpty,
      s"native/HOF encode disagree: ${mismatches.take(5).mkString(", ")}")
  }

  test("pq_encode matches the HOF reference bit-for-bit (double)") {
    val df = floatCorpus.select($"vec_id",
      $"embedding".cast("array<double>").as("embedding"))
    val native = Pq.encode(df, "embedding", model)
      .select($"vec_id", $"pq_code")
    val hof = encodeHof(df, "embedding", model)
      .select($"vec_id", $"pq_code".as("hof_code"))
    val mismatches = native.join(hof, "vec_id")
      .filter(!($"pq_code" <=> $"hof_code")).collect()
    assert(mismatches.isEmpty,
      s"native/HOF encode disagree: ${mismatches.take(5).mkString(", ")}")
  }

  test("tie-breaks land on the LOWEST codeword id (never the planted twin)") {
    val df = floatCorpus.filter($"vec_id" === 300L || $"vec_id" === 301L)
    val codes = Pq.encode(df, "embedding", model)
      .orderBy("vec_id").select("pq_code").collect()
      .map(_.getSeq[Int](0))
    // row 300 sits ON codeword 1 (= codeword 3): ties must pick 1
    assert(codes(0).forall(_ == 1), s"expected all-1 codes, got ${codes(0)}")
    // row 301 sits on codeword 2 with codeword 4 only 2e-10 away:
    // rounded distances tie, lowest id (2) must win
    assert(codes(1).forall(_ == 2), s"expected all-2 codes, got ${codes(1)}")
  }

  test("pq_quant_err matches the HOF reference bit-for-bit") {
    // valid rows only: the HOF form's slice/zip_with null algebra on
    // DEGENERATE vectors is pinned by the encode parity above; here
    // every code is in range (quantErr's contract)
    val df = floatCorpus.filter($"vec_id" < 302L)
    val enc = Pq.encode(df, "embedding", model)
    val native = enc.select($"vec_id",
      Pq.quantErr($"embedding", $"pq_code", model).as("qe"))
    val hof = enc.select($"vec_id",
      quantErrHof($"embedding", $"pq_code", model).as("qe_hof"))
    val mism = native.join(hof, "vec_id")
      .filter(!($"qe" <=> $"qe_hof")).collect()
    assert(mism.isEmpty,
      s"native/HOF quant_err disagree: ${mism.take(5).mkString(", ")}")
    // and NaN rows flow through as NaN identically
    val nan = floatCorpus.filter($"vec_id" === 305L)
    val encN = Pq.encode(nan, "embedding", model)
    val both = encN.select(
      Pq.quantErr($"embedding", $"pq_code", model).as("a"),
      quantErrHof($"embedding", $"pq_code", model).as("b")).head()
    assert(both.getDouble(0).isNaN == both.getDouble(1).isNaN)
  }

  test("round9 matches Spark's round(…, 9) on adversarial doubles") {
    val rnd = new scala.util.Random(13)
    val vals = Seq(0.0, 1e-10, 4.9999999995e-10, 5.0000000005e-10,
      1.5e-9, 123.4567890115, 1e308, Double.MinPositiveValue) ++
      Seq.fill(3000)(math.abs(rnd.nextGaussian()) *
        math.pow(10, rnd.nextInt(14) - 7))
    val df = vals.toDF("d")
    val sparkSide = df.select(round($"d", 9)).collect().map(_.getDouble(0))
    val ours = vals.map(PqExprs.round9)
    vals.indices.foreach { i =>
      assert(java.lang.Double.compare(sparkSide(i), ours(i)) == 0,
        s"round9 mismatch at ${vals(i)}: spark=${sparkSide(i)} ours=${ours(i)}")
    }
  }
}

/** The higher-order-function forms the native kernels replaced, kept
  * as the references the parity specs above compare against. */
object PqExprsSpec {
  import Pq.PqModel

  /** The ORIGINAL higher-order-function encode — the semantic
    * reference [[graft.functions.PqEncode]] is pinned bit-identical
    * to. */
  def encodeHof(df: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "pq_code"): DataFrame = {
    val cb = typedlit(model.codebooks) // m × ks × dsub
    val codes = (0 until model.m).map { j =>
      val sl = slice(col(vecCol), j * model.dsub + 1, model.dsub)
      array_min(transform(element_at(cb, j + 1), (row, c) =>
        struct(round(aggregate(zip_with(sl, row, (x, y) => {
          val d = x.cast("double") - y
          d * d
        }), lit(0.0), (a, b) => a + b), 9).as("d"),
          c.cast("int").as("c")))).getField("c")
    }
    df.withColumn(codeCol,
      when(col(vecCol).isNotNull, array(codes: _*)))
  }

  /** The ORIGINAL HOF quantization error — [[Pq.quantErr]]'s
    * semantic reference. */
  def quantErrHof(v: Column, cd: Column,
      model: PqModel): Column = {
    val cb = typedlit(model.codebooks) // m × ks × dsub
    (0 until model.m).map { j =>
      val sl = slice(v, j * model.dsub + 1, model.dsub)
      val row = element_at(element_at(cb, j + 1),
        element_at(cd, j + 1) + 1)
      aggregate(zip_with(sl, row, (x, y) => {
        val d = x.cast("double") - y
        d * d
      }), lit(0.0), (a, b) => a + b)
    }.reduce(_ + _)
  }
}
