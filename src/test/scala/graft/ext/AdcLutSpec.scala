package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The LUT score forms [[Pq.adcSimLut]] / [[Pq.adcSimResidualLut]] must
  * be BIT-IDENTICAL to the inline forms they hoist ([[AdcLutSpec.adcSim]]
  * / [[AdcLutSpec.adcSimResidual]]): same per-cell zip_with/aggregate
  * element order, same ascending-j sum. The inputs are fed the way
  * [[IvfIndex.probe]] hoists them — rotated query materialized as its
  * own column, driver-rotated centroid literal, LUTs and ‖q‖, q·c, ‖c‖²
  * on the probe side of the join — over generated shapes, codes that
  * include 0 and ks−1, and both raw and OPQ-rotated queries and
  * centroids. Equality is exact; no tolerance. */
class AdcLutSpec extends AnyFunSuite {
  import AdcLutSpec.{adcSim, adcSimResidual}
  private lazy val spark = TestSpark.spark

  private val nlist = 3
  private val nQueries = 12
  private val codesPerList = 40

  /** (m, ks, dsub) — includes m = 1 and 2 (a sum with one or two
    * terms) next to deeper sums, and odd widths. */
  private val shapes = Seq((1, 2, 5), (2, 4, 3), (3, 7, 6), (4, 16, 2),
    (8, 8, 4))

  private case class Case(model: Pq.PqModel, centroids: Seq[Seq[Double]],
      probes: DataFrame, lists: DataFrame)

  private def generate(m: Int, ks: Int, dsub: Int, seed: Int): Case = {
    val rnd = new scala.util.Random(seed)
    val dim = m * dsub
    def gauss(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian())
    val model = Pq.PqModel(dim, m, ks,
      Seq.fill(m)(Seq.fill(ks)(gauss(dsub))))
    val centroids = Seq.fill(nlist)(gauss(dim))
    val probeRows = for {
      q <- 0 until nQueries
      qv = gauss(dim).map(_.toFloat)
      c <- 0 until nlist
    } yield Row(q.toLong, qv, c)
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), StructType(Seq(
        StructField("query_id", LongType),
        StructField("qv", ArrayType(FloatType)),
        StructField("centroid_id", IntegerType))))
    // every list holds the all-0 and all-(ks−1) code words, a word
    // mixing both ends, and random words
    val listRows = for {
      c <- 0 until nlist
      i <- 0 until codesPerList
    } yield {
      val code = i match {
        case 0 => Seq.fill(m)(0)
        case 1 => Seq.fill(m)(ks - 1)
        case 2 => Seq.tabulate(m)(j => if (j % 2 == 0) 0 else ks - 1)
        case _ => Seq.fill(m)(rnd.nextInt(ks))
      }
      Row(c, (c * codesPerList + i).toLong, code)
    }
    val lists = spark.createDataFrame(
      java.util.Arrays.asList(listRows: _*), StructType(Seq(
        StructField("centroid_id", IntegerType),
        StructField("neighbor_id", LongType),
        StructField("pq_code", ArrayType(IntegerType)))))
    Case(model, centroids, probes, lists)
  }

  /** A seeded orthogonal d×d rotation (polar factor of a Gaussian
    * matrix — the form an OPQ fit produces). */
  private def rotation(d: Int, seed: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Pq.polarOrtho(Array.fill(d, d)(rnd.nextGaussian()))
      .map(_.toSeq).toSeq
  }

  /** (lut, inline) score pairs for every (query, centroid, code) row,
    * both forms built from the same hoisted probe-side columns. */
  private def scores(cs: Case, rot: Option[Seq[Seq[Double]]],
      residual: Boolean): Seq[(Double, Double)] = {
    val model = cs.model
    val centsLit = typedlit(cs.centroids)
    val centsRotLit = rot.map { r =>
      typedlit(cs.centroids.map(c => r.map(row =>
        row.iterator.zip(c.iterator).map { case (a, b) => a * b }.sum)))
    }
    val probesRot = rot.fold(cs.probes)(r =>
      cs.probes.withColumn("_qvr", Pq.rotate(col("qv"), r)))
    val qr = rot.fold(col("qv"))(_ => col("_qvr"))
    val cvec = element_at(centsLit, col("centroid_id") + 1)
    val cvr = centsRotLit.fold(cvec)(cl =>
      element_at(cl, col("centroid_id") + 1))
    val probesSide = probesRot
      .withColumn("_qlut", Pq.subDotLut(qr, model))
      .withColumn("_qn", Pq.vecNorm(col("qv")))
      .withColumn("_clut", Pq.subDotLut(cvr, model))
      .withColumn("_dotqc", aggregate(zip_with(col("qv"), cvec,
        (x, y) => x.cast("double") * y), lit(0.0), (a, b) => a + b))
      .withColumn("_cn2", aggregate(cvec, lit(0.0),
        (acc, x) => acc + x * x))
    val (lut, inline) =
      if (residual)
        (Pq.adcSimResidualLut(col("_qlut"), col("_clut"), col("_dotqc"),
          col("_cn2"), col("_qn"), col("pq_code"), model),
         adcSimResidual(col("qv"), col("pq_code"), cvec, model,
           qvRot = rot.map(_ => col("_qvr")),
           cvecRot = rot.map(_ => cvr)))
      else
        (Pq.adcSimLut(col("_qlut"), col("_qn"), col("pq_code"), model),
         adcSim(col("qv"), col("pq_code"), model,
           qvRot = rot.map(_ => col("_qvr"))))
    probesSide.join(cs.lists, Seq("centroid_id"))
      .select(col("query_id"), col("neighbor_id"), lut.as("lut"),
        inline.as("inline"))
      .orderBy("query_id", "neighbor_id")
      .collect().toSeq.map(r => (r.getDouble(2), r.getDouble(3)))
  }

  for {
    residual <- Seq(false, true)
    rotated <- Seq(false, true)
  } {
    val form = if (residual) "adcSimResidualLut" else "adcSimLut"
    val space = if (rotated) "OPQ-rotated" else "raw"
    test(s"$form is bit-identical to its inline form ($space)") {
      shapes.zipWithIndex.foreach { case ((m, ks, dsub), i) =>
        val cs = generate(m, ks, dsub, seed = 100 + i)
        val rot = if (rotated) Some(rotation(m * dsub, 200 + i)) else None
        val got = scores(cs, rot, residual)
        assert(got.size == nQueries * nlist * codesPerList)
        assert(!got.exists { case (a, b) => a.isNaN || b.isNaN })
        assert(got.map(_._1) === got.map(_._2),
          s"$form ($space) differs from the inline form at " +
            s"m=$m ks=$ks dsub=$dsub")
      }
    }
  }
}

/** The inline ADC score forms — per candidate, every sub-dot is
  * computed against the full query (and centroid) vector. The LUT
  * forms in [[Pq]] replaced them on every production path; they stay
  * here as the references the specs above compare against. */
object AdcLutSpec {
  import Pq.PqModel

  /** The ADC cosine EXPRESSION of a full-precision query vector `qv`
    * against the reconstruction a code column `cd` encodes — per
    * subspace, dot(q_j, cb[code_j]) and ‖cb[code_j]‖² selected from
    * literal tables by the stored code (element_at lookups +
    * zip_with/aggregate loops; the sub-norms are a precomputed m × ks
    * literal).
    *
    * `qvRot` = OPQ mode: the codes quantize R·v, so the
    * reconstruction lives in the ROTATED space and the dot leg reads
    * the PRE-ROTATED query column (cos(q, Rᵀẑ) = (Rq)·ẑ / (‖q‖·‖ẑ‖) —
    * R orthogonal preserves the norms). The caller materializes Rq
    * ONCE as a column on the query side of its join ([[Pq.rotate]]):
    * HOF lambdas are excluded from Spark's common-subexpression
    * elimination, so an in-expression rotate here would re-run the
    * d×d matvec once PER SUBSPACE per scanned code. */
  def adcSim(qv: Column, cd: Column, model: PqModel,
      qvRot: Option[Column] = None): Column = {
    val cb = typedlit(model.codebooks) // m × ks × dsub
    val n2 = typedlit(model.codebooks.map(_.map(_.map(x => x * x).sum)))
    val qr = qvRot.getOrElse(qv)
    val dotJ = (0 until model.m).map { j =>
      val qsl = slice(qr, j * model.dsub + 1, model.dsub)
      val row = element_at(element_at(cb, j + 1),
        element_at(cd, j + 1) + 1)
      aggregate(zip_with(qsl, row, (x, y) => x.cast("double") * y),
        lit(0.0), (a, b) => a + b)
    }.reduce(_ + _)
    val norm2J = (0 until model.m).map { j =>
      element_at(element_at(n2, j + 1), element_at(cd, j + 1) + 1)
    }.reduce(_ + _)
    val qNorm = sqrt(aggregate(qv, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    dotJ / (qNorm * sqrt(norm2J))
  }

  /** [[adcSim]] for RESIDUAL-encoded codes (the canonical IVF-PQ
    * layout: the code word quantizes v − centroid, which a small
    * codebook reconstructs far better than the raw vector):
    * cos(q, c + r̂) with r̂ the code's reconstruction —
    * dot(q,c) + Σ_j dot(q_j, cb_j[code_j]) over
    * ‖q‖ · sqrt(‖c‖² + 2·Σ_j dot(c_j, cb_j[code_j]) + Σ_j ‖cb_j[code_j]‖²).
    * The centroid leg (`cvec`) rides as a per-row array (an
    * element_at into the quantizer literal at the probe site), so no
    * nlist×m×ks cross-term table ever materializes — the FAISS
    * precomputed-table trade, resolved for literal-size safety at
    * production nlist. Same HOF codegen shape as [[adcSim]].
    *
    * `qvRot`/`cvecRot` = OPQ mode: codes quantize R·(v − c), so the
    * reconstruction is v̂ = c + Rᵀẑ and BOTH dot-with-codeword legs
    * read rotated vectors — q·Rᵀẑ = (Rq)·ẑ and c·Rᵀẑ = (Rc)·ẑ —
    * while ‖q‖, ‖c‖², q·c stay in the raw space (R orthogonal).
    * Same pre-rotation contract as [[adcSim]]: the caller hands Rq as
    * a once-materialized column and Rc as a DRIVER-rotated centroid
    * literal lookup (nlist·d doubles — a gather per row, never a
    * per-row matvec). */
  def adcSimResidual(qv: Column, cd: Column, cvec: Column,
      model: PqModel,
      qvRot: Option[Column] = None,
      cvecRot: Option[Column] = None): Column = {
    val cb = typedlit(model.codebooks)
    val n2 = typedlit(model.codebooks.map(_.map(_.map(x => x * x).sum)))
    def dotWithRows(v: Column): Column =
      (0 until model.m).map { j =>
        val sl = slice(v, j * model.dsub + 1, model.dsub)
        val row = element_at(element_at(cb, j + 1),
          element_at(cd, j + 1) + 1)
        aggregate(zip_with(sl, row, (x, y) => x.cast("double") * y),
          lit(0.0), (a, b) => a + b)
      }.reduce(_ + _)
    val rnorm2 = (0 until model.m).map { j =>
      element_at(element_at(n2, j + 1), element_at(cd, j + 1) + 1)
    }.reduce(_ + _)
    val dotQC = aggregate(zip_with(qv, cvec,
      (x, y) => x.cast("double") * y), lit(0.0), (a, b) => a + b)
    val cnorm2 = aggregate(cvec, lit(0.0),
      (acc, x) => acc + x * x)
    val qNorm = sqrt(aggregate(qv, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    (dotQC + dotWithRows(qvRot.getOrElse(qv))) /
      (qNorm * sqrt(cnorm2 +
        lit(2.0) * dotWithRows(cvecRot.getOrElse(cvec)) + rnorm2))
  }
}
