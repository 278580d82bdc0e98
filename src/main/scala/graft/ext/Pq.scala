package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the MEMORY half of the
  * production ANN stack next to [[IvfIndex]]'s routing half: a D-dim
  * float vector becomes `m` small integer codes against `m`
  * independent sub-codebooks, cutting per-vector index storage from
  * 4·D bytes to ~m bytes (32× at D=64, m=8). At 100 TB the posting
  * lists ARE the working set; PQ is what lets a probe's centroid
  * partitions hold a billion vectors in executor memory, with the
  * full-precision vectors staying in the corpus table and read back
  * ONLY for the final re-rank of a bounded candidate pool.
  *
  * Everything here is deterministic and engine-reproducible (the q183
  * discipline): codebooks come from a seeded md5-rank sample — a
  * k-means refinement would be cheap but its float-mean reductions
  * are sum-order-sensitive, which would break oracle replay —
  * cuts rank by (score desc, id) exactly like
  * [[Similarity.bruteForceTopK]] / [[IvfIndex.probe]], and encode ties
  * break on the lowest centroid id. The accuracy contract is certified per use, not
  * assumed: [[adcTopK]] is an APPROXIMATION (reconstruction error
  * biases scores), so the production pattern is ADC-preselect a pool
  * ≫ k, then [[rerankExact]] the pool against the corpus vectors —
  * q191 pins pool recall and final-rank agreement in-query, the
  * q131/q188 certification idiom.
  *
  * Scale shape: [[fit]] is one seeded sample (ks rows to the driver —
  * bounded, ks ≤ 256); [[encode]] is map-only codegen'd array math
  * (no shuffle, no UDF); [[adcTopK]] scans codes + a broadcast query
  * set and cuts with a per-query window; [[rerankExact]] joins the
  * bounded pool back to the corpus by id (broadcastable).
  */
object Pq {

  /** `m` sub-codebooks of `ks` centroids each, `dsub = dim/m` wide.
    * Plain driver-side data — ship it as a literal into expressions
    * (m·ks·dim/m doubles = dim·ks total, e.g. 64·16 = 1024). */
  final case class PqModel(dim: Int, m: Int, ks: Int,
      codebooks: Seq[Seq[Seq[Double]]]) {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub: Int = dim / m
    /** Reconstruction of a code word: codebooks(j)(code(j)) per
      * subspace, concatenated. */
    def reconstruct(codes: Seq[Int]): Seq[Double] =
      codes.zipWithIndex.flatMap { case (c, j) => codebooks(j)(c) }
    /** Bytes per vector at this geometry vs raw float32 — the claim
      * the module exists for (codes pack to ceil(log2 ks) bits;
      * byte-aligned here). */
    def compressionRatio: Double = (dim * 4.0) / m.toDouble
  }

  /** Seeded deterministic codebook fit: md5-rank-sample `ks` corpus
    * rows (the q117 quota-sampler idiom — engine- AND
    * oracle-reproducible), slice each into the `m` subspaces. Null
    * vectors are refused loudly (a silent skip would make the sample
    * data-dependent). `ks` rows collect to the driver — bounded by
    * construction. */
  def fit(df: DataFrame, idCol: String, vecCol: String, m: Int, ks: Int,
      seed: Int = 7): PqModel = {
    require(m > 0 && ks > 0, s"need m > 0 and ks > 0, got m=$m ks=$ks")
    val picked = df
      .select(col(idCol).cast("string").as("_id"), col(vecCol).as("_v"))
      .withColumn("_h", md5(concat(lit(s"pqfit:$seed:"), col("_id"))))
      .orderBy(col("_h"), col("_id"))
      .limit(ks)
      .select("_v").collect()
    require(picked.length == ks,
      s"corpus has ${picked.length} rows, need ks=$ks for the sample")
    val vecs = picked.map { r =>
      val s = r.getSeq[Number](0)
      require(s != null && !s.contains(null),
        "pq fit refuses null vectors/elements — filter them first")
      s.map(_.doubleValue()).toSeq
    }
    val dim = vecs.head.size
    require(vecs.forall(_.size == dim), "ragged vector widths in sample")
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val codebooks = (0 until m).map(j =>
      vecs.map(v => v.slice(j * dsub, (j + 1) * dsub)).toSeq)
    PqModel(dim, m, ks, codebooks)
  }

  /** Map-only encoder: `codeCol` = the m per-subspace nearest-centroid
    * ids (squared-L2, ties to the LOWEST centroid id — the
    * [[Similarity.nearestCentroids]] discipline). Runs as ONE native
    * codegen'd kernel per row ([[graft.functions.PqEncode]]; the
    * codebook rides as a reference object) — bit-identical to the original HOF form it replaced
    * (`encodeHof`, PqExprsSpec's test-scope reference; also pinned by
    * the oracle gate): same
    * ascending-i fold per (subspace, codeword) distance, same
    * round(·, 9) tie grid, same lowest-id tie-break. The HOF shape
    * existed because a literal-unrolled form blows Janino's 64 KB
    * method limit at m=16·ks=64; the native kernel holds at any
    * (m, ks) AND stays inside whole-stage codegen, where HOF lambdas
    * were interpreted per element.
    *
    * Null VECTORS encode to null codes (which then ADC-score null and
    * rank last — Spark's `desc` default is NULLS LAST; the r17 ADVICE
    * finding). Vectors with null ELEMENTS must still be filtered
    * first, as [[IvfIndex]]'s build/refresh paths do; [[fit]] refuses
    * both in its sample loudly. */
  def encode(df: DataFrame, vecCol: String, model: PqModel,
      codeCol: String = "pq_code"): DataFrame =
    df.withColumn(codeCol, call_function("pq_encode", col(vecCol),
      typedlit(model.codebooks)))

  /** OPQ parametric initialization (Ge/He/Ke/Sun, "Optimized Product
    * Quantization", CVPR 2013 §4): a PCA rotation alone CONCENTRATES
    * variance into the first subspace — worse for PQ than no rotation
    * (each sub-quantizer has a fixed codeword budget). The published
    * fix is eigenvalue allocation: assign principal components to
    * subspaces greedily balancing the PRODUCT of eigenvalues per
    * subspace, so every sub-quantizer sees comparable variance.
    * Returns the component order (position p of the permuted vector
    * takes component `perm(p)`); compose as PCA-transform → permute →
    * [[fit]]/[[encode]]. Pure driver arithmetic on the (≤ dim)
    * eigenvalue list. */
  def eigenAllocation(eigenvalues: Seq[Double], m: Int): Seq[Int] = {
    val dim = eigenvalues.size
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val cap = Array.fill(m)(dsub)
    val logSum = Array.fill(m)(0.0)
    val buckets = Array.fill(m)(List.empty[Int])
    for (c <- eigenvalues.indices.sortBy(i => -eigenvalues(i))) {
      val open = (0 until m).filter(cap(_) > 0)
      val j = open.minBy(logSum(_))
      buckets(j) = c :: buckets(j)
      cap(j) -= 1
      logSum(j) += math.log(math.max(eigenvalues(c), 1e-300))
    }
    buckets.toSeq.flatMap(_.reverse)
  }

  /** Reorder a vector column by a component permutation (the
    * [[eigenAllocation]] output): map-only `element_at` gather. */
  def permute(v: Column, perm: Seq[Int]): Column =
    array(perm.map(p => element_at(v, p + 1)): _*)

  /** Rotate a vector column by a literal orthogonal matrix `r` (rows
    * of R): z_i = dot(R_i, v) — map-only HOF matvec (the d×d literal
    * is ≤ a few thousand doubles; same codegen shape as [[encode]]).
    * The [[opqFit]] output composes through here for downstream
    * encode/search. */
  def rotate(v: Column, r: Seq[Seq[Double]]): Column =
    transform(typedlit(r), row =>
      aggregate(zip_with(row, v, (a, b) => a * b.cast("double")),
        lit(0.0), (acc, x) => acc + x))

  /** The reconstruction VECTOR a code word decodes to — per-subspace
    * codeword lookups concatenated (map-only literal gathers; the
    * column form of [[PqModel.reconstruct]]). */
  private def reconstructCol(cd: Column, model: PqModel): Column = {
    val cb = typedlit(model.codebooks)
    flatten(array((0 until model.m).map(j =>
      element_at(element_at(cb, j + 1), element_at(cd, j + 1) + 1)): _*))
  }

  /** M = Σ_rows ẑ·xᵀ — the d×d cross-moment the OPQ rotation update
    * needs: one treeAggregate pass accumulating per-partition local
    * arrays (the [[Pca.fit]] shape — the shuffle carries
    * O(partitions·d²) doubles, never rows). Column 0 = x, column 1 =
    * ẑ, both array<double>. */
  private def crossMoment(df: DataFrame, dim: Int): Array[Array[Double]] = {
    val zero = new Array[Double](dim * dim)
    val acc = df.rdd.treeAggregate(zero)(
      seqOp = (a, row) => {
        val x = row.getSeq[Number](0)
        val z = row.getSeq[Number](1)
        if (x != null && z != null) {
          require(x.length == dim && z.length == dim,
            s"opq cross-moment: widths ${x.length}/${z.length}, " +
              s"expected $dim")
          var i = 0
          while (i < dim) {
            val zi = z(i).doubleValue
            val off = i * dim
            var j = 0
            while (j < dim) { a(off + j) += zi * x(j).doubleValue; j += 1 }
            i += 1
          }
        }
        a
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    Array.tabulate(dim, dim)((i, j) => acc(i * dim + j))
  }

  /** Closest orthogonal matrix to M (polar factor): R = UVᵀ of M's
    * SVD — exactly the orthogonal-Procrustes solution the OPQ
    * rotation step needs (max tr(RᵀM)). Driver-side O(d³) through the
    * [[Pca]] Jacobi eigensolver on the symmetric MᵀM (the same
    * deliberate driver boundary as PCA's eigenproblem): v_k from
    * MᵀM's eigenvectors, u_k = M·v_k/σ_k on the row space, and the
    * NULL space (a rank-deficient M — low-rank data makes this the
    * common case, not the error case) completed with any orthonormal
    * basis: those directions contribute zero to tr(RᵀM) either way,
    * so every completion is optimal — the convention numpy's SVD
    * hands the paper's reference implementation implicitly. */
  private[ext] def polarOrtho(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m0.length
    val s = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k => m0(k)(i) * m0(k)(j)).sum)
    val (vals, vecs) = Pca.jacobiEigSym(s)
    val mx = math.max(vals.max, 1e-300)
    val us = Array.ofDim[Double](d, d)
    val done = Array.fill(d)(false)
    (0 until d).foreach { k =>
      if (vals(k) > 1e-10 * mx) {
        // u_k = M v_k / σ_k (re-normalized against float drift)
        val u = Array.tabulate(d)(i =>
          (0 until d).map(j => m0(i)(j) * vecs(k)(j)).sum)
        val nrm = math.sqrt(u.map(x => x * x).sum)
        if (nrm > 1e-150) {
          (0 until d).foreach(i => us(k)(i) = u(i) / nrm)
          done(k) = true
        }
      }
    }
    // null-space completion: Gram-Schmidt the identity basis against
    // every accepted u — any orthonormal fill is Procrustes-optimal
    (0 until d).filterNot(done).foreach { k =>
      val filled = (0 until d).exists { e =>
        val w = Array.tabulate(d)(i => if (i == e) 1.0 else 0.0)
        (0 until d).filter(done).foreach { kk =>
          val dot = (0 until d).map(i => us(kk)(i) * w(i)).sum
          (0 until d).foreach(i => w(i) -= dot * us(kk)(i))
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm > 1e-6) {
          (0 until d).foreach(i => us(k)(i) = w(i) / nrm)
          done(k) = true
        }
        done(k)
      }
      require(filled, "opq rotation update: could not complete an " +
        "orthonormal basis — degenerate cross-moment")
    }
    // R = Σ_k u_k v_kᵀ
    Array.tabulate(d, d)((i, j) =>
      (0 until d).map(k => us(k)(i) * vecs(k)(j)).sum)
  }

  /** OPQ NON-PARAMETRIC refinement (Ge/He/Ke/Sun, CVPR 2013 §3) — the
    * learned rotation on top of [[eigenAllocation]]'s parametric init:
    * alternate (a) one Lloyd codebook round on the rotated data
    * ([[refine]]), (b) re-encode, (c) the orthogonal-Procrustes
    * rotation update R = polar(Σ ẑxᵀ) ([[polarOrtho]]). Every step is
    * non-increasing in the training objective Σ‖Rx − ẑ‖², so the
    * learned model reconstructs at-or-better than its init. Scale
    * shape per iteration: one map-only encode + one d²-wide
    * treeAggregate + a driver-side d³ polar — no all-pairs anything.
    *
    * Returns (R rows, model over R-rotated data); compose downstream
    * as [[rotate]](v, R) → [[encode]]. Same determinism stance as
    * [[refine]]: float-sum reductions are order-sensitive, so the
    * result is engine-deterministic only per-plan — spec-certified
    * (PqSpec), kept OUT of oracle paths by design. */
  def opqFit(df: DataFrame, idCol: String, vecCol: String, m: Int,
      ks: Int, iters: Int, seed: Int = 7): (Seq[Seq[Double]], PqModel) = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    var model = fit(df, idCol, vecCol, m, ks, seed)
    val dim = model.dim
    var r: Seq[Seq[Double]] = Seq.tabulate(dim, dim)((i, j) =>
      if (i == j) 1.0 else 0.0)
    def rotated(): DataFrame = df.select(col(idCol),
      rotate(col(vecCol), r).as("_rz"),
      transform(col(vecCol), x => x.cast("double")).as("_x"))
    for (_ <- 0 until iters) {
      val rz = rotated().localCheckpoint(true) // 3 uses per iteration
      model = refine(rz, "_rz", model, 1)
      val enc = encode(rz, "_rz", model)
      val mMat = crossMoment(
        enc.select(col("_x"), reconstructCol(col("pq_code"), model)),
        dim)
      r = polarOrtho(mMat).map(_.toSeq).toSeq
    }
    // re-center the codebooks on the FINAL rotation (the last loop
    // step moved R after the last Lloyd round)
    if (iters > 0) model = refine(rotated(), "_rz", model, 1)
    (r, model)
  }

  /** Distributed Lloyd refinement of a fitted model's codebooks:
    * `iters` rounds of encode → per-(subspace, code) mean → replace
    * (empty cells keep their previous codeword). Each round is one
    * map-only encode plus one m·ks-cell aggregate — no all-pairs
    * anything, scales like [[encode]]. The refined model reconstructs
    * strictly better on the training distribution (k-means descent),
    * which is what bounded-pool ADC recall rides on; the trade,
    * documented rather than hidden, is that float-mean reductions are
    * sum-order-sensitive, so a REFINED model is engine-deterministic
    * only per-plan — oracle-replayed gates (q191/q192) stay on the
    * seeded [[fit]], and the recall gain is spec-certified instead
    * (PqSpec). */
  def refine(df: DataFrame, vecCol: String, model: PqModel,
      iters: Int): PqModel = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    var cur = model
    for (_ <- 0 until iters) {
      val enc = encode(df, vecCol, cur)
      // one narrow aggregate: (subspace j, code c) -> mean sub-vector
      val cells = enc.select(posexplode(col("pq_code")).as(Seq("j", "c")),
          col(vecCol).as("_v"))
        .select(col("j"), col("c"),
          slice(transform(col("_v"), x => x.cast("double")),
            col("j") * cur.dsub + 1, lit(cur.dsub)).as("sl"))
        .groupBy("j", "c")
        .agg(count(lit(1)).as("n"),
          array((0 until cur.dsub).map(i =>
            sum(element_at(col("sl"), i + 1))): _*).as("sums"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getLong(2), r.getSeq[Double](3)))
        .toMap
      val next = cur.codebooks.zipWithIndex.map { case (cb, j) =>
        cb.zipWithIndex.map { case (old, c) =>
          cells.get((j, c)) match {
            case Some((n, sums)) if n > 0 => sums.map(_ / n).toSeq
            case _ => old // an empty cell keeps its codeword
          }
        }
      }
      cur = PqModel(cur.dim, cur.m, cur.ks, next)
    }
    cur
  }

  /** Squared-L2 QUANTIZATION ERROR of a code word against the vector
    * it encodes: Σ_j ‖v_j − cb_j[code_j]‖² — the reconstruction-
    * fidelity measure the codebooks were fit to minimize, and the
    * DRIFT SIGNAL for a maintained IVF-PQ index: churn that stays
    * in-distribution for the coarse quantizer (assignment cosine flat)
    * but drifts for the codebooks shows up here and nowhere else —
    * bounded-pool ADC recall degrades silently otherwise
    * ([[IvfIndex.pqDrift]] accumulates this per refresh delta). One
    * native codegen'd kernel per row ([[graft.functions.PqQuantErr]],
    * bit-identical to the HOF reference `quantErrHof` — PqExprsSpec);
    * map-only. */
  private[ext] def quantErr(v: Column, cd: Column,
      model: PqModel): Column =
    call_function("pq_quant_err", v, cd, typedlit(model.codebooks))

  /** The per-vector ADC LOOKUP TABLE: an m × ks array of sub-dots —
    * lut[j][c] = dot(v_j, cb[j][c]) — computed ONCE per row of the
    * (small) side that carries `v`. The classic ADC trade: scoring a
    * candidate then costs m table lookups instead of m slice+zip_with
    * sub-dots over the full vector. Each table cell is the EXACT
    * expression the inline forms `adcSim`/`adcSimResidual` (AdcLutSpec's
    * test-scope references) compute per candidate (same
    * zip_with/aggregate element order), and the score sums
    * cells in the same ascending-j order — the LUT form is
    * bit-identical to the inline form, just hoisted from the
    * |candidates|-sized side to the |queries·nprobe|-sized side
    * (guide §2.3 "shuffle keys and metadata instead of payloads",
    * applied to compute: per-candidate work must not scale with dim). */
  private[ext] def subDotLut(v: Column, model: PqModel): Column = {
    val cb = typedlit(model.codebooks) // m × ks × dsub
    array((0 until model.m).map { j =>
      val sl = slice(v, j * model.dsub + 1, model.dsub)
      transform(element_at(cb, j + 1), row =>
        aggregate(zip_with(sl, row, (x, y) => x.cast("double") * y),
          lit(0.0), (a, b) => a + b))
    }: _*)
  }

  /** Σ_j lut[j][code_j] — the LUT-form sub-dot sum (ascending j, the
    * inline form's reduce order). */
  private[ext] def lutSum(lut: Column, cd: Column, model: PqModel): Column =
    (0 until model.m).map { j =>
      element_at(element_at(lut, j + 1), element_at(cd, j + 1) + 1)
    }.reduce(_ + _)

  /** Σ_j ‖cb_j[code_j]‖² from the precomputed sub-norm literal —
    * shared by both LUT score forms. */
  private[ext] def codeNorm2(cd: Column, model: PqModel): Column = {
    val n2 = typedlit(model.codebooks.map(_.map(_.map(x => x * x).sum)))
    (0 until model.m).map { j =>
      element_at(element_at(n2, j + 1), element_at(cd, j + 1) + 1)
    }.reduce(_ + _)
  }

  /** ‖v‖: the squares summed in element order, then sqrt. */
  private[ext] def vecNorm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** The ADC cosine of a full-precision query against the
    * reconstruction a code column `cd` encodes, in LUT form:
    * Σ_j dot(q_j, cb_j[code_j]) over ‖q‖·sqrt(Σ_j ‖cb_j[code_j]‖²).
    * `qlut` = [[subDotLut]] of the (rotated) query, `qNorm` =
    * [[vecNorm]] of the RAW query — both hoisted to the query side by
    * the caller. In OPQ mode the codes quantize R·v, so `qlut` reads
    * Rq, materialized once as its own column ([[rotate]]; HOF lambdas
    * are exempt from common-subexpression elimination), while ‖q‖
    * stays raw (R is orthogonal). Bit-identical to the inline
    * reference `adcSim` (AdcLutSpec). */
  private[ext] def adcSimLut(qlut: Column, qNorm: Column, cd: Column,
      model: PqModel): Column =
    lutSum(qlut, cd, model) / (qNorm * sqrt(codeNorm2(cd, model)))

  /** [[adcSimLut]] for RESIDUAL-encoded codes (the code word quantizes
    * v − centroid): cos(q, c + r̂) = (q·c + Σ_j dot(q_j, cb_j[code_j]))
    * over ‖q‖·sqrt(‖c‖² + 2·Σ_j dot(c_j, cb_j[code_j]) +
    * Σ_j ‖cb_j[code_j]‖²). Every (query, centroid)-only term is
    * hoisted by the caller: `qlut`/`clut` = [[subDotLut]] of the
    * (rotated) query / centroid, `dotQC` = q·c, `cnorm2` = ‖c‖²,
    * `qNorm` = ‖q‖. Per candidate: 3·m element_at lookups plus scalar
    * arithmetic. Bit-identical to the inline reference
    * `adcSimResidual` (AdcLutSpec). */
  private[ext] def adcSimResidualLut(qlut: Column, clut: Column,
      dotQC: Column, cnorm2: Column, qNorm: Column, cd: Column,
      model: PqModel): Column =
    (dotQC + lutSum(qlut, cd, model)) /
      (qNorm * sqrt(cnorm2 +
        lit(2.0) * lutSum(clut, cd, model) + codeNorm2(cd, model)))

  /** Asymmetric-distance (ADC) approximate cosine: the query keeps
    * full precision, the corpus side is its PQ reconstruction —
    * cos(q, recon(v)) = Σ_j dot(q_j, cb_j[code_j]) over ‖q‖·‖recon‖,
    * with ‖recon‖² = Σ_j ‖cb_j[code_j]‖² (sub-codebook norms are
    * literals; nothing reads the original vector). Returns
    * (query_id, neighbor_id, adc_sim, rank) cut to the top `pool`
    * per query by (sim desc, id) — the CANDIDATE GENERATOR, not the
    * answer: feed it to [[rerankExact]]. */
  def adcTopK(queries: DataFrame, encoded: DataFrame, idCol: String,
      vecCol: String, codeCol: String, model: PqModel,
      pool: Int): DataFrame = {
    require(pool > 0, s"pool must be positive: $pool")
    // the query-only ADC terms (sub-dot LUT, ‖q‖) ride the broadcast
    // side, computed once per query — scoring a candidate is then m
    // lookups, not m slice+zip_with sub-dots (bit-identical values;
    // see [[subDotLut]])
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"),
      subDotLut(col(vecCol), model).as("_qlut"),
      vecNorm(col(vecCol)).as("_qn"))
    val c = encoded.select(col(idCol).as("neighbor_id"),
      col(codeCol).as("cd"))
    val sim = adcSimLut(col("_qlut"), col("_qn"), col("cd"), model)
    // raw-score cut, id tie-break — the bruteForceTopK/probe family
    // discipline (ADC scores are engine-local anyway; exact replay
    // rides the re-rank, not this preselection)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), sim.as("adc_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= pool)
  }

  /** Exact re-rank of an ADC candidate pool: join the (bounded) pool
    * back to the full-precision corpus vectors by id, score exact
    * cosine, keep the top `k` per query by (sim desc, id — the
    * bruteForceTopK discipline). Output schema matches [[Similarity.bruteForceTopK]] /
    * [[IvfIndex.probe]]: (query_id, neighbor_id, cosine_sim, rank).
    * The pool is k·|queries|-bounded, so the join broadcasts. */
  def rerankExact(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("neighbor_id"))
    candidates.select("query_id", "neighbor_id")
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.cosine(col("qv"), col("nv")).as("cosine_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
