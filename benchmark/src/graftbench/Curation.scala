package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Bm25Index, Dedup, IvfIndex, Retrieval, Similarity}
import graft.sources.VersionedTable

/** One curation round over a document corpus with an IVF-PQ vector
  * index and a BM25 index, run by `etl_batch` at a fixed position of its
  * sequence so that the `ext` layer is measured. Three ops:
  *  - `ingest`: one arriving batch, exact dedup against the corpus,
  *    MinHash near-dup detection against corpus and batch, append of the
  *    survivors, then both index refreshes;
  *  - `hybrid_query`: one single-query retrieval, IVF probe and BM25
  *    top-N fused by RRF and collapsed per duplicate family by
  *    `dedupTopN`, collected;
  *  - `batch_query`: the batch form of the same retrieval over several
  *    queries (the bypass of single-query changes).
  * A driver-side model of the corpus gives the references: the dedup
  * decisions, BM25 scores, the fusion and the exact neighbours for IVF
  * recall. */
final class Curation(ctx: Ctx) {
  import Curation._

  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val gen = new Gen(ctx.seed)
  private val corpus = ctx.path("tables/corpus")
  private val ivf = ctx.path("tables/ivf")
  private val bm25 = ctx.path("tables/bm25")

  /** The reference corpus: what exact and near-dup dedup should keep. */
  private val model = mutable.LinkedHashMap.empty[Long, Doc]
  private var recallSum = 0.0
  private var recallN = 0

  def generate(): Unit = {
    gen.initial(InitialDocs).foreach(d => model(d.id) = d)
    VersionedTable.create(spark, corpus, frame(model.values.toSeq).repartition(4))
    IvfIndex.create(spark, corpus, "doc_id", "emb", nlist = Nlist, ivf, pq = Some((PqM, PqK)))
    Bm25Index.create(spark, corpus, "doc_id", "text", bm25, nParts = 4)
  }

  /** One ingest; returns the ids it kept. */
  private def ingest(batch: Seq[Doc]): Set[Long] = {
    val kept = tr.span("ext.dedup") {
      val fresh = Dedup.newAgainstCorpus(frame(batch),
        VersionedTable.read(spark, corpus), "text").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val pool = frame(batch.filter(d => fresh(d.id))).select("doc_id", "text")
        .unionByName(VersionedTable.read(spark, corpus).select("doc_id", "text"))
      val pairs = Dedup.minhashNearDupPairs(pool, "doc_id", "text", threshold = Threshold)
      val newIds = batch.map(_.id).toSet
      val drop = try pairs.select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).filter(p => newIds(p._2)).toSeq
      finally pairs.unpersist()
      if (tr.active) tr.sample("ext.verified_pairs", drop.size)
      fresh -- drop.map(_._2)
    }
    VersionedTable.append(spark, corpus, frame(batch.filter(d => kept(d.id))))
    tr.span("ext.ivf_refresh")(IvfIndex.refresh(spark, ivf))
    tr.span("ext.bm25_refresh")(Bm25Index.refresh(spark, bm25))
    kept
  }

  /** A retrieval in flight: the ranked lists stay cached until the
    * untimed check has read them. */
  private final class Result(val rows: Array[Row], val vec: DataFrame,
      val lex: DataFrame) {
    def release(): Unit = vec.unpersist()
  }

  private def withFamily(df: DataFrame): DataFrame =
    df.join(VersionedTable.read(spark, corpus).select("doc_id", "family"), "doc_id")

  private def query(q: Query): Result = {
    val qdf = spark.createDataFrame(java.util.Arrays.asList(Row(q.id, q.vec)), QuerySchema)
    val vec = tr.span("ext.probe")(
      IvfIndex.probe(qdf, ivf, "query_id", "emb", k = ListSize, nprobe = Nprobe, pool = Pool))
    val lex = tr.span("ext.topn")(Bm25Index.topN(spark, bm25, q.terms, ListSize))
    val rows = tr.span("ext.fuse") {
      val fused = Similarity.rrfFuse(Seq(lex -> "bm25",
        vec.select(col("neighbor_id").as("doc_id"), col("cosine_sim")) -> "cosine_sim"),
        "doc_id", topN = ListSize)
      Retrieval.dedupTopN(withFamily(fused), "doc_id", "rrf_score", "family", TopN)
        .select("doc_id", "rrf_score").collect()
    }
    new Result(rows, vec, lex)
  }

  private def batchQuery(qs: Seq[Query]): Result =
    tr.span("ext.batch_query") {
      val qdf = spark.createDataFrame(java.util.Arrays.asList(
        qs.map(q => Row(q.id, q.vec, q.terms)): _*), BatchQuerySchema)
      val vec = IvfIndex.probe(qdf, ivf, "query_id", "emb", k = ListSize, nprobe = Nprobe,
        pool = Pool)
      val lex = Bm25Index.topNBatch(qdf, bm25, "query_id", "terms", ListSize)
        .select("query_id", "doc_id", "bm25")
      val fused = Similarity.rrfFuseBatch(Seq(lex -> "bm25",
        vec.select(col("query_id"), col("neighbor_id").as("doc_id"), col("cosine_sim")) ->
          "cosine_sim"), "query_id", "doc_id", ListSize)
      val rows = Retrieval.dedupTopN(withFamily(fused), "doc_id", "rrf_score", "family",
        TopN, queryCol = Some("query_id")).select("query_id", "doc_id", "rrf_score").collect()
      new Result(rows, vec, lex)
    }

  lazy val ops: IndexedSeq[Op] = {
    var batch: Seq[Doc] = Seq.empty
    var kept: Set[Long] = Set.empty
    val ingestOp = Op("ingest", () => {
      batch = gen.arrivals(model.values.toSeq, BatchDocs)
      kept = ingest(batch)
    }, () => {
      val want = referenceKeep(model.values.toSeq, batch)
      ctx.expect(kept == want, s"ingest: kept ${kept.toSeq.sorted}, " +
        s"reference ${want.toSeq.sorted}")
      batch.filter(d => want(d.id)).foreach(d => model(d.id) = d)
      if (tr.active) traceCandidates(batch)
    })
    val q = gen.query(0)
    var res: Result = null
    // the untimed check drops the result, so no op keeps its frames alive
    val queryOp = Op("hybrid_query", () => { res = query(q) },
      () => try verify(Seq(q), res, batch = false) finally { res.release(); res = null })
    val qs = (1 to BatchQueries).map(gen.query)
    var bres: Result = null
    val batchOp = Op("batch_query", () => { bres = batchQuery(qs) },
      () => try verify(qs, bres, batch = true) finally { bres.release(); bres = null })
    IndexedSeq(ingestOp, queryOp, batchOp)
  }

  // ---- references, outside timing

  /** Exact dedup decision: drop an arrival whose text equals a corpus
    * text, or whose 3-shingle Jaccard with any lower-id document of the
    * corpus or of the batch's exact-dedup survivors reaches the
    * threshold. */
  private def referenceKeep(docs: Seq[Doc], batch: Seq[Doc]): Set[Long] = {
    val texts = docs.map(_.text).toSet
    val fresh = batch.filterNot(d => texts(d.text))
    val pool = docs ++ fresh
    fresh.filterNot(d => pool.exists(e => e.id < d.id &&
      jaccard(e.shingles, d.shingles) >= Threshold)).map(_.id).toSet
  }

  private def verify(qs: Seq[Query], res: Result, batch: Boolean): Unit = {
    val docs = model.values.toSeq
    val vecRows = res.vec.select("query_id", "neighbor_id", "cosine_sim").collect()
    val lexRows =
      if (batch) res.lex.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      else res.lex.collect().map(r => (qs.head.id, r.getLong(0), r.getDouble(1)))
    val n = docs.size
    val avgdl = docs.map(_.tokens.length).sum.toDouble / n
    qs.foreach { q =>
      // BM25 against the reference scorer
      val terms = q.terms.distinct
      val dfs = terms.map(t => t -> docs.count(_.tokenSet(t))).toMap
      def score(d: Doc): Double = math.rint(terms.map { t =>
        val tf = d.tokens.count(_ == t).toDouble
        val idf = math.log((n - dfs(t) + 0.5) / (dfs(t) + 0.5) + 1.0)
        idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * d.tokens.length / avgdl))
      }.sum * 1e6) / 1e6
      val wantLex = docs.map(d => d.id -> score(d)).filter(_._2 > 0)
        .sortBy(x => (-x._2, x._1)).take(ListSize)
      val gotLex = lexRows.filter(_._1 == q.id).map(x => (x._2, x._3))
        .sortBy(x => (-x._2, x._1)).toSeq
      val lexOk = gotLex.size == wantLex.size &&
        gotLex.zip(wantLex).forall { case (g, w) => math.abs(g._2 - w._2) < 1e-5 } &&
        gotLex.forall { case (id, s) => model.get(id).exists(d => math.abs(score(d) - s) < 1e-5) }
      ctx.expect(lexOk, s"bm25 query ${q.id}: $gotLex vs $wantLex")
      // IVF recall@10 against exact cosine
      val gotVec = vecRows.filter(_.getLong(0) == q.id)
        .map(r => (r.getLong(1), r.getDouble(2))).sortBy(x => (-x._2, x._1)).toSeq
      val exact = docs.map(d => d.id -> cosine(q.vec, d.vec)).sortBy(x => (-x._2, x._1))
        .take(RecallK).map(_._1).toSet
      recallSum += gotVec.take(RecallK).count(x => exact(x._1)).toDouble / RecallK
      recallN += 1
      // RRF over the two lists graft produced, then the family collapse
      def ranks(xs: Seq[(Long, Double)]) =
        xs.sortBy(x => (-x._2, x._1)).zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
      val (rl, rv) = (ranks(gotLex), ranks(gotVec))
      val fused = (rl.keySet ++ rv.keySet).toSeq.map { id =>
        id -> BigDecimal(Seq(rl.get(id), rv.get(id)).flatten.map(r => 1.0 / (Rrf + r)).sum)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.sortBy(x => (-x._2, x._1)).take(ListSize)
      val want = fused.groupBy(x => model(x._1).family).values
        .map(_.minBy(x => (-x._2, x._1))).toSeq.sortBy(x => (-x._2, x._1)).take(TopN)
      val got =
        if (batch) res.rows.filter(_.getLong(0) == q.id).map(r => (r.getLong(1), r.getDouble(2)))
        else res.rows.map(r => (r.getLong(0), r.getDouble(1)))
      val gotSorted = got.toSeq.sortBy(x => (-x._2, x._1))
      ctx.expect(gotSorted.map(_._1) == want.map(_._1) &&
        gotSorted.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) < 1e-9 },
        s"fused top-$TopN query ${q.id}: $gotSorted vs $want")
    }
  }

  /** Traced run: LSH candidate pairs (the same shingles, signature and
    * bands as the near-dup search) that involve an arrival. */
  private def traceCandidates(batch: Seq[Doc]): Unit = {
    val newIds = batch.map(_.id).toSet
    val before = model.values.toSeq.filterNot(d => newIds(d.id))
    val texts = before.map(_.text).toSet
    val pool = frame(before ++ batch.filterNot(d => texts(d.text)))
    val banded = pool.select(col("doc_id"), explode(Dedup.lshBandKeys(
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64), 16, 4)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val first = batch.map(_.id).min
    val n = banded.as("l").join(banded.as("r"), col("l.band") === col("r.band") &&
        col("l.key") === col("r.key") && col("l.doc_id") < col("r.doc_id"))
      .filter(col("r.doc_id") >= first).select("l.doc_id", "r.doc_id").distinct().count()
    tr.sample("ext.candidates", n.toDouble)
  }

  def layerMetrics: Map[String, Double] = {
    val c = tr.samples.get("ext.candidates").map(_.sum).getOrElse(0.0)
    val v = tr.samples.get("ext.verified_pairs").map(_.sum).getOrElse(0.0)
    Map("ext.candidate_precision" -> (if (c > 0) v / c else 0.0),
      "ext.ivf_recall_at_10" -> recallSum / math.max(1, recallN))
  }

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val ids = VersionedTable.read(spark, corpus).select("doc_id").collect().map(_.getLong(0))
    if (ids.toSet != model.keySet || ids.length != model.size)
      out += s"corpus: ${ids.length} docs, reference ${model.size}"
    // near-dup pairs on a slice against the exact all-pairs answer. Every
    // reported pair must be a true pair (graft verifies each candidate
    // with the exact Jaccard). Finding a true pair is probabilistic: LSH
    // makes a pair of Jaccard J a candidate with probability
    // 1 - (1 - J^4)^16 (16 bands of 4 rows of a 64-hash signature). The
    // number found must not fall in the lowest 0.1% of the distribution
    // those probabilities give.
    val slice = model.values.take(SliceDocs).toSeq
    val pairs = Dedup.minhashNearDupPairs(frame(slice), "doc_id", "text", threshold = Threshold)
    val got = try pairs.select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally pairs.unpersist()
    val truth = (for (a <- slice; b <- slice if a.id < b.id;
      j = jaccard(a.shingles, b.shingles) if j >= Threshold) yield (a.id, b.id) -> j).toMap
    val falsePairs = got -- truth.keySet
    if (falsePairs.nonEmpty)
      out += s"near-dup pairs on a $SliceDocs-doc slice: ${falsePairs.size} below the threshold"
    val found = (got intersect truth.keySet).size
    val chance = atMost(found, truth.values.map(j => 1 - math.pow(1 - math.pow(j, 4), 16)))
    if (chance < 1e-3) {
      val missed = (truth -- got).toSeq.sortBy(-_._2).take(3)
        .map { case ((x, y), j) => f"($x, $y) J=$j%.3f" }.mkString(", ")
      out += f"near-dup pairs on a $SliceDocs-doc slice: $found of ${truth.size} found, " +
        f"a chance of $chance%.2g under the LSH model; missed $missed"
    }
    val recall = recallSum / math.max(1, recallN)
    if (recall < RecallFloor) out += f"IVF recall@$RecallK $recall%.3f below the floor $RecallFloor"
    out.toSeq
  }


  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      docs.map(d => Row(d.id, d.text, d.vec, d.family)): _*), DocSchema)
}

object Curation {
  /** The documents table of the sf0.1 test data: 5,000 documents of 54
    * words on average, and 64-dimensional embeddings. */
  val InitialDocs = 5000
  val DocTokens = 54
  val Dim = 64
  /** One arriving batch: 1% of the corpus, so that it holds about 15
    * duplicates (15% near and 15% exact). */
  val BatchDocs = 50
  val Topics = 12
  val TopicWords = 60
  val CommonWords = 300
  /** About the square root of the corpus size, the usual IVF choice. */
  val Nlist = 64
  val Nprobe = 16
  /** Candidates re-ranked with exact vectors; graft's default (4k, at
    * least 50) gave recall@10 of 0.72-0.77. */
  val Pool = 200
  /** 16 subvectors of 4 dimensions, 16 codes each. */
  val PqM = 16
  val PqK = 16
  val ListSize = 20
  val TopN = 10
  val RecallK = 10
  val RecallFloor = 0.7
  val BatchQueries = 16
  val SliceDocs = 400
  val Threshold = 0.5
  val K1 = 1.2
  val B = 0.75
  val Rrf = 60

  val DocSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("emb", ArrayType(FloatType)),
    StructField("family", LongType)))
  val QuerySchema: StructType = StructType(Seq(StructField("query_id", LongType),
    StructField("emb", ArrayType(FloatType))))
  val BatchQuerySchema: StructType = QuerySchema.add("terms", ArrayType(StringType))

  final case class Doc(id: Long, text: String, vec: Seq[Float], family: Long) {
    lazy val tokens: Array[String] = text.split(" ")
    lazy val tokenSet: Set[String] = tokens.toSet
    lazy val shingles: Set[String] = tokens.sliding(3).map(_.mkString("\u0001")).toSet
  }
  final case class Query(id: Long, vec: Seq[Float], terms: Seq[String])

  /** P(X <= k) for X the number of successes of independent trials
    * with probabilities `ps`. */
  def atMost(k: Int, ps: Iterable[Double]): Double = {
    var dist = Array(1.0)
    ps.foreach { p =>
      dist = Array.tabulate(dist.length + 1)(i =>
        (if (i < dist.length) dist(i) * (1 - p) else 0.0) + (if (i > 0) dist(i - 1) * p else 0.0))
    }
    dist.take(k + 1).sum
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    dot / math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
  }

  /** Seeded documents: topic words plus common words, an embedding near
    * the topic's centre. Near-duplicates change one token of their
    * source and keep its family; exact duplicates repeat its text. */
  final class Gen(seed: Long) {
    private val rnd = new Random(seed)
    private val centres = Seq.fill(Topics)(Seq.fill(Dim)(rnd.nextGaussian()))
    private var nextId = 0L

    private def word(topic: Int): String =
      if (rnd.nextDouble() < 0.45) s"t${topic}w${rnd.nextInt(TopicWords)}"
      else s"c${rnd.nextInt(CommonWords)}"

    private def vecNear(c: Seq[Double], noise: Double): Seq[Float] =
      c.map(x => (x + rnd.nextGaussian() * noise).toFloat)

    private def freshDoc(): Doc = {
      val t = rnd.nextInt(Topics)
      val id = nextId
      nextId += 1
      Doc(id, Seq.fill(DocTokens)(word(t)).mkString(" "), vecNear(centres(t), 0.6), id)
    }

    private def nearDup(src: Doc): Doc = {
      val toks = src.tokens.clone()
      val p = rnd.nextInt(toks.length)
      toks(p) = s"x${rnd.nextInt(1000000)}"
      val id = nextId
      nextId += 1
      Doc(id, toks.mkString(" "), vecNear(src.vec.map(_.toDouble), 0.05), src.family)
    }

    private def exactDup(src: Doc): Doc = {
      val id = nextId
      nextId += 1
      Doc(id, src.text, src.vec, src.family)
    }

    def initial(n: Int): Seq[Doc] = {
      val out = mutable.ArrayBuffer.empty[Doc]
      while (out.size < n)
        out += (if (out.size > 10 && rnd.nextDouble() < 0.1) nearDup(out(rnd.nextInt(out.size)))
                else freshDoc())
      out.toSeq
    }

    def arrivals(corpus: Seq[Doc], n: Int): Seq[Doc] = {
      val idx = corpus.toIndexedSeq
      Seq.fill(n) {
        val u = rnd.nextDouble()
        if (u < 0.15) nearDup(idx(rnd.nextInt(idx.size)))
        else if (u < 0.3) exactDup(idx(rnd.nextInt(idx.size)))
        else freshDoc()
      }
    }

    /** Query `i` (a fixed function of the seed and i): three words of a
      * topic and a vector near its centre. Ids are negative, so they
      * never collide with a document id. */
    def query(i: Int): Query = {
      val r = new Random(seed * 1000003L + i)
      val t = r.nextInt(Topics)
      Query(-1L - i, centres(t).map(x => (x + r.nextGaussian() * 0.6).toFloat),
        Seq.fill(3)(s"t${t}w${r.nextInt(TopicWords)}"))
    }
  }
}
