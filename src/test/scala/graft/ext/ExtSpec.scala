package graft.ext

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Extension operators: dedup signatures, similarity math, text
  * analysis, multimodal decode plumbing. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))
  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row(r._1, r._2)): _*), docSchema)

  test("exactKeepFirst keeps the smallest-order row per key") {
    val df = docs((3L, "aa"), (1L, "aa"), (2L, "bb"))
      .withColumn("k", length(col("text")))
    val out = Dedup.exactKeepFirst(df, Seq("text"), "id")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("native set expressions equal the array_intersect/array_union formulation") {
    val rnd = new scala.util.Random(31)
    val vocab = (1 to 15).map(i => s"w$i")
    val rows = (1L to 60L).map { i =>
      // duplicates and empty arrays on purpose
      val n = rnd.nextInt(12)
      Row(i,
        Seq.fill(n)(vocab(rnd.nextInt(vocab.length))),
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(StringType)),
      StructField("b", ArrayType(StringType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = df.select(
        call_function("overlap_size", col("a"), col("b")).as("o"),
        size(array_intersect(col("a"), col("b"))).as("oRef"),
        call_function("jaccard_sets", col("a"), col("b")).as("j"),
        (size(array_intersect(col("a"), col("b"))).cast("double") /
          size(array_union(col("a"), col("b")))).as("jRef"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1))
      assert(r.isNullAt(2) == r.isNullAt(3))
      if (!r.isNullAt(2))
        assert(math.abs(r.getDouble(2) - r.getDouble(3)) < 1e-15)
    }
  }

  test("minhash bucket cap drops degenerate buckets, keeps narrow ones") {
    // 20 identical boilerplate docs: every band bucket they form has
    // width 20; one near-dup pair forms width-2 buckets
    val boiler = (100L until 120L).map(i =>
      i -> "the same boilerplate text repeated in every single document here")
    val pair = Seq(
      1L -> "a genuinely unique document about spark executors and shuffles",
      2L -> "a genuinely unique document about spark executors and shuffle")
    val df = docs(boiler ++ pair: _*)
    def pairs(cap: Int) =
      Dedup.minhashNearDupPairs(df, "id", "text", k = 3, numHashes = 64,
          bands = 16, threshold = 0.5, maxBucket = cap)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
    val uncapped = pairs(0)
    assert(uncapped.contains((1L, 2L)))
    assert(uncapped.exists(p => p._1 >= 100L)) // boilerplate clique found
    val capped = pairs(5)
    // width-20 buckets dropped → clique pairs gone (documented recall
    // trade); the narrow-bucket pair survives
    assert(capped == Set((1L, 2L)))
  }

  test("resolveClustersBest keeps the highest-score row, id-tie pinned") {
    val df = docs((1L, "a"), (2L, "bb"), (3L, "cc"), (4L, "d"))
      .withColumn("score", length(col("text")))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("ida", "idb") // {1,2,3} + {4}
    val out = Dedup.resolveClustersBest(df, "id", pairs, col("score"))
      .select("id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    // cluster {1,2,3}: scores 1,2,2 → keeper is id 2 (score tie with 3,
    // smaller id wins); singleton 4 keeps itself
    assert(out.toSeq == Seq((1L, 1L, false), (2L, 1L, true),
      (3L, 1L, false), (4L, 4L, true)))
  }

  test("jaccard and shingles") {
    val df = docs((1L, "a b c d"), (2L, "a b c e"))
    val sets = df.select(Dedup.shingles(col("text"), 2).as("sh"))
      .collect().map(_.getSeq[String](0).toSet)
    // shingles of 'a b c d' with k=2: ab, bc, cd (joined w/ U+0001)
    assert(sets(0).size == 3)
    val j = df.agg(collect_list(col("text"))).as[Seq[String]].head()
    val sim = docs((1L, "a b c d")).crossJoin(docs((2L, "a b c e")).select(col("text").as("t2")))
      .select(Dedup.jaccard(
        array_distinct(Dedup.tokens(col("text"))),
        array_distinct(Dedup.tokens(col("t2")))).as("j"))
      .as[Double].head()
    assert(math.abs(sim - 3.0 / 5.0) < 1e-12) // {a,b,c} / {a,b,c,d,e}
  }

  test("minhash near-dup finds a true near-duplicate and skips unrelated") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minhashNearDupPairs(df, "id", "text",
      k = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs have distance 0, near docs small, far docs large") {
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = "the quick brown fox jumps over the lazy dog again and again tonight"
    val c = "zq zw ze zr zt zy zu zi zo zp za zs zd zf"
    val df = docs((1L, a), (2L, a), (3L, b), (4L, c))
    val fp = df.select(col("id"), Dedup.simhash64(col("text")).as("fp"))
    val m = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) == 0)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
    val pairs = Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 3)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash banding derives from maxHamming: full recall at every radius") {
    // Brute-force Hamming pairs are the ground truth; banded blocking
    // must reproduce them EXACTLY at each radius (pigeonhole with
    // bands = maxHamming + 1 guarantees it by construction).
    val texts = (1L to 40L).map { i =>
      i -> (1 to 14).map(t => s"w${(i * 7 + t * 3) % 19}_${t % (1 + i % 5)}")
        .mkString(" ")
    }
    val df = docs(texts: _*)
    val fps = df.select(col("id"), Dedup.simhash64(col("text")).as("fp"))
      .as[(Long, Long)].collect()
    for (radius <- Seq(0, 3, 5, 7); m <- Seq(1, 2)
         if m * (64 / (radius + m)) > 8) {
      val want = (for {
        (ia, fa) <- fps; (ib, fb) <- fps
        if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= radius
      } yield (ia, ib)).toSet
      val got = Dedup.simhashNearDupPairs(df, "id", "text",
          maxHamming = radius, exactBands = m)
        .select("ida", "idb").as[(Long, Long)].collect().toSet
      assert(got == want, s"radius=$radius exactBands=$m")
    }
    // beyond the blocking-effective radius the contract refuses loudly
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(df, "id", "text", maxHamming = 8)
    }
    // radius-7 single-band keys are EXACTLY 8 bits — the configuration
    // measured quadratic at 10x corpus (SCALING.md) — and the guard
    // refuses them with the remediation in the message
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(df, "id", "text",
        maxHamming = 7, exactBands = 1)
    }
    assert(e.getMessage.contains("raise exactBands"))
    // ...and the exactBands dial extends the reach with wider keys
    val extended = Dedup.simhashNearDupPairs(df, "id", "text",
        maxHamming = 8, exactBands = 2)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val want8 = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 8
    } yield (ia, ib)).toSet
    assert(extended == want8)
  }

  private def md5hexRef(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  test("selectTopVarianceDims keeps exactly the k highest-variance dims") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    // dim0 variance 0, dim1 small, dim2 large
    val rows = Seq(
      Row(1L, Seq(5.0f, 1.0f, 10.0f)), Row(2L, Seq(5.0f, 1.2f, -10.0f)),
      Row(3L, Seq(5.0f, 0.8f, 30.0f)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = Similarity.selectTopVarianceDims(df, "id", "v", k = 2)
      .select("id", "dim", "value").as[(Long, Int, Double)].collect()
    assert(out.map(_._2).toSet == Set(1, 2)) // dim0 (constant) dropped
    assert(out.length == 6)
    val d2 = out.filter(r => r._1 == 3L && r._2 == 2).head
    assert(d2._3 == 30.0)
  }

  test("cdcChunks: boundaries by md5 parity, full coverage, edit-stable tail") {
    val text = (1 to 60).map(i => s"tok$i").mkString(" ")
    val df = docs((1L, text))
    val out = TextAnalysis.cdcChunks(df, "id", "text", modulus = 4)
      .select("id", "chunk_index", "n_chunk_tokens", "chunk_text")
      .as[(Long, Int, Long, String)].collect().sortBy(_._2)
    // chunks tile the token stream exactly
    assert(out.map(_._4).mkString(" ") == text)
    assert(out.map(_._3).sum == 60L)
    assert(out.map(_._2).toSeq == out.indices.toSeq) // contiguous
    // independent reference: boundary where md5 low nibble % 4 == 0
    def isBnd(t: String) =
      Character.digit(md5hexRef(t).charAt(31), 16) % 4 == 0
    val toks = text.split(" ", -1)
    val refChunks = scala.collection.mutable.Buffer.empty[Seq[String]]
    var cur = scala.collection.mutable.Buffer.empty[String]
    toks.foreach { t => cur += t; if (isBnd(t)) { refChunks += cur.toSeq; cur = scala.collection.mutable.Buffer.empty } }
    if (cur.nonEmpty) refChunks += cur.toSeq
    assert(out.map(_._4).toSeq == refChunks.map(_.mkString(" ")).toSeq)
    // CDC property: prepending text only changes the FIRST chunk
    // region — every chunk after the first boundary keeps its identity
    val out2 = TextAnalysis.cdcChunks(docs((1L, "zzz " + text)), "id",
        "text", modulus = 4)
      .select("chunk_text").as[String].collect().toSet
    assert(out.map(_._4).drop(1).forall(out2.contains))
  }

  test("signedRandomProjection matches the driver-side reference product") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    val rnd = new scala.util.Random(5)
    val vecs = (1L to 6L).map(i => i -> Array.fill(10)(rnd.nextGaussian().toFloat))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      vecs.map { case (i, v) => Row(i, v.toSeq) }: _*), schema)
    val out = Similarity.signedRandomProjection(df, "id", "v",
        dim = 10, outDim = 3, seed = 9)
      .select("id", "out_dim", "proj").as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def sgn(i: Int, j: Int): Double =
      if (Character.digit(md5hexRef(s"rp:9:$i:$j").charAt(31), 16) % 2 == 0) 1.0 else -1.0
    for ((id, v) <- vecs; j <- 0 until 3) {
      val want = v.zipWithIndex.map { case (x, i) => x.toDouble * sgn(i, j) }.sum
      assert(math.abs(out((id, j)) - want) < 1e-6, s"id=$id j=$j")
    }
  }

  test("deterministicSplit: md5-exact buckets, growth-stable assignment") {
    val df = docs((1L to 200L).map(i => i -> s"doc $i"): _*)
    val out = TextAnalysis.deterministicSplit(df, "id", seed = 7,
        trainCut = 204, valCut = 230)
      .select("id", "split_bucket", "split")
      .as[(Long, Int, String)].collect().sortBy(_._1)
    // exact bucket per the md5 reference
    out.foreach { case (id, b, sp) =>
      val h = md5hexRef(s"split:7:$id")
      val want = Character.digit(h.charAt(30), 16) * 16 +
        Character.digit(h.charAt(31), 16)
      assert(b == want, s"id=$id")
      assert(sp == (if (b < 204) "train" else if (b < 230) "val" else "test"))
    }
    // growth stability: assignments over a subset are identical
    val sub = TextAnalysis.deterministicSplit(
        docs((1L to 50L).map(i => i -> s"doc $i"): _*), "id", seed = 7,
        trainCut = 204, valCut = 230)
      .select("id", "split").as[(Long, String)].collect().toMap
    out.filter(_._1 <= 50L).foreach { case (id, _, sp) =>
      assert(sub(id) == sp)
    }
  }

  test("quotaSample: exact quota per group, md5-exact selection, growth-stable") {
    val df = docs((1L to 100L).map(i => i -> s"t $i"): _*)
      .withColumn("g", (col("id") % 3).cast("string"))
    val out = TextAnalysis.quotaSample(df, "g", "id", n = 5, seed = 3)
      .select("g", "id", "sample_rank").as[(String, Long, Int)].collect()
    val byG = out.groupBy(_._1)
    assert(byG.keySet == Set("0", "1", "2"))
    byG.values.foreach(g => assert(g.map(_._3).sorted.toSeq == (1 to 5)))
    // md5-exact: the chosen ids are the 5 smallest md5 keys per group
    for ((g, rows) <- byG) {
      val members = (1L to 100L).filter(i => (i % 3).toString == g)
      val want = members.sortBy(i => (md5hexRef(s"qs:3:$i"), i)).take(5).toSet
      assert(rows.map(_._2).toSet == want, s"group $g")
    }
    // a small stratum still fills what it has
    val tiny = TextAnalysis.quotaSample(
        docs((1L, "a"), (2L, "b")).withColumn("g", lit("x")),
        "g", "id", n = 5, seed = 3)
      .select("id").as[Long].collect()
    assert(tiny.toSet == Set(1L, 2L))
  }

  test("exciseContaminatedSpans cuts exactly the overlapping k-spans") {
    // benchmark doc: "b1 b2 b3"; k=3 → its only shingle is b1␁b2␁b3.
    // doc 1 quotes it mid-text → exactly those 3 tokens removed;
    // doc 2 is clean → untouched; doc 3 IS the quote → emptied.
    val bench = docs((100L, "b1 b2 b3"))
    val corpus = docs(
      (1L, "x1 x2 b1 b2 b3 x3"),
      (2L, "y1 y2 y3 y4"),
      (3L, "b1 b2 b3"))
    val out = TextAnalysis.exciseContaminatedSpans(
        corpus, "id", "text", bench, "text", k = 3)
      .select("id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 6L, 3L, "x1 x2 x3")))
    assert(out(1) == ((2L, 4L, 0L, "y1 y2 y3 y4")))
    assert(out(2) == ((3L, 3L, 3L, "")))
  }

  test("unigramLogProbScore equals the hand-computed distribution") {
    val df = docs((1L, "a a b"), (2L, "a c"))
    // corpus: a=3, b=1, c=1, total=5
    val out = TextAnalysis.unigramLogProbScore(df, "id", "text")
      .select("id", "n_tokens", "mean_logprob")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val p = Map("a" -> 3.0 / 5, "b" -> 1.0 / 5, "c" -> 1.0 / 5)
    def mean(ts: Seq[String]) =
      BigDecimal(ts.map(t => math.log(p(t))).sum / ts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == ((1L, 3L, mean(Seq("a", "a", "b")))))
    assert(out(1) == ((2L, 2L, mean(Seq("a", "c")))))
  }

  test("cosine and dot are exact on known vectors") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.0f, 2.0f)), Row(3L, Seq(3.0f, 0.0f))),
      schema)
    val sims = Similarity.bruteForceTopK(df.filter(col("id") === 1), df, "id", "v", 2)
      .select("neighbor_id", "cosine_sim").as[(Long, Double)].collect().toMap
    assert(math.abs(sims(3L) - 1.0) < 1e-12)   // parallel vector
    assert(math.abs(sims(2L) - 0.0) < 1e-12)   // orthogonal
  }

  test("lsh topk recall against brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    // two tight clusters — LSH must recover within-cluster neighbors
    def near(center: Array[Double]) =
      center.map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq
    val c1 = Array.fill(dim)(1.0); val c2 = Array.fill(dim)(-1.0)
    val rows = (0L until 10L).map(i => Row(i, near(if (i < 5) c1 else c2)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val out = Similarity.lshTopK(df, df, "id", "v", k = 4, dim = dim,
      numPlanes = 8, bitsPerBand = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val byQ = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // query 0's cluster-mates are 1..4; hyperplane buckets keep the cluster together
    assert(byQ(0L) == Set(1L, 2L, 3L, 4L))
    assert(byQ(7L) == Set(5L, 6L, 8L, 9L))
  }

  test("langId picks the language with most marker hits") {
    val df = docs(
      (1L, "the cat is on a mat and the dog"),
      (2L, "der hund und die katze ist das tier"),
      (3L, "xyz abc qqq"))
    val out = df.select(col("id"), TextAnalysis.langId(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en"); assert(out(2L) == "de"); assert(out(3L) == "und")
  }

  test("token counts: whitespace and bpe-ish") {
    val df = docs((1L, "hello world, ok"))
    val (ws, bpe) = df.select(
      TextAnalysis.tokenCountWs(col("text")),
      TextAnalysis.tokenCountBpeIsh(col("text"))).as[(Long, Long)].head()
    assert(ws == 3L)
    // hello→2, world,→2 (6 chars /4), ok→1 pieces; 1 punct (,)
    assert(bpe == 2 + 2 + 1 + 1)
  }

  test("multimodal decode: real imageio dims for PNG, honest failure for text") {
    // real decode path: a synthetic PNG decodes to its exact dimensions
    val png = Multimodal.syntheticPng(37, 21)
    assert(Multimodal.decodeImage(png) == ((37, 21, true)))
    // non-image payloads keep byte metadata, ok=false
    val df = docs((1L, "abc"), (2L, ""))
    val items = Multimodal.asMediaItems(df, "id", "text")
    val feats = Multimodal.extractFeatures(items).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 3)
    assert(feats(1L).digest == "900150983cd24fb0d6963f7d28e17f72") // md5("abc")
    assert(feats(1L) == Multimodal.MediaFeatures(1L, 3L,
      "900150983cd24fb0d6963f7d28e17f72", 0, 0, false))
    assert(!feats(2L).ok)
    // the distributed batch path decodes PNG payloads end-to-end
    import spark.implicits._
    val pngFeats = Multimodal.extractFeatures(
      Seq(Multimodal.MediaItem(7L, Multimodal.syntheticPng(64, 8), "image/png"))
        .toDS().repartition(2)).collect()
    assert(pngFeats.head.width == 64 && pngFeats.head.height == 8
      && pngFeats.head.ok)
  }

  test("multimodal resize: aspect-preserving fit, pass-through for non-images") {
    val big = Multimodal.syntheticPng(64, 48)
    val resized = Multimodal.resizeImage(big, 32, 32)
    assert(Multimodal.decodeImage(resized) == ((32, 24, true)))
    // already fits / not an image → untouched payload
    val small = Multimodal.syntheticPng(10, 10)
    assert(Multimodal.resizeImage(small, 32, 32) eq small)
    val text = "not an image".getBytes("UTF-8")
    assert(Multimodal.resizeImage(text, 32, 32) eq text)
    // batch path over a distributed dataset
    import spark.implicits._
    val out = Multimodal.resizeAll(
      Seq(Multimodal.MediaItem(1L, big, "image/png")).toDS().repartition(2),
      16, 16).collect()
    assert(Multimodal.decodeImage(out.head.payload) == ((16, 12, true)))
  }

  test("audio decode: real WAV header round-trip, honest failure for non-audio") {
    val wav = Multimodal.syntheticWav(16000, 2, 1234)
    assert(Multimodal.decodeAudio(wav) == ((16000, 2, 16, 1234L, true)))
    assert(Multimodal.decodeAudio("not audio".getBytes("UTF-8")) ==
      ((0, 0, 0, 0L, false)))
    // batch path: duration = frames * 1000 / rate in integer math
    import spark.implicits._
    val feats = Multimodal.extractAudioFeatures(
      Seq(Multimodal.MediaItem(1L, wav, "audio/wav")).toDS().repartition(2))
      .collect().head
    assert(feats == Multimodal.AudioFeatures(1L, 16000, 2, 16, 1234L,
      1234L * 1000 / 16000, true))
  }

  test("video frame sampling: GVID demux, stride selection, per-frame dims") {
    val frames = (0 until 5).map(f => Multimodal.syntheticPng(10 + f, 7 + f))
    val vid = Multimodal.syntheticVideo(frames)
    // container parse recovers every frame byte-exactly
    val parsed = Multimodal.parseVideo(vid)
    assert(parsed.map(_._1) == (0L until 5L))
    assert(parsed.forall { case (i, b) => b.sameElements(frames(i.toInt)) })
    // non-GVID payloads demux to zero frames, not an error
    assert(Multimodal.parseVideo("plain text".getBytes("UTF-8")).isEmpty)
    // distributed stride-2 sampling keeps frames 0, 2, 4 with real dims
    import spark.implicits._
    val out = Multimodal.sampleFrames(
      Seq(Multimodal.MediaItem(3L, vid, "video/x-gvid")).toDS().repartition(2),
      stride = 2).collect().sortBy(_.frame_index)
    assert(out.map(_.frame_index).toSeq == Seq(0L, 2L, 4L))
    assert(out.map(f => (f.width, f.height)).toSeq ==
      Seq((10, 7), (12, 9), (14, 11)))
    assert(out.forall(_.ok))
  }

  test("video demux rejects corrupt headers as a bounds check, not an allocation") {
    def gvid(count: Int, body: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val o = new java.io.DataOutputStream(bos)
      o.writeBytes("GVID"); o.writeInt(count); o.write(body); o.flush()
      bos.toByteArray
    }
    // frame count claiming Int.MaxValue in a tiny payload
    val bigCount = gvid(Int.MaxValue, Array[Byte](0, 0, 0, 1, 42))
    val e1 = intercept[IllegalArgumentException](Multimodal.parseVideo(bigCount))
    assert(e1.getMessage.contains("corrupt GVID"))
    // one frame whose declared length (2^30) dwarfs the payload — must
    // fail the bounds check BEFORE new Array[Byte](2^30)
    val lenBytes = java.nio.ByteBuffer.allocate(4).putInt(1 << 30).array()
    val bigFrame = gvid(1, lenBytes ++ Array[Byte](1, 2, 3))
    val e2 = intercept[IllegalArgumentException](Multimodal.parseVideo(bigFrame))
    assert(e2.getMessage.contains("corrupt GVID"))
    // negative frame length
    val negFrame = gvid(1, java.nio.ByteBuffer.allocate(4).putInt(-5).array())
    intercept[IllegalArgumentException](Multimodal.parseVideo(negFrame))
    // a well-formed container still parses after the hardening
    val ok = Multimodal.syntheticVideo(Seq(Array[Byte](9, 8, 7)))
    assert(Multimodal.parseVideo(ok).head._2.toSeq == Seq[Byte](9, 8, 7))
  }

  test("int8 quantization: known codes, zero-vector guard, dequant error bound") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1L, Seq(1.0f, -0.5f, 0.25f)), Row(2L, Seq(0.0f, 0.0f, 0.0f))),
      schema)
    val out = df.select(col("id"), Similarity.quantizeInt8(col("v")).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    // scale = 127/1.0: codes = round(127*v)
    assert(out(1L) == Seq(127, -64, 32))
    assert(out(2L) == Seq(0, 0, 0))
    // codes stay in int8 range and dequantization error <= 0.5/scale
    val rnd = new scala.util.Random(5)
    val vec = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val df2 = spark.createDataFrame(
      java.util.List.of(Row(9L, vec)), schema)
    val codes = df2.select(Similarity.quantizeInt8(col("v")))
      .as[Seq[Int]].head()
    assert(codes.forall(c => c >= -127 && c <= 127))
    val scale = 127.0 / vec.map(x => math.abs(x.toDouble)).max
    vec.zip(codes).foreach { case (x, c) =>
      assert(math.abs(c / scale - x) <= 0.5 / scale + 1e-12)
    }
  }

  test("ivf topk: full probe equals brute force; partial probe stays list-local") {
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0L until 40L).map(i =>
      Row(i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val queries = df.filter(col("id") < 5)
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val brute = canon(Similarity.bruteForceTopK(queries, df, "id", "v", 3))
    // nprobe = nlist → exhaustive → EXACT brute-force equality
    val full = canon(Similarity.ivfTopK(queries, df, "id", "v",
      k = 3, nlist = 4, nprobe = 4))
    assert(full == brute)
    // partial probe: well-formed approximate output — ≤ k rows per
    // query, ranks contiguous from 1, sims exact for the pairs returned
    val part = Similarity.ivfTopK(queries, df, "id", "v",
        k = 3, nlist = 4, nprobe = 1)
      .select("query_id", "neighbor_id", "cosine_sim", "rank")
      .as[(Long, Long, Double, Int)].collect()
    val byQ = part.groupBy(_._1)
    assert(byQ.values.forall(g =>
      g.length <= 3 && g.map(_._4).sorted.toSeq == (1 to g.length)))
  }

  test("ivf explicit quantizer: full probe equals brute force, assignment partitions") {
    val rnd = new scala.util.Random(17)
    val dim = 16
    val rows = (0L until 40L).map(i =>
      Row(i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val queries = df.filter(col("id") < 5)
    val cents: Seq[Seq[Double]] = df.filter(col("id") % 10 === 1)
      .orderBy(col("id")).select(col("v")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toSeq).toSeq
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    // nprobe = |centroids| → exhaustive → brute-force equality (with
    // the same rounding discipline both sides)
    val full = canon(Similarity.ivfTopKExplicit(queries, df, "id", "v",
      k = 3, nprobe = cents.size, cents))
    assert(full == canon(Similarity.bruteForceTopK(queries, df, "id", "v", 3)))
    // partial probe: candidates only from probed lists, ranks contiguous
    val part = Similarity.ivfTopKExplicit(queries, df, "id", "v",
        k = 3, nprobe = 1, cents)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    val byQ = part.groupBy(_._1)
    assert(byQ.values.forall(g =>
      g.length <= 3 && g.map(_._3).sorted.toSeq == (1 to g.length)))
    intercept[IllegalArgumentException](Similarity.ivfTopKExplicit(
      queries, df, "id", "v", k = 3, nprobe = 9, cents))
  }

  test("ivf explicit quantizer above 64 centroids: HOF assignment, no Exchange, full probe equals brute force") {
    import org.apache.spark.sql.catalyst.expressions.ArrayTransform
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val rnd = new scala.util.Random(29)
    val dim = 8
    val rows = (0L until 60L).map(i =>
      Row(i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val queries = df.filter(col("id") < 5)
    val cents = Seq.fill(70)(Seq.fill(dim)(rnd.nextGaussian()))
    val out = Similarity.ivfTopKExplicit(queries, df, "id", "v",
      k = 3, nprobe = cents.size, cents)
    // the assignment nodes are the ones walking the centroid literal
    // with a higher-order transform; none may sit above an Exchange
    val plan = out.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val assign = plan.collect {
      case n if n.expressions.exists(
        _.find(_.isInstanceOf[ArrayTransform]).isDefined) => n
    }
    assert(assign.nonEmpty,
      s"70 explicit centroids must plan the HOF shape:\n$plan")
    assert(assign.forall(_.find(_.isInstanceOf[Exchange]).isEmpty),
      s"centroid assignment must be map-only:\n$plan")
    def canon(o: org.apache.spark.sql.DataFrame) =
      o.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(canon(out) ==
      canon(Similarity.bruteForceTopK(queries, df, "id", "v", 3)))
  }

  test("PII redaction scrubs emails, phones, IPs; clean text untouched") {
    import spark.implicits._
    val in = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call 555-0123-4567 or 555 123 4567 today"),
      (3L, "host 192.168.0.1 responded"),
      (4L, "no pii here, just words")).toDF("id", "t")
    val out = in.select(col("id"),
        TextAnalysis.redactPii(col("t")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "mail <EMAIL> now")
    assert(out(2L) == "call <PHONE> or <PHONE> today")
    assert(out(3L) == "host <IP> responded")
    assert(out(4L) == "no pii here, just words")
  }

  test("contamination screen: set-semijoin hits, integer threshold, empty shingles") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Seq("a", "b", "c", "d")),  // the benchmark doc: 100% self-hit
      (1L, Seq("a", "b", "x", "y")),  // 2/4 = 50%
      (2L, Seq("p", "q")),            // 0%
      (3L, Seq.empty[String])         // no shingles -> never contaminated
    ).toDF("doc_id", "sh")
    val bench = corpus.filter(col("doc_id") === 0L)
    val out = TextAnalysis.contaminationScreen(corpus, bench, "doc_id", "sh",
        thresholdPct = 50)
      .select("doc_id", "n_shingles", "n_hit", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((4L, 4L, true)))
    assert(out(1L) == ((4L, 2L, true)))   // exactly at the 50% threshold
    assert(out(2L) == ((2L, 0L, false)))
    assert(out(3L) == ((0L, 0L, false)))
  }

  test("stratified sampler keeps rate/buckets of each stratum, deterministically") {
    import spark.implicits._
    val df = (0L until 100L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val out = TextAnalysis.stratifiedSample(df, "lang", "id",
        rates = Map("en" -> 2), defaultKeep = 10)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // en ids are even: id%10 in {0,2,4,6,8}, keep <2 -> only id%10==0 -> 10
    assert(out("en") == 10L)
    assert(out("de") == 50L)   // defaultKeep 10 keeps everything
    intercept[IllegalArgumentException] {
      TextAnalysis.stratifiedSample(df, "lang", "id", Map("en" -> 11), 5)
    }
  }

  test("packSequences property: random corpora/shards/budgets equal the sequential reference") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    for (round <- 1 to 5) {
      val n = 1 + rng.nextInt(300)
      val ids = rng.shuffle((0L until 2000L).toList).take(n).sorted
      val toks = ids.map(i => i -> rng.nextInt(50).toLong) // zero-token docs allowed
      val shards = 1 + rng.nextInt(12)
      val budget = 1 + rng.nextInt(500)
      val got = TextAnalysis.packSequences(toks.toDF("id", "n"), "id",
          col("n"), budget, shards)
        .select("id", "n_tokens", "start_offset", "bin_id")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      var off = 0L
      val want = toks.map { case (i, t) =>
        val r = (i, t, off, off / budget); off += t; r
      }
      assert(got == want, s"round $round shards=$shards budget=$budget")
    }
  }

  test("redactPii is idempotent: placeholders never re-match") {
    import spark.implicits._
    val df = Seq("a@b.co x 555-123-4567 10.0.0.1",
      "<EMAIL> <PHONE> <IP>", "plain").toDF("t")
    val once = df.select(TextAnalysis.redactPii(col("t")).as("r"))
    val twice = once.select(TextAnalysis.redactPii(col("r")).as("r"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("repetition scores flag single-token-dominated docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam other"),       // top 4/5 = 80% -> flagged
      (2L, "a fine sentence with all distinct words")) // top 1/7
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionScores(df, "doc_id", "text", 20)
      .select("doc_id", "n_tokens", "top_token_count", "n_distinct_tokens",
        "repetitive")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 5L, 4L, 2L, true)))
    assert(out(2L) == ((2L, 7L, 1L, 7L, false)))
  }

  test("sequence packing: sharded prefix sum equals sequential packing, no global window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val toks = (0L until 200L).map(i => i -> (1L + rnd.nextInt(100)))
    val df = toks.toDF("id", "n")
    val packed = TextAnalysis.packSequences(df, "id", col("n"),
      budget = 256, shards = 7)
    // no single-partition exchange: the global cumsum must never fan
    // into one task
    val plan = packed.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global window leaked into the plan:\n$plan")
    val got = packed.select("id", "n_tokens", "start_offset", "bin_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // sequential reference
    var off = 0L
    val want = toks.map { case (i, n) =>
      val r = (i, n, off, off / 256); off += n; r
    }
    assert(got.toSeq == want)
    // ids with gaps and a non-zero minimum still pack correctly
    val sparseDf = Seq((100L, 10L), (205L, 20L), (999L, 5L)).toDF("id", "n")
    val sparse = TextAnalysis.packSequences(sparseDf, "id", col("n"),
        budget = 16, shards = 4)
      .select("id", "start_offset", "bin_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(sparse.toSeq == Seq((100L, 0L, 0L), (205L, 10L, 0L), (999L, 30L, 1L)))
  }

  test("k-means training refines centroids; trained full probe stays exact") {
    val rnd = new scala.util.Random(17)
    val dim = 8
    // two well-separated blobs → trained centroids should land near them
    val rows = (0L until 30L).map { i =>
      val base = if (i % 2 == 0) 5.0f else -5.0f
      Row(i, Seq.fill(dim)(base + rnd.nextGaussian().toFloat * 0.1f))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val trained = Similarity.trainCentroids(df, "id", "v", nlist = 2, iters = 3)
    assert(trained.size == 2 && trained.forall(_.size == dim))
    // the two centroids point in opposite directions (cosine < 0)
    val dot = trained(0).zip(trained(1)).map { case (a, b) => a * b }.sum
    assert(dot < 0, s"centroids should separate the blobs: $trained")
    // empty clusters (nlist > natural clusters) keep their previous
    // centroid and training still completes
    val sparse = Similarity.trainCentroids(df.filter(col("id") < 3), "id", "v",
      nlist = 3, iters = 2)
    assert(sparse.size == 3)
    // trained full probe ≡ brute force (exhaustive search is exact for
    // ANY quantizer)
    val queries = df.filter(col("id") < 4)
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val brute = canon(Similarity.bruteForceTopK(queries, df, "id", "v", 3))
    val trainedFull = canon(Similarity.ivfTopK(queries, df, "id", "v",
      k = 3, nlist = 4, nprobe = 4, trainIters = 2))
    assert(trainedFull == brute)
  }

  test("ivf centroid assignment is a pure projection — no Exchange, both shapes") {
    // the index build must read the corpus exactly once, map-only: any
    // Exchange here is the nlist× shuffle amplification the r5 plan had
    val df = spark.range(0, 100).select(col("id"),
      array(col("id").cast("float"), lit(2.0f)).as("v"))
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val assigned = Similarity.nearestCentroids(df, "v", cents, topN = 1)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"centroid assignment must be map-only:\n$plan")
    // top-1 of 2 centroids over 100 rows: one assignment per row
    assert(assigned.count() == 100)
    assert(assigned.select("centroid_id").distinct().count() == 2)
    // the >64-centroid HOF shape: same math (a permuted copy of the
    // same 2 centroids padded with far-away ones), still no Exchange
    val far = (0 until 70).map(i => Seq(-1000.0 - i, -1000.0))
    val big = cents ++ far
    val assignedBig = Similarity.nearestCentroids(df, "v", big, topN = 1)
    val planBig = assignedBig.queryExecution.executedPlan.toString
    assert(!planBig.contains("Exchange"),
      s"HOF-shape assignment must be map-only:\n$planBig")
    val small = assigned.select("id", "centroid_id", "assign_sim")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val bigOut = assignedBig.select("id", "centroid_id", "assign_sim")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bigOut == small, "both expression shapes must assign identically")
    // assign_sim is the cosine to the assigned centroid: v = (id, 2)
    // against the unit axes gives max(id, 2) / |v|
    small.foreach { case (id, (_, sim)) =>
      val want = math.max(id.toDouble, 2.0) / math.sqrt(id * id + 4.0)
      assert(math.abs(sim - want) < 1e-9, s"row $id: $sim vs $want")
    }
  }

  test("spanDupStats counts shared k-token spans, flags mostly-duplicated docs") {
    // doc 2 copies doc 1's first 6 tokens; with k=3 that's 4 shared
    // spans; doc 3 is disjoint
    val df = docs(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "q r s t u v"))
    val out = Dedup.spanDupStats(df, "id", "text", k = 3, minDocs = 2,
        flagPct = 50)
      .select("id", "n_spans", "n_dup_spans", "span_dup_flagged")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 4L, 4L, true)))   // all of doc 1 is duplicated
    assert(out(1) == ((2L, 10L, 4L, false))) // 4 of 10 spans — under 50%
    assert(out(2) == ((3L, 4L, 0L, false)))
  }

  test("spanDupStats covers short docs via the truncated shingle") {
    // a doc shorter than k yields exactly one whole-doc shingle, so
    // every doc appears in the output and identical shorts pair up
    val df = docs((1L, "tiny doc"), (2L, "tiny doc"), (3L, "other one"))
    val out = Dedup.spanDupStats(df, "id", "text", k = 8)
      .select("id", "n_spans", "n_dup_spans")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 0L)))
  }

  test("semanticDedup clusters near-identical vectors, keeps the smallest id") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def vrow(id: Long, xs: Float*) = Row(id, xs)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      vrow(1L, 1.0f, 0.0f, 0.0f, 0.0f),
      vrow(2L, 0.9999f, 0.001f, 0.0f, 0.0f), // twin of 1
      vrow(3L, 0.0f, 1.0f, 0.0f, 0.0f),      // orthogonal singleton
      vrow(4L, 0.9998f, 0.002f, 0.0f, 0.0f)  // twin of 1 and 2
    ), schema)
    val out = Similarity.semanticDedup(df, "id", "v", threshold = 0.99)
      .select("id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 1L, false)))
  }

  test("cosineNearDupPairsApprox emits a verified subset with full recall on twins") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def vrow(id: Long, xs: Float*) = Row(id, xs)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      vrow(1L, 1.0f, 0.0f, 0.0f, 0.0f),
      vrow(2L, 0.9999f, 0.001f, 0.0f, 0.0f), // twin of 1
      vrow(3L, 0.0f, 1.0f, 0.0f, 0.0f),      // orthogonal singleton
      vrow(4L, 0.9998f, 0.002f, 0.0f, 0.0f)  // twin of 1 and 2
    ), schema)
    val exact = Similarity.cosineNearDupPairs(df, "id", "v", threshold = 0.99)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val approx = Similarity.cosineNearDupPairsApprox(df, "id", "v",
        threshold = 0.99)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    // precision 1 by construction (exact-cosine verify at the same
    // threshold): approx ⊆ exact; on near-identical twins the band
    // collision probability is ~1 — full recall here
    assert(approx.subsetOf(exact))
    assert(approx == exact)
    assert(exact == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("approx pair generators plan broadcast verify joins, never a cartesian") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def vrow(id: Long, xs: Float*) = Row(id, xs)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      (1L to 20L).map(i => vrow(i, i.toFloat, 1.0f, 0.5f, 0.25f)): _*
    ), schema)
    val (pairs, release) = Similarity.cosineNearDupPairsApproxStaged(
      df, "id", "v", threshold = 0.9)
    try {
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "verify joins must broadcast the (small) vector side")
      assert(!plan.contains("CartesianProduct"),
        "LSH candidates must come from bucket joins, not a product")
    } finally release()
    val screen = Similarity.nearDupAgainstCorpusApprox(
      df.filter(col("id") <= 5), df, "id", "v", threshold = 0.9)
    val plan2 = screen.queryExecution.executedPlan.toString
    assert(plan2.contains("BroadcastHashJoin") &&
      !plan2.contains("CartesianProduct"))
  }

  test("prepared arrival screen is bit-identical to the one-shot form") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat)
    val corpus = spark.createDataFrame(java.util.Arrays.asList(
      (1L to 12L).map(i => Row(i, vec(i.toInt))): _*), schema)
    val batch = spark.createDataFrame(java.util.Arrays.asList(
      Row(101L, vec(1)), Row(107L, vec(7)),
      Row(999L, Seq(5f, -3f, 0f, 2f, -5f, 1f, 4f, -2f))), schema)
    val oneShot = Similarity.nearDupAgainstCorpusApprox(
        batch, corpus, "id", "v", threshold = 0.999)
      .as[(Long, Long, Double)].collect().toSet
    val prep = Similarity.prepareArrivalCorpus(corpus, "id", "v")
    try {
      // two screens against one preparation — the streaming shape
      val got = Similarity.nearDupAgainstPreparedCorpus(
          batch, prep, "id", "v", threshold = 0.999)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == oneShot)
      assert(got.map(p => (p._1, p._2)) == Set((101L, 1L), (107L, 7L)))
      val again = Similarity.nearDupAgainstPreparedCorpus(
          batch.filter(col("id") === 101L), prep, "id", "v", 0.999)
        .as[(Long, Long, Double)].collect().toSet
      assert(again == oneShot.filter(_._1 == 101L))
      // empty corpus prepared → cold-start contract, not a crash
      val emptyPrep = Similarity.prepareArrivalCorpus(
        spark.createDataFrame(
          new java.util.ArrayList[Row](), schema), "id", "v")
      try assert(Similarity.nearDupAgainstPreparedCorpus(
        batch, emptyPrep, "id", "v", 0.999).count() == 0)
      finally emptyPrep.release()
    } finally prep.release()
  }

  test("nearDupAgainstCorpusApprox: empty corpus means no near-dups, not a crash") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def frame(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val batch = frame(Row(1L, Seq(1.0f, 0.0f, 0.5f, 0.25f)))
    val empty = frame()
    // cold start: nothing ingested yet → every arrival is new content
    assert(Similarity.nearDupAgainstCorpusApprox(
      batch, empty, "id", "v", threshold = 0.9).count() == 0)
    // and an empty micro-batch against a corpus is just no work
    assert(Similarity.nearDupAgainstCorpusApprox(
      empty, batch, "id", "v", threshold = 0.9).count() == 0)
    // ragged dims are refused loudly on either side
    intercept[IllegalArgumentException] {
      Similarity.nearDupAgainstCorpusApprox(
        frame(Row(2L, Seq(1.0f, 2.0f))), batch, "id", "v", 0.9).count()
    }
  }

  test("cleanLines with an empty blacklist keeps the structural rules") {
    val df = docs((1L, "Good line stays here.\nno punct line"))
    val kept = df.select(
        TextAnalysis.cleanLines(col("text"), blacklist = Seq.empty).as("k"))
      .as[Seq[String]].head()
    assert(kept == Seq("Good line stays here."))
  }

  test("semanticDedupApprox matches the exact clustering on twins and leaves no cache") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(FloatType, containsNull = false))))
    def vrow(id: Long, xs: Float*) = Row(id, xs)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      vrow(1L, 1.0f, 0.0f, 0.0f, 0.0f),
      vrow(2L, 0.9999f, 0.001f, 0.0f, 0.0f),
      vrow(3L, 0.0f, 1.0f, 0.0f, 0.0f),
      vrow(4L, 0.9998f, 0.002f, 0.0f, 0.0f)
    ), schema)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = Similarity.semanticDedupApprox(df, "id", "v", threshold = 0.99)
      .select("id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 1L, false)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "semanticDedupApprox must release everything it cached")
  }

  test("tokenEntropy: uniform docs score ratio 1, repetitive docs near 0") {
    val df = docs(
      (1L, "a b c d"),        // uniform over 4 → H = ln 4, ratio 1
      (2L, "a a a a a a a b"), // concentrated → low ratio
      (3L, "x x x"))           // single distinct → H 0, ratio pinned 1
    val out = TextAnalysis.tokenEntropy(df, "id", "text")
      .select("id", "n_tokens", "n_distinct", "entropy", "entropy_ratio")
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out(0)._2 == 4 && out(0)._3 == 4)
    assert(out(0)._4 == BigDecimal(math.log(4))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0)._5 == 1.0)
    assert(out(1)._5 < 0.6 && out(1)._5 > 0.0)
    assert(out(2) == ((3L, 3L, 1L, 0.0, 1.0)))
  }

  test("bigramLogProbScore interpolates exact corpus counts") {
    // corpus: "a b", "a b", "a c" → N=6; C(a)=3, C(b)=2, C(c)=1;
    // C(a,b)=2, C(a,c)=1
    val df = docs((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "solo"))
    val out = TextAnalysis.bigramLogProbScore(df, "id", "text")
      .select("id", "n_bigrams", "mean_logprob")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // N includes 'solo': 7 tokens total
    def p(cb: Long, c1: Long, c2: Long) =
      0.5 * cb / c1 + 0.5 * c2 / 7.0
    val expAB = BigDecimal(math.log(p(2, 3, 2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expAC = BigDecimal(math.log(p(1, 3, 1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // 'solo' has no bigrams
    assert(out(0) == ((1L, 1L, expAB)) && out(1) == ((2L, 1L, expAB)))
    assert(out(2) == ((3L, 1L, expAC)))
  }

  test("cleanLines applies each C4 rule independently") {
    val df = docs((1L,
      "Good line stays here.\n" +        // kept
      "Accept cookie policy now.\n" +    // blacklist
      "short.\n" +                       // < 3 tokens
      "no terminal punctuation here\n" + // no punct
      "   \n" +                          // blank
      "Ends with a question mark?"))     // kept
    val kept = df.select(TextAnalysis.cleanLines(col("text")).as("k"))
      .as[Seq[String]].head()
    assert(kept == Seq("Good line stays here.", "Ends with a question mark?"))
  }

  test("temperatureQuota keeps exactly round(sqrt(nmin*n)) per group") {
    val rows = (1L to 100L).map(i => (i, if (i <= 4) "small" else "big"))
    val df = rows.toDF("id", "grp")
    val out = TextAnalysis.temperatureQuota(df, "grp", "id", seed = 1)
      .select("grp", "mix_quota").as[(String, Long)].collect()
    val byGrp = out.groupBy(_._1).map { case (g, xs) => g -> xs.length }
    // nmin = 4: small keeps round(sqrt(4*4)) = 4, big round(sqrt(4*96)) = 20
    assert(byGrp == Map("small" -> 4, "big" -> 20))
    assert(out.filter(_._1 == "big").forall(_._2 == 20L))
  }

  test("tfIdfTopTerms ranks a doc's distinctive term above ubiquitous ones") {
    val df = docs(
      (1L, "common common rare rare rare"),
      (2L, "common common common other"),
      (3L, "common other other"))
    val top = TextAnalysis.tfIdfTopTerms(df, "id", "text", k = 1)
      .select("id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) == "rare")       // only doc with 'rare', tf=3
    assert(top(2L) != "common")     // common is in every doc → idf 0
  }

  test("vocabOovRate flags docs outside the top-k vocabulary") {
    val df = docs(
      (1L, "a a a b b c"),  // a,b in top-2 vocab; 1 of 6 oov
      (2L, "x y z q r s"))  // all oov
    val out = TextAnalysis.vocabOovRate(df, "id", "text", vocabSize = 2,
        flagPct = 50)
      .select("id", "n_tokens", "n_oov", "oov_flagged")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 6L, 1L, false)))
    assert(out(1) == ((2L, 6L, 6L, true)))
  }

  test("repeatedNgramCounts measures intra-doc span repeats exactly") {
    val df = docs(
      (1L, "a b a b a b a b"), // 6 trigram occurrences, 2 distinct
      (2L, "a b c d e f"))     // 4 occurrences, all distinct
    val (occ, rep) = TextAnalysis.repeatedNgramCounts(col("text"), 3)
    val out = df.select(col("id"), occ.as("o"), rep.as("r"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 6L, 4L), (2L, 4L, 0L)))
  }

  test("newAgainstCorpus drops batch rows whose normalized content exists") {
    val corpus = docs((1L, "the quick fox"), (2L, "other text"))
    val batch = docs((10L, "  the QUICK   fox "), // normalizes to corpus 1
      (11L, "genuinely new content"))
    val out = Dedup.newAgainstCorpus(batch, corpus, "text")
      .select("id").as[Long].collect().toSeq
    assert(out == Seq(11L))
  }

  test("bloom-prefiltered contamination screen equals the exact screen") {
    val base = (1 to 30).map(i => s"t$i").mkString(" ")
    val df = docs(
      (1L, base),                                   // the benchmark doc
      (2L, base + " extra tail tokens here"),       // heavily leaked
      (3L, (100 to 130).map(i => s"u$i").mkString(" ")), // clean
      (4L, (1 to 5).map(i => s"t$i").mkString(" ") + " v1 v2 v3 v4 v5 v6 v7 v8 v9"))
      .select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
    val bench = df.filter(col("id") === 1L)
    val exact = TextAnalysis.contaminationScreen(df, bench, "id", "sh",
        thresholdPct = 50)
      .filter(col("contaminated"))
      .select("id", "n_shingles", "n_hit")
      .as[(Long, Long, Long)].collect().toSet
    val bloom = TextAnalysis.contaminationScreenBloom(df, bench, "id", "sh",
        thresholdPct = 50)
      .select("id", "n_shingles", "n_hit")
      .as[(Long, Long, Long)].collect().toSet
    assert(bloom == exact)
    assert(exact.map(_._1) == Set(1L, 2L)) // the screen itself works
  }

  test("containmentPairs is directional and catches what symmetric Jaccard misses") {
    val big = (1 to 20).map(i => s"w$i").mkString(" ")
    val df = docs(
      (1L, "w1 w2 w3"),          // fully contained in 2
      (2L, big),
      (3L, "w1 w2 zz"))          // 2/3 contained — under 0.95
      .select(col("id"), array_distinct(split(col("text"), " ")).as("ws"))
    val pairs = Dedup.containmentPairs(df, df, "id", "ws", threshold = 0.95)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // NOT (2,1): direction matters
    // symmetric Jaccard at the same strictness finds nothing: 3/20
    val jac = Dedup.jaccardNearDupPairs(
        df.withColumn("b", lit("x")), "id", "ws", 0.95, Some("b"))
      .count()
    assert(jac == 0)
  }

  test("chunkDocuments tiles with overlap, covers every token, last chunk short") {
    val df = docs((1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b c"))
    val out = TextAnalysis.chunkDocuments(df, "id", "text",
        chunkSize = 4, stride = 2)
      .select("id", "chunk_index", "chunk_start", "n_chunk_tokens",
        "chunk_text")
      .as[(Long, Int, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2))
    val doc1 = out.filter(_._1 == 1L)
    assert(doc1.map(_._3).toSeq == Seq(0L, 2L, 4L, 6L)) // starts
    assert(doc1.map(_._4).toSeq == Seq(4L, 4L, 4L, 4L))
    assert(doc1.head._5 == "w1 w2 w3 w4")
    assert(doc1.last._5 == "w7 w8 w9 w10") // tail fully covered
    val doc2 = out.filter(_._1 == 2L)
    assert(doc2.toSeq == Seq((2L, 0, 0L, 3L, "a b c"))) // short doc: 1 chunk
  }

  test("cmsTermCounts certifies the count-min bound on a known corpus") {
    val df = docs((1L, "a a a b b c"), (2L, "a b c d"))
    val frame = TextAnalysis.cmsTermCounts(df, "text",
        eps = 0.01, confidence = 0.99, seed = 7)
    val out = frame.select("term", "n_exact", "viol_ok")
      .as[(String, Long, Boolean)].collect().sortBy(_._1)
    // exact counts reproduced, and the violation audit within bound
    assert(out.map(r => r._1 -> r._2).toSeq ==
      Seq("a" -> 4L, "b" -> 3L, "c" -> 2L, "d" -> 1L))
    assert(out.forall(_._3), s"cms violation bound broken: ${out.mkString(",")}")
    // scale contract: the vocabulary readout is distributed — the
    // term aggregate and the native cms_estimate probe run IN the
    // plan (the old shape collected the vocabulary and returned a
    // bare LocalTableScan with no aggregate at all).
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("cms_estimate"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("cms_estimate rejects a NULL sketch literal at analysis, not codegen") {
    // a null foldable sketch used to pass type checking and NPE inside
    // the lazy deserialization with an opaque codegen stack
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      docs((1L, "a b")).select(call_function("cms_estimate",
        lit(null).cast("binary"), col("text"))).collect()
    }
    assert(err.getMessage.contains("must not be null"), err.getMessage)
  }

  test("capPerGroupBudget keeps rows while prior cumulative mass is under budget") {
    val df = Seq(
      ("s1", 1L, 900L), ("s1", 2L, 900L), ("s1", 3L, 900L),
      ("s2", 4L, 5000L), ("s2", 5L, 10L)
    ).toDF("src", "id", "tok")
    val out = TextAnalysis.capPerGroupBudget(df, "src", "id", col("tok"),
        budget = 2000L)
      .select("id", "cum_tokens").as[(Long, Long)].collect().sortBy(_._1)
    // s1: 900, 1800 kept; 2700 starts at 1800 < 2000 → kept too;
    // s2: the over-long first doc is kept (starts at 0), the next is not
    assert(out.toSeq == Seq((1L, 900L), (2L, 1800L), (3L, 2700L),
      (4L, 5000L)))
  }

  test("bm25TopN: idf favors rare terms, tf saturates, dl normalizes") {
    val corpus = docs(
      (1L, "rare common common common"), // rare term, short doc
      (2L, "common common common common common common common common"),
      (3L, "common rare rare filler filler filler filler filler"),
      (4L, "filler filler filler filler"))
    val out = TextAnalysis.bm25TopN(corpus, "id", "text",
      queryTerms = Seq("rare", "common"), topN = 4)
      .as[(Long, Double)].collect().toMap
    // docs containing the rare term dominate the common-only doc
    assert(out(1L) > out(2L) && out(3L) > out(2L))
    // the no-match doc scores exactly 0 and ranks last
    assert(out(4L) == 0.0)
    // tf saturation: doc 3 has rare twice but is longer; both rare docs
    // must outrank everything else regardless
    val ranked = out.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(ranked.take(2).toSet == Set(1L, 3L), s"got $ranked")
  }

  test("dsirSelect ranks target-like documents above off-domain ones") {
    // target speaks only {alpha beta gamma}; corpus mixes those tokens
    // with {zzz yyy xxx} noise docs — the likelihood-ratio ranking must
    // put every target-vocabulary doc above every noise doc
    val target = docs(
      (100L, "alpha beta gamma alpha"), (101L, "beta gamma alpha beta"))
    val corpus = docs(
      (1L, "alpha beta gamma"), (2L, "gamma alpha beta alpha"),
      (3L, "zzz yyy xxx zzz"), (4L, "yyy xxx zzz"),
      (5L, "alpha zzz")) // mixed: must land between
    val out = TextAnalysis.dsirSelect(corpus, "id", "text", target, "text",
      k = 5, buckets = 64, alpha = 0.1, seed = 7)
      .select("id", "dsir_logweight").as[(Long, Double)].collect()
    val rank = out.sortBy(-_._2).map(_._1).toSeq
    assert(Set(rank(0), rank(1)) == Set(1L, 2L), s"got $rank")
    assert(rank(2) == 5L, s"mixed doc must rank third: $rank")
    assert(out.forall { case (id, w) =>
      if (id <= 2) w > 0 else if (id >= 3 && id != 5) w < 0 else true })
  }

  test("dsirScore is a pure projection and dsirLogRatios sums to a proper table") {
    val target = docs((100L, "alpha beta"))
    val corpus = docs((1L, "alpha zzz"), (2L, "beta yyy"))
    val ratios = TextAnalysis.dsirLogRatios(corpus, "text", target, "text",
      buckets = 32, alpha = 1.0, seed = 3)
    assert(ratios.size == 32 && ratios.forall(r => !r.isNaN && !r.isInfinite))
    val scored = TextAnalysis.dsirScore(corpus, "id", "text", ratios,
      buckets = 32, seed = 3)
    // scoring must not exchange: the ratio table is a literal, the
    // fold is per-row — the 100 TB contract (and streaming parity)
    assert(!scored.queryExecution.executedPlan.toString.contains("Exchange"),
      "dsirScore must stay a pure projection")
    val byId = scored.select("id", "n_tokens", "dsir_logweight")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 2L && byId(2L)._2 == 2L)
    // zero-token doc scores 0 with 0 tokens
    val z = TextAnalysis.dsirScore(docs((9L, "   ")), "id", "text", ratios,
      buckets = 32, seed = 3).as[(Long, Long, Double)].collect().head
    assert(z == ((9L, 0L, 0.0)))
  }

  test("nbQuality classifier separates classes and calibrates the prior") {
    val pos = docs(
      (1L, "alpha beta gamma alpha beta"), (2L, "beta gamma alpha"),
      (3L, "gamma alpha beta gamma"))
    val neg = docs(
      (11L, "zzz yyy xxx zzz"), (12L, "yyy xxx zzz yyy xxx"),
      (13L, "xxx zzz yyy"))
    val m = TextAnalysis.nbTrainQuality(pos, neg, "text",
      buckets = 64, alpha = 0.5, seed = 7)
    // prior: equal doc counts -> ln(1) = 0
    assert(m.logPrior == 0.0 && m.logRatios.size == 64)
    val scored = TextAnalysis.nbQualityScore(
      pos.unionByName(neg), "id", "text", m)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    // every positive-vocabulary doc must score above every negative one
    assert((1L to 3L).forall(i => scored(i)._4 > 0.5) &&
      (11L to 13L).forall(i => scored(i)._4 < 0.5), scored)
    // a zero-token doc scores exactly the prior (p = 0.5 here)
    val z = TextAnalysis.nbQualityScore(docs((9L, " ")), "id", "text", m)
      .as[(Long, Long, Double, Double)].collect().head
    assert(z == ((9L, 0L, 0.0, 0.5)))
  }

  test("nbQualityFilterPareto applies the inverted GPT-3 keep rule exactly") {
    val pos = docs((1L, "alpha beta alpha"), (2L, "beta alpha beta"))
    val neg = docs((11L, "zzz yyy zzz"), (12L, "yyy zzz yyy"))
    val all = docs((21L, "alpha beta"), (22L, "zzz yyy"),
      (23L, "alpha zzz"), (24L, "beta yyy zzz"), (25L, "alpha beta beta"))
    val m = TextAnalysis.nbTrainQuality(pos, neg, "text",
      buckets = 64, alpha = 1.0, seed = 7)
    val scored = TextAnalysis.nbQualityScore(all, "id", "text", m)
      .as[(Long, Long, Double, Double)].collect()
    // replicate the keep rule by hand: u from the same md5 probes
    def lowByte(s: String): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.substring(30, 32), 16)
    }
    val expectKept = scored.filter { case (id, _, _, p) =>
      val u = (lowByte(s"nbp1:7:$id") * 256 + lowByte(s"nbp2:7:$id") + 0.5) /
        65536.0
      u > 1.0 - math.pow(2.0 - p, -9.0)
    }.map(_._1).toSet
    val kept = TextAnalysis.nbQualityFilterPareto(all, "id", "text", m,
      paretoAlpha = 9.0, seed = 7).select("id").as[Long].collect().toSet
    assert(kept == expectKept, s"kept $kept vs expected $expectKept")
    // the rule keeps high-probability docs at near-1 rate: a p≈1 doc
    // survives unless u is in the tiny (2-p)^-9 tail
    assert(scored.nonEmpty)
  }
}
