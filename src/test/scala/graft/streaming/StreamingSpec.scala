package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Batch/stream parity: each Streams operator, run as a Structured
  * Streaming query over incrementally-arriving parquet files (public
  * file source — no test-only internals), must converge to the same
  * result as its batch run over the same rows. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def ts(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private val batch1 = Seq(
    Row(1L, ts(0), 7L, "click", 1.10),
    Row(2L, ts(5), 7L, "view", 2.25),
    Row(3L, ts(7), 8L, "click", 0.40))
  private val batch2 = Seq(
    Row(4L, ts(50), 7L, "click", 3.00), // > 30 min after event 2 → new session
    Row(5L, ts(55), 8L, "view", 1.75),
    Row(2L, ts(5), 7L, "view", 2.25))   // duplicate event_id for dedup

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def runStreaming(name: String, op: DataFrame => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_stream_$name")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frame(batch1).write.mode(SaveMode.Append).parquet(src)
    val stream = spark.readStream.schema(schema).parquet(src)
    val sink = s"stream_sink_$name"
    val q = op(stream).writeStream.format("memory").queryName(sink)
      .outputMode(Streams.outputModes(name)).start()
    try {
      q.processAllAvailable()
      frame(batch2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(sink)
  }

  test("tumblingAgg: streaming result equals batch result") {
    val streamed = runStreaming("tumblingAgg", df => Streams.tumblingAgg(df))
      .select("ws", "event_type", "n", "value_cents")
      .collect().toSet
    val batch = Streams.tumblingAgg(frame(batch1 ++ batch2))
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("slidingAgg: streaming result equals batch result") {
    val streamed = runStreaming("slidingAgg", df => Streams.slidingAgg(df))
      .select("ws", "event_type", "n", "value_cents")
      .collect().toSet
    val batch = Streams.slidingAgg(frame(batch1 ++ batch2))
      .collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    // each event lands in exactly duration/slide = 2 windows
    val n = frame(batch1 ++ batch2).count()
    assert(batch.toSeq.map(_.getLong(2)).sum == 2 * n)
  }

  test("sessionAgg: streaming sessions equal batch sessions") {
    val streamed = runStreaming("sessionAgg", df => Streams.sessionAgg(df))
      .select("user_id", "session_start", "n_events")
      .collect().toSet
    val batch = Streams.sessionAgg(frame(batch1 ++ batch2)).collect().toSet
    // user 7: sessions {10:00,10:05} and {10:50}; user 8: {10:07} {10:55}
    assert(streamed == batch && batch.size == 4)
  }

  test("dedup: duplicate event_id across micro-batches emitted once") {
    val streamed = runStreaming("dedup",
      df => Streams.dedup(df, "ts", "2 hours", Seq("event_id")))
    assert(streamed.count() == 5)
    assert(streamed.filter(col("event_id") === 2L).count() == 1)
  }

  test("intervalJoin: stream-stream attribution join equals batch, across micro-batches") {
    val clickSchema = StructType(Seq(StructField("click_id", LongType),
      StructField("cts", TimestampType), StructField("cuser", LongType)))
    val viewSchema = StructType(Seq(StructField("view_id", LongType),
      StructField("vts", TimestampType), StructField("vuser", LongType)))
    val clicksA = Seq(Row(101L, ts(10), 1L), Row(102L, ts(40), 2L))
    val viewsA = Seq(Row(201L, ts(0), 1L))
    val clicksB = Seq(Row(103L, ts(59), 1L))
    // view 203 arrives AFTER click 102 already streamed — the join
    // state must still match them (cross-micro-batch)
    val viewsB = Seq(Row(202L, ts(55), 1L), Row(203L, ts(20), 2L))
    def mk(sch: StructType, rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)

    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ij")
    dir.toFile.deleteOnExit()
    val (cDir, vDir) = (dir.toString + "/clicks", dir.toString + "/views")
    mk(clickSchema, clicksA).write.mode(SaveMode.Append).parquet(cDir)
    mk(viewSchema, viewsA).write.mode(SaveMode.Append).parquet(vDir)
    val joined = Streams.intervalJoin(
      spark.readStream.schema(clickSchema).parquet(cDir),
      spark.readStream.schema(viewSchema).parquet(vDir),
      keyPairs = Seq("cuser" -> "vuser"), leftTs = "cts", rightTs = "vts",
      watermark = "2 hours", window = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("stream_sink_ij")
      .outputMode(Streams.outputModes("intervalJoin")).start()
    try {
      q.processAllAvailable()
      mk(clickSchema, clicksB).write.mode(SaveMode.Append).parquet(cDir)
      mk(viewSchema, viewsB).write.mode(SaveMode.Append).parquet(vDir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_sink_ij")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    val batch = Streams.intervalJoin(
        mk(clickSchema, clicksA ++ clicksB), mk(viewSchema, viewsA ++ viewsB),
        Seq("cuser" -> "vuser"), "cts", "vts", "2 hours", "30 minutes")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    // 101←201 (10:00 in [9:40,10:10]), 102←203 (late-arriving view),
    // 103←202 (10:55 in [10:29,10:59])
    assert(batch == Set((101L, 201L), (102L, 203L), (103L, 202L)))
    assert(streamed == batch)
  }

  test("intervalJoin: overlapping schemas auto-prefixed, batch/stream parity") {
    // both sides share EVERY column name — the operator renames the
    // right side to right_<name> instead of erroring
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType)))
    def mk(rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
    val clicksA = Seq(Row(101L, ts(10), 1L))
    val viewsA = Seq(Row(201L, ts(0), 1L))
    val clicksB = Seq(Row(102L, ts(59), 1L))
    val viewsB = Seq(Row(202L, ts(55), 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ijo")
    dir.toFile.deleteOnExit()
    val (cDir, vDir) = (dir.toString + "/clicks", dir.toString + "/views")
    mk(clicksA).write.mode(SaveMode.Append).parquet(cDir)
    mk(viewsA).write.mode(SaveMode.Append).parquet(vDir)
    val joined = Streams.intervalJoin(
      spark.readStream.schema(sch).parquet(cDir),
      spark.readStream.schema(sch).parquet(vDir),
      keyPairs = Seq("user_id" -> "user_id"), leftTs = "ts", rightTs = "ts",
      watermark = "2 hours", window = "30 minutes")
    assert(joined.columns.toSeq == Seq("event_id", "ts", "user_id",
      "right_event_id", "right_ts", "right_user_id"))
    val q = joined.writeStream.format("memory").queryName("stream_sink_ijo")
      .outputMode(Streams.outputModes("intervalJoin")).start()
    try {
      q.processAllAvailable()
      mk(clicksB).write.mode(SaveMode.Append).parquet(cDir)
      mk(viewsB).write.mode(SaveMode.Append).parquet(vDir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_sink_ijo")
      .select("event_id", "right_event_id").as[(Long, Long)].collect().toSet
    val batch = Streams.intervalJoin(
        mk(clicksA ++ clicksB), mk(viewsA ++ viewsB),
        Seq("user_id" -> "user_id"), "ts", "ts", "2 hours", "30 minutes")
      .select("event_id", "right_event_id").as[(Long, Long)].collect().toSet
    assert(batch == Set((101L, 201L), (102L, 202L)))
    assert(streamed == batch)
  }

  test("cdcApply: upserts converge to latest-per-key under any batch split, late changes can't regress") {
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("cts", TimestampType)))
    def mk(rows: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
    val initial = Seq(Row(1L, "a0", ts(0)), Row(2L, "b0", ts(0)))
    val batchA = Seq(Row(1L, "a1", ts(10)), Row(3L, "c1", ts(5)))
    // k=1 change in batch B is OLDER than batch A's — must NOT regress
    val batchB = Seq(Row(2L, "b1", ts(20)), Row(1L, "stale", ts(5)))

    def run(splits: Seq[Seq[Row]]): Map[Long, (String, Timestamp)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_cdc")
      dir.toFile.deleteOnExit()
      val src = dir.toString + "/in"
      // the store: an in-memory var, checkpointed per write (any real
      // store — Delta MERGE, JDBC staging swap — slots in here)
      var target = mk(initial)
      mk(splits.head).write.mode(SaveMode.Append).parquet(src)
      val q = Streams.cdcApply(
        spark.readStream.schema(sch).parquet(src),
        keys = Seq("k"), tsCol = "cts",
        readTarget = () => target,
        writeTarget = df => target = df.localCheckpoint(true))
      try {
        q.processAllAvailable()
        splits.tail.foreach { rows =>
          mk(rows).write.mode(SaveMode.Append).parquet(src)
          q.processAllAvailable()
        }
      } finally q.stop()
      target.collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getTimestamp(2)))).toMap
    }

    val twoBatches = run(Seq(batchA, batchB))
    val oneBatch = run(Seq(batchA ++ batchB))
    val want = Map(
      1L -> (("a1", ts(10))),   // stale late change lost
      2L -> (("b1", ts(20))),
      3L -> (("c1", ts(5))))
    assert(twoBatches == want)
    assert(oneBatch == want)   // split-invariant
  }

  test("curationIngest: streaming curation equals batch — gate, scrub, first-arrival dedup") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("ts", TimestampType),
      StructField("text", StringType)))
    val good = "the quick brown fox jumps over the lazy dog and it " +
      "is a fine day for all of us here"
    val db1 = Seq(
      Row(1L, ts(0), good + " one"),
      Row(2L, ts(2), "short junk"), // fails the quality gate
      Row(3L, ts(4), good + " mail me at someone@example.com"))
    val db2 = Seq(
      Row(4L, ts(10), "  " + good + " one "), // same fingerprint as doc 1
      Row(5L, ts(12), good + " two"))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_cur")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val stream = spark.readStream.schema(docSchema).parquet(src)
    val q = Streams.curationIngest(stream, "ts", "30 minutes", "doc_id", "text")
      .writeStream.format("memory").queryName("stream_sink_curation")
      .outputMode(Streams.outputModes("curationIngest")).start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_sink_curation")
    // first-arrival dedup: doc 4 (dup of 1) never emitted; gate kills 2
    assert(streamed.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 3L, 5L))
    // PII scrubbed in-flight
    val redacted = streamed.filter(col("doc_id") === 3L)
      .select("text").as[String].head()
    assert(redacted.contains("<EMAIL>") && !redacted.contains("example.com"))
    // parity: the batch run over all rows keeps the same fingerprints
    val batchFps = Streams.curationIngest(frameD(db1 ++ db2), "ts",
        "30 minutes", "doc_id", "text")
      .select("doc_fp").as[String].collect().toSet
    assert(streamed.select("doc_fp").as[String].collect().toSet == batchFps)
  }

  test("cdcChunks: stateless op streams unchanged, batch/stream parity across micro-batches") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val db1 = Seq(
      Row(1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      Row(2L, "one two three four five six seven"))
    val db2 = Seq(
      Row(3L, "red green blue cyan magenta yellow black white"))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_cdc")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val stream = spark.readStream.schema(docSchema).parquet(src)
    val q = graft.ext.TextAnalysis.cdcChunks(stream, "doc_id", "text", 4)
      .writeStream.format("memory").queryName("stream_sink_cdc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: DataFrame) =
      df.select("doc_id", "chunk_index", "n_chunk_tokens", "chunk_text")
        .as[(Long, Int, Long, String)].collect().toSet
    val streamed = canon(spark.table("stream_sink_cdc"))
    val batch = canon(graft.ext.TextAnalysis.cdcChunks(
      frameD(db1 ++ db2), "doc_id", "text", 4))
    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 2L, 3L))
  }

  test("dedupArrivalsApprox: per-micro-batch screen equals batch over all arrivals (split-invariant)") {
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    def frameV(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), vecSchema)
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(i => (((seed * 31 + i * 7) % 13) - 6).toFloat)
    val corpus = frameV((1L to 6L).map(i => Row(i, vec(i.toInt))))
    // arrivals: twins of corpus vectors 1 and 4 (must flag), plus a
    // fresh vector far from everything (max |cosine| vs corpus ~0.36)
    val fresh = Seq(5f, -3f, 0f, 2f, -5f, 1f, 4f, -2f)
    val ab1 = Seq(Row(101L, vec(1)), Row(999L, fresh))
    val ab2 = Seq(Row(104L, vec(4)))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_arr")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameV(ab1).write.mode(SaveMode.Append).parquet(src)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = Streams.dedupArrivalsApprox(
      spark.readStream.schema(vecSchema).parquet(src),
      "vec_id", "embedding", corpus, threshold = 0.999,
      sink = out => got ++= out.select("batch_id", "corpus_id")
        .as[(Long, Long)].collect())
    try {
      q.processAllAvailable()
      frameV(ab2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.ext.Similarity.nearDupAgainstCorpusApprox(
        frameV(ab1 ++ ab2), corpus, "vec_id", "embedding",
        threshold = 0.999)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(got.toSet == batch)
    // identical twins share every LSH band → always flagged
    assert(batch.contains((101L, 1L)) && batch.contains((104L, 4L)))
    assert(!batch.exists(_._1 == 999L))
  }

  test("cleanLines: pure projection streams unchanged (split-invariant)") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val db1 = Seq(Row(1L, "Good line stays.\nno punct"),
      Row(2L, "Accept cookie policy now.\nFine closer here!"))
    val db2 = Seq(Row(3L, "short.\nAnother keeper line here?"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_cl")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val got = scala.collection.mutable.Set.empty[(Long, Seq[String])]
    val q = spark.readStream.schema(docSchema).parquet(src)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.cleanLines(col("text")).as("kept"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, _: Long) =>
          got ++= batch.as[(Long, Seq[String])].collect()
          ()
      }.start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val batchRun = frameD(db1 ++ db2)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.cleanLines(col("text")).as("kept"))
      .as[(Long, Seq[String])].collect().toSet
    assert(got.toSet == batchRun)
    assert(batchRun == Set(
      (1L, Seq("Good line stays.")),
      (2L, Seq("Fine closer here!")),
      (3L, Seq("Another keeper line here?"))))
  }

  test("replicateInto converges a sink table to the source over the change feed") {
    import graft.sources.VersionedTable
    val work = java.nio.file.Files.createTempDirectory("graft_repl").toString
    val (a, b, ckpt) = (s"$work/a", s"$work/b", s"$work/ckpt")
    def dimOf(rows: (Int, String, Long)*) = rows.toSeq.toDF("k", "name", "amt")
    def rowsOf(root: String): Set[(Int, String, Long)] =
      VersionedTable.read(spark, root).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    VersionedTable.create(spark, a, dimOf((1, "a", 10L), (2, "b", 20L)))
    val q = graft.streaming.Streams.replicateInto(spark, a, b,
      keys = Seq("k"), checkpoint = ckpt)
    try {
      q.processAllAvailable()
      assert(rowsOf(b) == rowsOf(a), "create must replicate as inserts")
      // live mutations: update, insert, ranged COW delete, a
      // MERGE-ON-READ delete (its CDF change files feed the replica
      // identically — no file is rewritten at the source), plain append
      VersionedTable.merge(spark, a, dimOf((2, "b2", 22L), (5, "e", 50L),
        (6, "f", 60L)), Seq("k"), cdf = true)
      VersionedTable.deleteWhere(spark, a, col("k") === 1, cdf = true)
      VersionedTable.deleteWhereMor(spark, a, col("k") === 6, cdf = true)
      VersionedTable.append(spark, a, dimOf((7, "g", 70L)))
      q.processAllAvailable()
      assert(rowsOf(b) == rowsOf(a),
        s"sink must converge: ${rowsOf(b)} vs ${rowsOf(a)}")
      assert(rowsOf(a) == Set((2, "b2", 22L), (5, "e", 50L), (7, "g", 70L)))
    } finally q.stop()
    // restart from the checkpoint: nothing re-applies, new commits flow
    VersionedTable.merge(spark, a, dimOf((7, "g2", 77L)), Seq("k"),
      cdf = true)
    val q2 = graft.streaming.Streams.replicateInto(spark, a, b,
      keys = Seq("k"), checkpoint = ckpt)
    try {
      q2.processAllAvailable()
      assert(rowsOf(b) == rowsOf(a), "restart must resume, not replay")
    } finally q2.stop()
  }

  test("dsirScore: frozen ratio table streams unchanged (split-invariant)") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val db1 = Seq(Row(1L, "alpha beta gamma"), Row(2L, "zzz yyy xxx"))
    val db2 = Seq(Row(3L, "alpha zzz beta"))
    // ratios frozen from batch 1 against an on-domain target — the
    // deployment shape: train once, score arrivals as a projection
    val ratios = graft.ext.TextAnalysis.dsirLogRatios(
      frameD(db1), "text", frameD(Seq(Row(9L, "alpha beta"))), "text",
      buckets = 32, alpha = 1.0, seed = 5)
    def score(df: DataFrame) = graft.ext.TextAnalysis.dsirScore(
      df, "doc_id", "text", ratios, buckets = 32, seed = 5)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dsir")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val q = score(spark.readStream.schema(docSchema).parquet(src))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, _: Long) =>
          got ++= batch.as[(Long, Long, Double)].collect()
          ()
      }.start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val batchRun = score(frameD(db1 ++ db2))
      .as[(Long, Long, Double)].collect().toSet
    assert(got.toSet == batchRun)
  }

  test("unigramScoreFrozen: pure projection streams unchanged; agrees with the self-scored form") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val db1 = Seq(
      Row(1L, "the cat sat on the mat"),
      Row(2L, "the dog ran"))
    val db2 = Seq(
      Row(3L, "a cat and a dog and a zebra")) // zebra: OOV under db1 vocab
    // distribution frozen from batch 1 only — the deployment shape
    val vocab = graft.ext.TextAnalysis.unigramVocab(frameD(db1), "text", 64)
    def score(df: DataFrame) = graft.ext.TextAnalysis.unigramScoreFrozen(
      df, "doc_id", "text", vocab, oovLogProb = -18.0)
    // zero exchanges: the frozen scorer is a map-literal projection
    val plan = score(frameD(db1 ++ db2)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"frozen scorer must be map-only:\n$plan")
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lm")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val q = score(spark.readStream.schema(docSchema).parquet(src))
      .writeStream.format("memory").queryName("stream_sink_lm")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: DataFrame) =
      df.select("doc_id", "n_tokens", "mean_logprob")
        .as[(Long, Long, Double)].collect().toSet
    val streamed = canon(spark.table("stream_sink_lm"))
    val batch = canon(score(frameD(db1 ++ db2)))
    assert(streamed == batch && streamed.map(_._1) == Set(1L, 2L, 3L))
    // consistency with the oracle-gated self-scored operator: full
    // vocabulary coverage → identical scores (q114's semantics)
    val self = canon(graft.ext.TextAnalysis.unigramLogProbScore(
      frameD(db1), "doc_id", "text"))
    val frozenSelf = canon(graft.ext.TextAnalysis.unigramScoreFrozen(
      frameD(db1), "doc_id", "text",
      graft.ext.TextAnalysis.unigramVocab(frameD(db1), "text", 1000),
      oovLogProb = -99.0))
    assert(frozenSelf == self)
  }

  test("runningUserTotals: mapGroupsWithState accumulates across micro-batches") {
    val streamed = runStreaming("runningUserTotals",
      df => Streams.runningUserTotals(df).toDF())
    // update mode: take the LAST update per user
    val last = streamed.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_cents"))).as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.total_cents"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, n, c) => u -> ((n, c)) }.toMap
    assert(last(7L) == (4L, 110L + 225L + 300L + 225L))
    assert(last(8L) == (2L, 40L + 175L))
  }

  test("bpe_token_count: pure projection streams unchanged (split-invariant)") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def frameD(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema)
    val merges = graft.queries.TokenizerQueries.frozenMerges
    def score(df: DataFrame): DataFrame = df.select(col("doc_id"),
      graft.functions.Bpe.tokenCount(col("text"), merges).as("n"))
    val db1 = Seq(Row(1L, "the window merge join"), Row(2L, "spark  query"))
    val db2 = Seq(Row(3L, "table stream zebra unseen"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_bpe")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    frameD(db1).write.mode(SaveMode.Append).parquet(src)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = score(spark.readStream.schema(docSchema).parquet(src))
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, _: Long) =>
          got ++= batch.as[(Long, Long)].collect()
          ()
      }.start()
    try {
      q.processAllAvailable()
      frameD(db2).write.mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet ==
      score(frameD(db1 ++ db2)).as[(Long, Long)].collect().toSet)
  }

  test("streamingUpsert: readStream -> foreachBatch lands exactly-once in the versioned table") {
    val kvSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def frameKv(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), kvSchema)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_vt")
    dir.toFile.deleteOnExit()
    val src = dir.toString + "/in"
    val root = dir.toString + "/table"
    graft.sources.VersionedTable.create(spark, root,
      frameKv(Seq(Row(1L, "seed"))))
    frameKv(Seq(Row(1L, "b0"), Row(2L, "b0"))).write
      .mode(SaveMode.Append).parquet(src)
    def start() = spark.readStream.schema(kvSchema).parquet(src)
      .writeStream.outputMode("append").foreachBatch {
        (batch: DataFrame, id: Long) =>
          graft.sources.VersionedTable.streamingUpsert(spark, root,
            batch, Seq("k"), "vtq", id)
          ()
      }.start()
    val q = start()
    try {
      q.processAllAvailable()
      frameKv(Seq(Row(2L, "b1"), Row(3L, "b1"))).write
        .mode(SaveMode.Append).parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    def rows() = graft.sources.VersionedTable.read(spark, root)
      .as[(Long, String)].collect().toSet
    assert(rows() == Set((1L, "b0"), (2L, "b1"), (3L, "b1")))
    val vAfter = graft.sources.VersionedTable
      .currentVersion(spark, root).get
    // at-least-once replay: re-deliver both batches by hand with the
    // SAME ids the checkpoint-less restart above would replay — the
    // table must not move
    graft.sources.VersionedTable.streamingUpsert(spark, root,
      frameKv(Seq(Row(1L, "b0"), Row(2L, "b0"))), Seq("k"), "vtq", 0L)
    graft.sources.VersionedTable.streamingUpsert(spark, root,
      frameKv(Seq(Row(2L, "b1"), Row(3L, "b1"))), Seq("k"), "vtq", 1L)
    assert(graft.sources.VersionedTable
      .currentVersion(spark, root).contains(vAfter))
    assert(rows() == Set((1L, "b0"), (2L, "b1"), (3L, "b1")))
  }
}
