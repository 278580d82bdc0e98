package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — beyond-reference extension (the
  * reference is batch-only, SURVEY §0): the same event transforms as
  * the batch queries, expressed so ONE definition runs in both modes.
  * Batch/streaming parity is the test: each operator's streaming result
  * over incrementally-arriving files must equal its batch result over
  * the same rows (StreamingSpec).
  *
  * Scale notes: watermarks bound state; tumbling/session windows use
  * Spark's native state store (RocksDB-backed on a real cluster);
  * dedup state is (key → seen) pruned by the watermark — the streaming
  * analog of the exact-dedup operator in graft.ext.Dedup.
  */
object Streams {

  /** Apply a watermark when streaming; no-op wall-clock batch pass-through. */
  private def watermarked(df: DataFrame, tsCol: String, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark(tsCol, delay) else df

  /** Tumbling-window counts + value cents per event type. */
  def tumblingAgg(events: DataFrame, tsCol: String = "ts",
      duration: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    watermarked(events, tsCol, watermark)
      .groupBy(window(col(tsCol), duration).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("n"), col("value_cents"))

  /** Sliding-window counts + value cents per event type: windows of
    * `duration` starting every `slide` — each event lands in
    * duration/slide windows (Spark expands them in the projection;
    * the aggregation is still ONE shuffle, partial-aggregated). */
  def slidingAgg(events: DataFrame, tsCol: String = "ts",
      duration: String = "1 hour", slide: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    watermarked(events, tsCol, watermark)
      .groupBy(window(col(tsCol), duration, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("n"), col("value_cents"))

  /** Gap-based session windows per user (native session_window — one
    * shuffle on user, state bounded by the watermark when streaming). */
  def sessionAgg(events: DataFrame, tsCol: String = "ts",
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    watermarked(events, tsCol, watermark)
      .groupBy(col("user_id"), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("n_events"))

  /** Streaming exact dedup on `keys`: watermark-pruned state, the
    * streaming analog of [[graft.ext.Dedup.exactKeepFirst]] (the first
    * arrival per key survives). */
  def dedup(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    watermarked(events, tsCol, watermark).dropDuplicates(keys)

  final case class UserTotal(user_id: Long, n_events: Long, total_cents: Long)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count + value total, emitted as an update per micro-batch. */
  def runningUserTotals(events: DataFrame): Dataset[UserTotal] = {
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc = Encoders.product[UserTotal]
    val typed = events.select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0L))
          // stream the iterator — materializing a group (rows.toSeq)
          // would hold one user's whole batch in memory at once
          var n = 0L; var cents = 0L
          rows.foreach { r => n += 1; cents += r._2 }
          val next = UserTotal(user, prev.n_events + n, prev.total_cents + cents)
          state.update(next)
          next
      }
  }

  /** Stream-stream interval join: each left row matched to right rows
    * with equal keys and rightTs within [leftTs - window, leftTs] —
    * the attribution/enrichment join (clicks ← preceding views). Both
    * sides are watermarked, and the time bound is what lets Spark
    * prune right-side state: without it a stream-stream join must
    * retain everything forever. Right-side columns that collide with a
    * left column are auto-renamed to `right_<name>` (the stream-join
    * disjoint-schema hygiene, applied for the caller — the same
    * per-side rename stance as MergeJoin); `keyPairs`/`rightTs` refer
    * to the ORIGINAL right names. One definition runs batch and
    * streaming. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyPairs: Seq[(String, String)], leftTs: String, rightTs: String,
      watermark: String, window: String): DataFrame = {
    val taken = scala.collection.mutable.Set(left.columns: _*)
    val renames: Seq[(String, String)] = right.columns.toSeq.map { c =>
      if (!taken.contains(c)) { taken += c; c -> c }
      else {
        var n = s"right_$c"
        while (taken.contains(n) || right.columns.contains(n)) n = s"_$n"
        taken += n; c -> n
      }
    }
    val renamed = renames.foldLeft(right) { case (df, (o, n)) =>
      if (o == n) df else df.withColumnRenamed(o, n) }
    val rName = renames.toMap
    val cond = keyPairs.map { case (lk, rk) => col(lk) === col(rName(rk)) }
      .reduce(_ && _) &&
      col(rName(rightTs)) >= col(leftTs) - expr(s"INTERVAL $window") &&
      col(rName(rightTs)) <= col(leftTs)
    watermarked(left, leftTs, watermark)
      .join(watermarked(renamed, rName(rightTs), watermark), cond)
  }

  /** Streaming CDC apply — a keyed change stream maintaining a
    * dimension table (the streaming analog of the SCD Type 1 upsert in
    * [[graft.ops.Mutations]]): each micro-batch merges into the target
    * as "latest per key wins", decided by `tsCol` with ties going to
    * the incoming change. That formulation is idempotent and
    * out-of-order-safe — replayed or late micro-batches cannot regress
    * a newer row, and the final table equals latest-per-key over
    * (initial target ∪ all changes) REGARDLESS of how the stream was
    * split into batches (StreamingSpec proves both splits).
    *
    * `readTarget`/`writeTarget` abstract the store: a catalog table, a
    * Delta MERGE, or a JDBC staging swap all fit; per batch the merge
    * is one window pass over target ∪ batch — no join explosion. */
  def cdcApply(changes: DataFrame, keys: Seq[String], tsCol: String,
      readTarget: () => DataFrame, writeTarget: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream.outputMode("update").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val current = readTarget()
        val cols = current.columns.toSeq
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(tsCol).desc, col("__cdc_side").desc)
        val merged = current.withColumn("__cdc_side", lit(0))
          .unionByName(batch.select(cols.map(col): _*)
            .withColumn("__cdc_side", lit(1)))
          .withColumn("__cdc_rn", row_number().over(w))
          .filter(col("__cdc_rn") === 1)
          .select(cols.map(col): _*)
        writeTarget(merged)
        ()
    }.start()

  /** Streaming embedding-level arrival screen: each micro-batch of
    * incoming vectors is checked against the STATIC corpus. The corpus
    * is sized, banded and persisted ONCE at stream start
    * ([[graft.ext.Similarity.prepareArrivalCorpus]]) — per micro-batch
    * the work is batch-sized only ([[graft.ext.Similarity
    * .nearDupAgainstPreparedCorpus]]), with no corpus-scan latency
    * floor. A row's verdict depends only on (row, corpus), so arrival
    * splitting cannot change any result, and the prepared screen is
    * bit-identical to the batch operator — StreamingSpec proves
    * split-invariance against [[graft.ext.Similarity
    * .nearDupAgainstCorpusApprox]]. The prepared caches are released
    * automatically when THIS query terminates (listener keyed on the
    * query id). */
  def dedupArrivalsApprox(arrivals: DataFrame, idCol: String,
      vecCol: String, corpus: DataFrame, threshold: Double,
      sink: DataFrame => Unit, planes: Int = 32, bitsPerBand: Int = 8,
      seed: Int = 7)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // LSH parameters pass through so a batch pipeline's configuration
    // reproduces EXACTLY in streaming — split-invariance only holds
    // when both run the same screen
    val prep = graft.ext.Similarity.prepareArrivalCorpus(
      corpus, idCol, vecCol, planes, bitsPerBand, seed)
    val query = arrivals.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(graft.ext.Similarity.nearDupAgainstPreparedCorpus(
          batch, prep, idCol, vecCol, threshold))
        ()
    }.start()
    val streams = arrivals.sparkSession.streams
    streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          if (e.id == query.id) { prep.release(); streams.removeListener(this) }
      })
    query
  }

  /** Streaming curation ingest — the arrival-time form of the batch
    * curation pipeline (q64/q80/q99): quality gate and PII scrub are
    * pure projections (trivially incremental), then exact content
    * dedup keeps the FIRST-ARRIVED copy of each normalized fingerprint
    * — streaming uses dropDuplicatesWithinWatermark, so state is the
    * fingerprint→seen map PRUNED at the watermark horizon (plain
    * dropDuplicates would grow state forever; Spark refuses the
    * within-watermark form on batch frames, where exact dedup needs no
    * state anyway). ONE definition serves batch and stream;
    * StreamingSpec proves the surviving fingerprint set matches the
    * batch run. */
  def curationIngest(docs: DataFrame, tsCol: String, watermark: String,
      idCol: String, textCol: String): DataFrame = {
    val scrubbed = watermarked(docs, tsCol, watermark)
      .filter(graft.ext.TextAnalysis.qualityOk(col(textCol)))
      .select(col(idCol), col(tsCol),
        graft.ext.TextAnalysis.redactPii(col(textCol)).as(textCol))
      .withColumn("doc_fp",
        graft.ext.TextAnalysis.fingerprint(col(textCol)))
    if (scrubbed.isStreaming) scrubbed.dropDuplicatesWithinWatermark("doc_fp")
    else {
      // deterministic first-ARRIVED keeper (dropDuplicates keeps an
      // arbitrary row per key), matching the streaming semantics
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_fp").orderBy(col(tsCol), col(idCol))
      scrubbed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** TAIL a versioned table as a Structured Stream: the manifest
    * directory is an append-only file stream (commits publish by
    * atomic rename, so a manifest is visible only when complete), and
    * Spark's own file source — with its checkpointed processed-files
    * log — is the exactly-once cursor over it. Each micro-batch
    * resolves the NEWLY arrived versions in order and hands
    * `apply(version, changes)` that commit's row-level change feed
    * ([[graft.sources.VersionedTable.readChanges]](v-1, v); version 1
    * arrives as pure inserts). After a crash the file source replays
    * the unacknowledged manifests — `apply` must be idempotent per
    * version, which [[replicateInto]] gets from the sink table's own
    * (query, batchId=version) meta guard.
    *
    * This is the "tail the table" consumer shape at 100 TB: the stream
    * reads MANIFEST FILES (bytes ∝ commit count), and each version's
    * change feed is file-diff- or change-file-bounded — never a table
    * scan. Requires every rewrite commit in the tailed range to be
    * CDF-enabled or layout-only (readChanges' refusal otherwise stops
    * the stream loudly rather than double-delivering), and the tail's
    * unprocessed window to stay within vacuum retention — resolving an
    * append-only version's delta needs its PREDECESSOR manifest. */
  def tailVersionedChanges(spark: org.apache.spark.sql.SparkSession,
      root: String, checkpoint: String)(
      apply: (Long, DataFrame) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    tailVersions(spark, root, checkpoint)(vs => vs.foreach { v =>
      apply(v, graft.sources.VersionedTable
        .readChanges(spark, root, v - 1, Some(v)))
    })

  /** The version-only tail underneath [[tailVersionedChanges]]: each
    * micro-batch delivers the SORTED new version numbers and nothing
    * else — consumers that derive their own delta (watermark-driven
    * refreshers) pay zero per-version manifest parsing here, and a
    * non-CDF rewrite in the range cannot kill the stream before the
    * consumer decides whether it even cares. */
  def tailVersions(spark: org.apache.spark.sql.SparkSession,
      root: String, checkpoint: String)(
      apply: Seq[Long] => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val manifestDir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val VRe = """.*v(\d{20})\.manifest""".r
    spark.readStream
      .option("pathGlobFilter", "v*.manifest")
      .text(manifestDir.toString)
      .select(input_file_name().as("f"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val versions = batch.select("f").distinct().collect()
          .map(_.getString(0)).collect { case VRe(d) => d.toLong }
          .sorted.toSeq
        if (versions.nonEmpty) apply(versions)
        ()
      }
      .start()
  }

  /** Continuous TABLE→TABLE replication over the change feed: tail
    * `fromRoot` and converge `toRoot` to it, key-wise. Per version:
    * keys that only appear as deletes are removed and insert rows
    * upsert — as ONE atomic sink commit
    * ([[graft.sources.VersionedTable.streamingApply]]) guarded by
    * batchId = the SOURCE VERSION, so a replayed manifest re-applies
    * NEITHER half (a separately replayed delete could resurrect a
    * tombstone after its paired upsert was skipped). Requires `keys`
    * to uniquely identify rows in the source table — the same
    * contract its own merges carry. */
  def replicateInto(spark: org.apache.spark.sql.SparkSession,
      fromRoot: String, toRoot: String, keys: Seq[String],
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.VersionedTable
    tailVersionedChanges(spark, fromRoot, checkpoint) { (v, changes) =>
      val dataCols = changes.columns.toSeq
        .filterNot(c => c == "_change_type" || c == "_commit_version")
      val ins = changes.filter(col("_change_type") === "insert")
        .select(dataCols.map(col): _*)
      val delKeys = changes.filter(col("_change_type") === "delete")
        .select(keys.map(col): _*)
        .exceptAll(ins.select(keys.map(col): _*)).distinct()
      // layout-only source versions (compact/clusterBy) carry no row
      // changes: skip entirely — a replay re-skips, so no guard needed
      if (!changes.isEmpty) {
        if (VersionedTable.currentVersion(spark, toRoot).isEmpty) {
          VersionedTable.create(spark, toRoot, ins.limit(0)) // schema seed
        }
        VersionedTable.streamingApply(spark, toRoot, ins, delKeys, keys,
          queryName = "graft_repl", batchId = v)
      }
      ()
    }
  }

  /** Continuous derived-state maintenance over a corpus change feed:
    * tail `corpusRoot` and run `refresh` after every batch of new
    * corpus versions — the streaming form of
    * [[graft.ext.IvfIndex.refresh]] / [[graft.ext.Bm25Index.refresh]]
    * (and any other watermark-driven idempotent refresher: replays
    * and version groups fold safely because the refresher reads its
    * own watermark and commits with the corpus version as batch id).
    * The per-version change DataFrame the tail derives is ignored —
    * the refresher re-reads exactly the delta it needs. */
  def maintainOnChanges(spark: org.apache.spark.sql.SparkSession,
      corpusRoot: String, checkpoint: String)(
      refresh: org.apache.spark.sql.SparkSession => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    // version-only tail: ONE refresh per micro-batch (the refresher
    // folds every new version from its own watermark), zero
    // per-version manifest parsing on this path
    tailVersions(spark, corpusRoot, checkpoint)(_ => refresh(spark))

  /** Output mode each operator needs on an unbounded sink. */
  val outputModes: Map[String, OutputMode] = Map(
    "tumblingAgg" -> OutputMode.Complete(),
    "slidingAgg" -> OutputMode.Complete(),
    "sessionAgg" -> OutputMode.Complete(),
    "dedup" -> OutputMode.Append(),
    "runningUserTotals" -> OutputMode.Update(),
    "intervalJoin" -> OutputMode.Append(),
    "curationIngest" -> OutputMode.Append())
}
