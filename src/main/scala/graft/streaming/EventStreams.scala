package graft.streaming

import graft.core.{Chain, Exact}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Event-stream operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each aggregation exists in two faces sharing the same expression logic:
  * a batch face (used by the correctness oracle) and a Structured Streaming
  * face (`readStream` → watermark → windowed agg) for continuous
  * execution. `ts` arrives either as a native parquet timestamp (micros)
  * or as raw epoch nanoseconds (parquet TIMESTAMP(NANOS) read via
  * `nanosAsLong`, or a Kafka-style long); [[EventStreams.eventTime]]
  * normalizes both to a timezone-naive timestamp column at plan time.
  */
/** Per-user open-session state for [[EventStreams.statefulSessions]]
  * (value sum kept in fixed-point millis — deterministic accumulation).
  */
case class SessionState(startMs: Long, lastMs: Long, n: Long, sumMilli: Long)

/** Emitted session summary (end = last event + gap, matching
  * session_window semantics).
  */
case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
                          session_end: java.sql.Timestamp, n_events: Long,
                          value_sum: Double)

object EventStreams {

  /** Nanosecond epoch → TIMESTAMP_NTZ. Integer `DIV` — a double round-trip
    * (`/`) would lose precision above 2^53 ns (≈ 1970+104 days).
    */
  def tsFromNanos(colName: String): Column =
    expr(s"CAST(timestamp_micros($colName DIV 1000) AS TIMESTAMP_NTZ)")

  /** Event-time column as TIMESTAMP_NTZ, adapting to how `ts` arrives:
    * epoch nanos (LongType — parquet TIMESTAMP(NANOS) under `nanosAsLong`,
    * or a raw Kafka-style long) or a native timestamp column (parquet
    * micros). Resolved at PLAN time from the frame's schema, so both
    * shapes share every downstream window/watermark plan unchanged.
    */
  def eventTime(events: DataFrame, colName: String = "ts"): Column =
    events.schema(colName).dataType match {
      case LongType         => tsFromNanos(colName)
      case TimestampNTZType => col(colName)
      case _                => col(colName).cast(TimestampNTZType)
    }

  /** Tumbling-window aggregate (batch face): counts + exact sums per
    * (window_start, key).
    */
  def tumblingAgg(events: DataFrame, width: String, keys: Seq[String]): DataFrame = {
    events
      .withColumn("_ts", eventTime(events))
      .groupBy((window(col("_ts"), width).getField("start").cast(TimestampNTZType)
        .as("window_start") +: keys.map(col)): _*)
      .agg(
        count(lit(1)).as("n_events"),
        Exact.sum(col("value")).as("value_sum"))
  }

  /** Sliding-window aggregate (batch face). */
  def slidingAgg(events: DataFrame, width: String, slide: String, keys: Seq[String]): DataFrame =
    events
      .withColumn("_ts", eventTime(events))
      .groupBy((window(col("_ts"), width, slide).getField("start")
        .cast(TimestampNTZType).as("window_start") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), Exact.sum(col("value")).as("value_sum"))

  /** Session windows per key with an inactivity gap (batch face) —
    * `session_window`: start = first event, end = last event + gap.
    */
  def sessionAgg(events: DataFrame, gap: String, keys: Seq[String]): DataFrame =
    events
      .withColumn("_ts", eventTime(events))
      .groupBy((session_window(col("_ts"), gap).as("_w") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), Exact.sum(col("value")).as("value_sum"))
      .select((keys.map(col) :+
        col("_w").getField("start").cast(TimestampNTZType).as("session_start") :+
        col("_w").getField("end").cast(TimestampNTZType).as("session_end") :+
        col("n_events") :+ col("value_sum")): _*)

  // ---- streaming faces -----------------------------------------------

  /** Open the events table as a stream (file source; in production a Kafka
    * source with the same downstream plan).
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.readStream.schema(schema).parquet(path)
  }

  /** Streaming tumbling aggregate with late-data policy: watermark bounds
    * state; output mode should be `update` (or `append` after the
    * watermark passes).
    */
  def streamingTumblingAgg(events: DataFrame, width: String,
                           watermark: String, keys: Seq[String]): DataFrame = {
    events
      .withColumn("_ts", eventTime(events).cast(TimestampType))
      .withWatermark("_ts", watermark)
      .groupBy((window(col("_ts"), width) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), Exact.sum(col("value")).as("value_sum"))
  }

  /** Streaming session windows: watermark + session_window — Spark merges
    * open sessions in state until the watermark closes them.
    */
  def streamingSessionAgg(events: DataFrame, gap: String,
                          watermark: String, keys: Seq[String]): DataFrame =
    events
      .withColumn("_ts", eventTime(events).cast(TimestampType))
      .withWatermark("_ts", watermark)
      .groupBy((session_window(col("_ts"), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), Exact.sum(col("value")).as("value_sum"))

  /** Streaming exact dedup: drops re-deliveries of the same key arriving
    * within the watermark horizon — the streaming face of `dedupExact` for
    * at-least-once sources (Kafka redeliveries, file-source reprocessing).
    * `dropDuplicatesWithinWatermark` keeps one state entry per key seen
    * inside the horizon and purges it as the watermark advances, so state
    * is bounded by (event rate × watermark), not by stream lifetime.
    */
  def streamingDedup(events: DataFrame, idCols: Seq[String],
                     watermark: String): DataFrame =
    events
      .withColumn("_ts", eventTime(events).cast(TimestampType))
      .withWatermark("_ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Streaming append sink: drain the stream into a managed parquet table
    * with exactly-once file-sink semantics (offsets + written-file log in
    * the checkpoint). `Trigger.AvailableNow` processes everything
    * available then stops — the batch-drain mode for scheduled ingest,
    * and the one launch posture every sink here shares. The `toTable`
    * start is what gives the file sink's log, so this sink alone does not
    * go through [[drainForeachBatch]].
    */
  def sinkAppendToTable(df: DataFrame, name: String, checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .toTable(name)
    q.awaitTermination()
    q
  }

  /** The one launch of every `foreachBatch` sink: run `body` on each
    * micro-batch of what is available now (`Trigger.AvailableNow`), wait
    * for the drain, then refresh each of `refresh` that exists in the
    * CALLER's session. `foreachBatch` runs in a cloned session, so the
    * caller's cached file listings would not see the batches' writes; a
    * stream that yielded no non-empty batch never created its tables, and
    * refreshing a missing table throws.
    */
  private def drainForeachBatch(df: DataFrame, outputMode: String, checkpointDir: String,
                                refresh: Seq[String])(
                                body: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val catalog = df.sparkSession.catalog
    refresh.filter(catalog.tableExists).foreach(catalog.refreshTable)
    q
  }

  /** Streaming key-upsert sink via `foreachBatch`: every micro-batch
    * insert-or-replaces into the target table on `keys`
    * ([[graft.core.Chain.saveUpsert]]) — the idempotent sink for
    * at-least-once upstreams: redelivered rows overwrite themselves, so
    * replays converge instead of duplicating. This is the standard
    * pattern for maintaining a continuously-updated serving table from a
    * watermarked `update`-mode aggregation.
    */
  def sinkUpsertToTable(df: DataFrame, name: String, keys: Seq[String],
                        checkpointDir: String,
                        dedupeBatch: Boolean = false): StreamingQuery =
    drainForeachBatch(df, "update", checkpointDir, Seq(name)) { (batch, _) =>
      // dedupeBatch dedupes INSIDE the batch (a plain batch-side
      // distinct) — a distinct on the streaming frame would instead
      // compile to a watermarkless stateful dropDuplicates whose state
      // store grows with every key ever seen
      if (!batch.isEmpty) {
        val b = if (dedupeBatch) batch.distinct() else batch
        graft.core.Chain(batch.sparkSession, name, b).saveUpsert(name, keys)
      }
    }

  /** Stream-stream range enrichment: every point event joins the interval
    * facts containing it (`point ∈ [start, end)`, half-open like the batch
    * [[graft.ops.JoinOps.rangeJoin]]) — both sides are STREAMS, e.g. live
    * events against a feed of campaign/session/deployment windows. This is
    * Spark's watermarked stream-stream inner join with an event-time range
    * condition: the watermarks plus `maxIntervalLength` bound both join
    * states, so state neither grows with stream lifetime nor drops
    * qualifying matches inside the lateness horizon. Stream-stream joins
    * additionally REQUIRE an equality key (the state store hashes on it),
    * so this reuses the batch face's bucketization: each point keys on its
    * fixed-width time bucket, each interval explodes to the buckets it
    * covers, and every qualifying pair still matches exactly once (the
    * point's own bucket). Size `bucketSeconds` near the typical interval
    * length, and `maxIntervalLength` at the longest interval you accept —
    * it is both the state bound and a correctness bound (longer intervals
    * are dropped by the explicit guard, never silently unmatched).
    */
  def streamingRangeEnrich(points: DataFrame, intervals: DataFrame,
                           pointCol: String, startCol: String, endCol: String,
                           watermark: String,
                           bucketSeconds: Long = 3600L,
                           maxIntervalLength: String = "1 hour"): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be positive, got $bucketSeconds")
    val bucketUs = bucketSeconds * 1000000L
    val p = points.withWatermark(pointCol, watermark)
      .withColumn("_b", floor(unix_micros(col(pointCol)) / bucketUs))
    val iv = intervals.withWatermark(startCol, watermark)
      .where(col(endCol) > col(startCol) &&
        col(endCol) <= expr(s"$startCol + INTERVAL $maxIntervalLength"))
      .withColumn("_b", explode(sequence(
        floor(unix_micros(col(startCol)) / bucketUs),
        floor((unix_micros(col(endCol)) - 1) / bucketUs))))
    p.join(iv,
      p("_b") === iv("_b") && expr(
        s"$pointCol >= $startCol AND $pointCol < $endCol " +
          // explicit event-time bound between the two sides so Spark can
          // compute state watermarks for both join sides
          s"AND $pointCol <= $startCol + INTERVAL $maxIntervalLength"),
      "inner").drop("_b")
  }

  /** Streaming ingest with incremental near-dup dedup via `foreachBatch`:
    * every micro-batch (1) drops exact re-texts within the batch, (2) probes
    * the saved MinHash band index ([[graft.ext.DedupOps.minhashIndex]]) and
    * drops near-dups of the already-ingested corpus, (3) APPENDS the
    * survivors not already present in the corpus (one anti-join on ids),
    * then (4) appends the survivors' own band postings to the index — so the
    * NEXT batch dedups against everything ingested so far without ever
    * re-mining history. This is the 100 TB ingest loop: per batch the corpus
    * is only READ — two column-pruned scans (the id anti-join and the index
    * probe) — and WRITE volume is O(batch); nothing rewrites the corpus.
    *
    * Replay safety (foreachBatch is at-least-once): the corpus append is
    * idempotent because survivors are anti-joined against the ids already
    * in the table — a replayed batch recomputes the same survivors (the doc
    * append runs BEFORE the posting append, so on replay the index still
    * lacks the batch's own postings), finds their ids present, and appends
    * nothing; if the crash came AFTER the posting append, the replayed
    * batch's docs near-dup their own postings and the survivor set is
    * empty — again appending nothing. Duplicate postings from a post-append
    * replay only duplicate candidates (harmless — drop decisions are
    * distinct-ed). Batch-INTERNAL near-dups (two new docs
    * near-duplicating each other in one micro-batch) are by default only
    * exact-deduped; pass `dedupWithinBatch = true` to run a within-batch
    * minhash `dedupNear` pass too (work ∝ batch size, same banding as the
    * cross-batch index probe), or run a periodic compaction pass
    * ([[graft.ext.DedupClusterOps.dedupNear]]) on the corpus.
    */
  def sinkDedupAppendToTable(docs: DataFrame, name: String, indexTable: String,
                             idCol: String, textCol: String, checkpointDir: String,
                             shingleWords: Int = 3, numHashes: Int = 32, bands: Int = 4,
                             estThreshold: Double = 0.8,
                             indexBuckets: Int = 16,
                             dedupWithinBatch: Boolean = false): StreamingQuery = {
    import graft.ext._
    drainForeachBatch(docs, "append", checkpointDir, Seq(name, indexTable)) { (batch, _) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        val exact = graft.core.Chain(spark, name, batch).dedupExact(idCol, textCol)
        // batch-INTERNAL near-dups (two new docs near-duplicating each
        // other in one micro-batch) are invisible to the index probe —
        // opt in to a within-batch minhash dedupNear pass (work ∝ batch,
        // same banding parameters as the cross-batch index)
        val deduped =
          if (dedupWithinBatch)
            exact.dedupNear(idCol, textCol, n = shingleWords,
              threshold = estThreshold, candidates = "minhash",
              numHashes = numHashes, bands = bands)
          else exact
        val survivors =
          if (spark.catalog.tableExists(indexTable))
            deduped.dedupAgainstIndex(spark.table(indexTable), idCol, textCol,
              shingleWords, numHashes, bands, estThreshold)
          else deduped
        // replay-idempotent APPEND: drop ids already in the corpus (one
        // column-pruned scan of the id column), then append the rest —
        // never rewrite the corpus (a per-batch upsert is O(corpus) I/O)
        val fresh =
          if (spark.catalog.tableExists(name))
            survivors.df.join(spark.table(name).select(col(idCol)), Seq(idCol), "left_anti")
          else survivors.df
        fresh.write.mode(SaveMode.Append)
          .format("parquet").saveAsTable(name)
        survivors
          .minhashIndex(idCol, textCol, shingleWords, numHashes, bands)
          .appendBucketed(indexTable, Seq("_bh"), indexBuckets)
      }
    }
  }

  /** Streaming lexical-index ingest via `foreachBatch`: every micro-batch
    * (1) drops exact re-texts within the batch, (2) APPENDS the docs not
    * already in the corpus (one column-pruned id anti-join), and (3)
    * appends the term postings of docs not already in the index (one
    * column-pruned doc-id anti-join against the postings) — so
    * [[graft.ext.TextAnalysisOps.searchTfidfIndex]] over the index table
    * always answers for everything ingested so far. There is NO metadata
    * step: df comes from the postings a probe reads and N from the index
    * itself, so idf statistics are fresh by construction after every
    * batch (the design reason the tf-idf index persists no df/N).
    *
    * Replay safety (foreachBatch is at-least-once): the corpus and index
    * appends are EACH guarded by their own anti-join, so a replayed batch
    * re-appends only whatever its crashed predecessor had not yet landed —
    * both tables converge, in any crash position, without coordination.
    * Per batch the corpus and index are only READ column-pruned; write
    * volume is O(batch).
    */
  def sinkTfidfAppendToTable(docs: DataFrame, corpusTable: String, indexTable: String,
                             idCol: String, textCol: String, checkpointDir: String,
                             indexBuckets: Int = 16): StreamingQuery = {
    import graft.ext._
    drainForeachBatch(docs, "append", checkpointDir, Seq(corpusTable, indexTable)) { (batch, _) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        val deduped = graft.core.Chain(spark, corpusTable, batch)
          .dedupExact(idCol, textCol)
        val freshCorpus =
          if (spark.catalog.tableExists(corpusTable))
            deduped.df.join(spark.table(corpusTable).select(col(idCol)),
              Seq(idCol), "left_anti")
          else deduped.df
        freshCorpus.write.mode(SaveMode.Append)
          .format("parquet").saveAsTable(corpusTable)
        if (!spark.catalog.tableExists(indexTable)) {
          graft.core.Chain(spark, indexTable, deduped.df)
            .tfidfIndex(idCol, textCol)
            .saveBucketed(indexTable, Seq("term"), indexBuckets)
        } else {
          val freshIdx = deduped.df.join(
            spark.table(indexTable).select(col("doc_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          if (!freshIdx.isEmpty)
            graft.core.Chain(spark, indexTable, freshIdx)
              .tfidfIndex(idCol, textCol)
              .appendBucketed(indexTable, Seq("term"), indexBuckets)
        }
      }
    }
  }

  /** Streaming SEMANTIC ingest via `foreachBatch` — the embedding sibling
    * of [[sinkDedupAppendToTable]], closing the vector-corpus loop: every
    * micro-batch (1) drops vectors whose exact cosine against the saved
    * IVF index reaches `threshold`
    * ([[graft.ext.SimilarityOps.dedupAgainstIvfIndex]] — drops are always
    * exact-verified; `nprobe` dials boundary recall), (2) APPENDS the
    * surviving vectors to the corpus table behind a replay-idempotent id
    * anti-join, and (3) assigns survivors to their index cells
    * ([[graft.ext.SimilarityOps.ivfIndexAssign]]) and appends them
    * cid-bucketed, behind its own id anti-join — so
    * [[graft.ext.SimilarityOps.searchIvfIndex]] over the index table
    * always answers for everything ingested so far, and history is never
    * re-assigned or re-mined. The FIRST non-empty batch trains the index
    * (bounded driver k-means, [[graft.ext.SimilarityOps.ivfIndex]]);
    * centroids are frozen thereafter — retrain offline and rebuild if the
    * embedding distribution drifts far from the bootstrap sample.
    *
    * Replay safety (foreachBatch is at-least-once): both appends are
    * anti-join-guarded by id, so a replayed batch lands only what its
    * crashed predecessor had not; duplicate drops are harmless (drop
    * decisions never write). Per batch the corpus and index are read
    * column-pruned/partition-bucketed; write volume is O(batch).
    */
  def sinkEmbeddingAppendToTable(vecs: DataFrame, corpusTable: String, indexTable: String,
                                 idCol: String, vecCol: String, checkpointDir: String,
                                 threshold: Double, nprobe: Int = 4,
                                 nlist: Int = 16,
                                 indexBuckets: Int = 16): StreamingQuery = {
    import graft.ext._
    drainForeachBatch(vecs, "append", checkpointDir, Seq(corpusTable, indexTable)) { (batch, _) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        val chain = graft.core.Chain(spark, corpusTable, batch)
        val survivors =
          if (spark.catalog.tableExists(indexTable))
            chain.dedupAgainstIvfIndex(spark.table(indexTable), idCol, vecCol,
              threshold, nprobe)
          else chain
        val freshCorpus =
          if (spark.catalog.tableExists(corpusTable))
            survivors.df.join(spark.table(corpusTable).select(col(idCol)),
              Seq(idCol), "left_anti")
          else survivors.df
        freshCorpus.write.mode(SaveMode.Append)
          .format("parquet").saveAsTable(corpusTable)
        if (!spark.catalog.tableExists(indexTable)) {
          survivors.ivfIndex(idCol, vecCol, nlist)
            .saveBucketed(indexTable, Seq("_cid"), indexBuckets)
        } else {
          // _id keeps the index's own id type (long OR string) — an
          // unconditional long cast would null a string-keyed index's
          // ids and let replays duplicate postings
          val freshIdx = survivors.df.join(
            spark.table(indexTable).where(col("_id").isNotNull)
              .select(col("_id").as(idCol)),
            Seq(idCol), "left_anti")
          if (!freshIdx.isEmpty)
            graft.core.Chain(spark, indexTable, freshIdx)
              .ivfIndexAssign(spark.table(indexTable), idCol, vecCol)
              .appendBucketed(indexTable, Seq("_cid"), indexBuckets)
        }
      }
    }
  }

  /** sink_pq_append(vecs, corpus, index, id, vec, ckpt, pq_model,
    * max_dist): the [[sinkEmbeddingAppendToTable]] composition at IVFADC
    * storage cost — each micro-batch screens against the saved
    * [[graft.ext.SimilarityOps.ivfPqIndex]] postings by ADC distance
    * (codes, m bytes/row — the raw corpus embeddings can stay cold),
    * appends survivors to the corpus table, and extends the index with
    * [[graft.ext.SimilarityOps.ivfPqIndexAssign]] (assign + encode the
    * batch only; history is never re-encoded). First batch bootstraps
    * the index from its own survivors. Replay-idempotent the same way:
    * both appends anti-join on ids already present, so a re-delivered
    * batch adds nothing. `pqModel` is a trained [[graft.ext
    * .SimilarityOps.pqFit]] frame — the codebook is a pinned artifact of
    * the pipeline (retraining it per batch would silently re-metric the
    * dedup threshold), which is why it is a parameter, not a fit here.
    * `byResidual` applies only to the FIRST batch's index bootstrap
    * (the [[graft.ext.SimilarityOps.ivfPqIndex]] flag); every later
    * batch self-detects the residual codebook embedded in the saved
    * index, so screens and appends stay in the history's metric
    * automatically. `maxDist` must be calibrated in the matching metric
    * (residual-index ADC distances differ from raw-code ones).
    */
  def sinkPqAppendToTable(vecs: DataFrame, corpusTable: String, indexTable: String,
                          idCol: String, vecCol: String, checkpointDir: String,
                          pqModel: DataFrame, maxDist: Double, nprobe: Int = 4,
                          nlist: Int = 16,
                          indexBuckets: Int = 16,
                          byResidual: Boolean = false): StreamingQuery = {
    import graft.ext._
    drainForeachBatch(vecs, "append", checkpointDir, Seq(corpusTable, indexTable)) { (batch, _) =>
      val spark = batch.sparkSession
      if (!batch.isEmpty) {
        val chain = graft.core.Chain(spark, corpusTable, batch)
        val survivors =
          if (spark.catalog.tableExists(indexTable))
            chain.dedupAgainstIvfPqIndex(spark.table(indexTable), pqModel,
              idCol, vecCol, maxDist, nprobe)
          else chain
        val freshCorpus =
          if (spark.catalog.tableExists(corpusTable))
            survivors.df.join(spark.table(corpusTable).select(col(idCol)),
              Seq(idCol), "left_anti")
          else survivors.df
        freshCorpus.write.mode(SaveMode.Append)
          .format("parquet").saveAsTable(corpusTable)
        if (!spark.catalog.tableExists(indexTable)) {
          survivors.ivfPqIndex(pqModel, idCol, vecCol, nlist,
              byResidual = byResidual)
            .saveBucketed(indexTable, Seq("_cid"), indexBuckets)
        } else {
          // _id keeps the index's own id type (long OR string), the
          // sinkEmbeddingAppendToTable lesson
          val freshIdx = survivors.df.join(
            spark.table(indexTable).where(col("_id").isNotNull)
              .select(col("_id").as(idCol)),
            Seq(idCol), "left_anti")
          if (!freshIdx.isEmpty)
            graft.core.Chain(spark, indexTable, freshIdx)
              .ivfPqIndexAssign(spark.table(indexTable), pqModel, idCol, vecCol)
              .appendBucketed(indexTable, Seq("_cid"), indexBuckets)
        }
      }
    }
  }

  /** Table property holding a profile table's last applied batch as
    * `batchId@checkpointIdentity` (the replay guard of [[runProfileSink]]).
    */
  private val AppliedBatchProp = "graft.applied_batch"

  /** Dynamic-partition-overwrite `out` into the touched partitions of the
    * existing table `name`, with the session conf SAVED AND RESTORED
    * around the write: the DataFrameWriter-level `partitionOverwriteMode`
    * option is not honored on the catalog `insertInto` path (the
    * touched-bucket StreamingSpec pins the behavior), so the conf must be
    * set — but it must never be left mutated on the shared session, or
    * the caller's own subsequent overwrite writes silently change
    * semantics.
    */
  private def dynamicOverwrite(spark: SparkSession, out: DataFrame,
                               name: String): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try out.select(spark.table(name).columns.map(col).toIndexedSeq: _*)
      .write.mode(SaveMode.Overwrite).insertInto(name)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The checkpoint's identity for the replay marker: the stream uuid
    * from the checkpoint's own `metadata` file (written by Structured
    * Streaming at query start, BEFORE any batch fires) prefixed to the
    * path. A checkpoint deleted and recreated at the same path gets a
    * fresh uuid, so the marker stops matching and the reprocess's
    * batches apply; the bare path alone cannot see that (the
    * ADVICE-flagged silent drop). Falls back to the path when the
    * metadata file is missing/unreadable (e.g. a unit test calling the
    * guard directly) — the pre-fix semantics, never a crash. NOT cached:
    * a same-JVM rm-rf-and-rerun must observe the fresh uuid, and the
    * read is one tiny FS open per batch next to the SHOW TBLPROPERTIES
    * the guard already pays.
    */
  private[graft] def checkpointIdentity(spark: SparkSession,
                                        checkpointDir: String): String = {
    val id =
      try {
        val path = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(path)) None
        else {
          val in = fs.open(path)
          try {
            val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
            """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r.findFirstMatchIn(txt)
              .map(_.group(1))
          } finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    id.fold(checkpointDir)(u => s"$u:$checkpointDir")
  }

  /** One-read-per-batch replay guard of [[runProfileSink]]: resolve the
    * checkpoint identity ONCE, return None when this batch is a replay
    * (skip), Some(identity) to proceed — the caller hands the identity
    * back to [[markBatchApplied]] so the metadata file is opened exactly
    * once per batch, as the bench annotation claims.
    */
  private[graft] def checkpointGuard(spark: SparkSession, name: String,
                                     checkpointDir: String,
                                     batchId: Long): Option[String] = {
    val ident = checkpointIdentity(spark, checkpointDir)
    val applied = spark.catalog.tableExists(name) && {
      val rows = spark.sql(s"SHOW TBLPROPERTIES `$name`")
        .where(col("key") === AppliedBatchProp).collect()
      rows.nonEmpty && {
        val v = rows(0).getString(1)
        val at = v.indexOf('@')
        // an unparseable marker (externally set, truncated) means "not
        // applied" — at-least-once fallback, never a stream-killing throw
        at > 0 && v.substring(at + 1) == ident &&
          scala.util.Try(v.substring(0, at).toLong).toOption.exists(_ >= batchId)
      }
    }
    if (applied) None else Some(ident)
  }

  private[graft] def batchAlreadyApplied(spark: SparkSession, name: String,
                                         checkpointDir: String,
                                         batchId: Long): Boolean =
    checkpointGuard(spark, name, checkpointDir, batchId).isEmpty

  /** Record the applied batch; `checkpointIdent` is the identity the
    * batch's [[checkpointGuard]] already resolved.
    */
  private[graft] def markBatchApplied(spark: SparkSession, name: String,
                                      checkpointIdent: String,
                                      batchId: Long): Unit =
    spark.sql(s"ALTER TABLE `$name` SET TBLPROPERTIES ('$AppliedBatchProp' = " +
      s"'$batchId@${checkpointIdent.replace("'", "''")}')")

  /** The one body of the seven stored-profile sinks (distinct,
    * frequent-items and quantile sketches, categorical and numeric drift,
    * calibration, agreement). A sink supplies only what is its own:
    * `aggregate` folds a micro-batch into its per-key rows, `close` turns
    * those into the rows of a new table, and `merge` combines them with
    * the stored rows of the partitions they touch into the rows that
    * replace those partitions. Per non-empty micro-batch:
    *
    *  - Replay guard. `foreachBatch` is at-least-once: a run that dies
    *    between the merge write and the checkpoint commit re-fires the
    *    SAME batchId on restart, and an ADDITIVE merge (frequent items,
    *    KLL, drift counts, calibration and agreement accumulators)
    *    applied twice double-counts. [[markBatchApplied]] records the last
    *    applied (batchId, checkpoint) pair as a table property right after
    *    each write commits, and [[checkpointGuard]] skips a re-delivery of
    *    an already-recorded batch. The marker carries the checkpoint
    *    IDENTITY — the stream's uuid from the checkpoint's own `metadata`
    *    file, plus the path — because a NEW checkpoint against an existing
    *    table legitimately restarts batch ids at 0 (a deliberate
    *    reprocess) and must not be mistaken for a replay; a checkpoint
    *    RECREATED at the same path (rm-rf-and-rerun) gets a fresh uuid, so
    *    its batches re-apply instead of silently dropping against the
    *    stale marker. An unparseable or externally-corrupted marker reads
    *    as "not applied" — documented at-least-once behavior, never a
    *    crashed stream. Residual window: a crash BETWEEN the write commit
    *    and the property write still replays that one batch — one
    *    catalog-metadata op wide; a parquet catalog has no atomic
    *    data+marker commit to close it, so the sinks are exactly-once up
    *    to that sliver, not transactional. The HLL sink's register-wise
    *    max is idempotent and needs no guard for correctness; the guard
    *    still spares a replayed batch the pointless rewrite.
    *  - Touched-partition prune. The table is PARTITIONED by
    *    `_pb = hash(bucketBy) mod profileBuckets` (every row in `_pb = 0`
    *    when `bucketBy` is empty). The first batch writes the table; each
    *    later batch reads only the `_pb` partitions its rows land in (one
    *    bounded driver read of ≤ profileBuckets ints, none when `bucketBy`
    *    is empty) and rewrites ONLY those by dynamic partition overwrite —
    *    untouched partitions keep their files, so per-batch I/O follows
    *    the touched key population, not the whole profile. Size
    *    `profileBuckets` so one partition's rows fit an executor.
    *  - Release. The merged rows are materialized by `localCheckpoint`,
    *    which breaks the read-then-overwrite cycle on the touched
    *    partitions; once the overwrite commits, [[Chain.releaseCheckpoints]]
    *    frees the blocks (`Dataset.unpersist` does not reach a local
    *    checkpoint's blocks).
    *
    * `reference`, when given, is pinned ONCE at sink start into
    * `<name>_ref` (the drift sinks' accepted profile — rerun the sink to
    * rotate it); batches read it back with `spark.table`, so the
    * `foreachBatch` session never reaches into caller-session plans.
    */
  private def runProfileSink(events: DataFrame, name: String, checkpointDir: String,
                             profileBuckets: Int, bucketBy: Seq[Column],
                             reference: Option[DataFrame] = None)(
                             aggregate: DataFrame => DataFrame,
                             close: DataFrame => DataFrame,
                             merge: (DataFrame, DataFrame) => DataFrame): StreamingQuery = {
    require(profileBuckets > 0, s"profileBuckets must be positive, got $profileBuckets")
    reference.foreach(_.write.mode(SaveMode.Overwrite).format("parquet")
      .saveAsTable(name + "_ref"))
    val pb = if (bucketBy.isEmpty) lit(0) else pmod(hash(bucketBy: _*), lit(profileBuckets))
    drainForeachBatch(events, "append", checkpointDir, Seq(name)) { (batch, batchId) =>
      val spark = batch.sparkSession
      val ident = if (batch.isEmpty) None
                  else checkpointGuard(spark, name, checkpointDir, batchId)
      ident.foreach { ci =>
        val bs = aggregate(batch).withColumn("_pb", pb)
        if (!spark.catalog.tableExists(name)) {
          close(bs).withColumn("_pb", pb)
            .write.partitionBy("_pb").format("parquet").saveAsTable(name)
        } else {
          val touched =
            if (bucketBy.isEmpty) Seq(0)
            else bs.select("_pb").distinct().collect().map(_.getInt(0)).toSeq
          val old = spark.table(name).where(col("_pb").isInCollection(touched))
          val out = merge(bs, old).withColumn("_pb", pb).localCheckpoint()
          try dynamicOverwrite(spark, out, name)
          finally Chain.releaseCheckpoints(out)
        }
        markBatchApplied(spark, name, ci, batchId)
      }
    }
  }

  /** Full-outer merge of a sketch sink's batch rows with its stored rows
    * on `keys :+ "_pb"` (`_pb` is a function of the keys, so this is the
    * key-equality join with the partition column aligned): each named
    * column is renamed apart on both sides and recombined by its function
    * of (new, old).
    */
  private def mergeSketches(bs: DataFrame, old: DataFrame, keys: Seq[String])(
                            combine: (String, (Column, Column) => Column)*): DataFrame = {
    def apart(df: DataFrame, suffix: String) =
      df.withColumnsRenamed(combine.map { case (c, _) => c -> s"$c$suffix" }.toMap)
    apart(bs, "_new").join(apart(old, "_old"), keys :+ "_pb", "full_outer")
      .select((keys.map(col) ++ combine.map { case (c, f) =>
        f(col(s"${c}_new"), col(s"${c}_old")).as(c) }): _*)
  }

  /** Streaming continuous profile via `foreachBatch`: every micro-batch
    * folds its per-key HLL sketches into a persistent profile table — a
    * COUNT DISTINCT over the whole stream history that never rescans
    * history (the sketch-column pattern of [[graft.ops.AggOps
    * .distinctSketches]], made continuous). Estimates read out with
    * `hll_sketch_estimate(_sk)`. The merge is a register-wise
    * `hll_union` (a key new to either side adopts the present sketch), so
    * re-merging the same batch is idempotent and duplicate deliveries
    * never inflate the estimate. Replay guard, `_pb = hash(keys)`
    * touched-partition rewrite and checkpoint release: [[runProfileSink]].
    */
  def sinkDistinctSketchToTable(events: DataFrame, keys: Seq[String], valueCol: String,
                                name: String, checkpointDir: String,
                                lgConfigK: Int = 12,
                                profileBuckets: Int = 16): StreamingQuery = {
    require(keys.nonEmpty, "profile sink needs key columns")
    runProfileSink(events, name, checkpointDir, profileBuckets, keys.map(col))(
      aggregate = _.groupBy(keys.map(col): _*)
        .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("_sk")),
      close = identity,
      merge = mergeSketches(_, _, keys)("_sk" -> ((nw, od) =>
        when(nw.isNull, od).when(od.isNull, nw).otherwise(hll_union(nw, od)))))
  }

  /** Streaming continuous heavy-hitters via `foreachBatch`: every
    * micro-batch folds its per-key frequent-items sketches into a
    * persistent profile table — TOP-K OVER THE WHOLE STREAM HISTORY with
    * O(maxMapSize) state per key, never rescanning history (the
    * sketch-column pattern of [[graft.ops.AggOps.freqSketches]], made
    * continuous; the streaming twin of [[sinkDistinctSketchToTable]]).
    * Read out with `freq_topk(_sk, k)` ([[graft.functions.FreqSketches
    * .topK]]); counts stay EXACT while a key's distinct-value count is
    * under ~0.75×maxMapSize, and carry ±n/maxMapSize with
    * NO_FALSE_NEGATIVES beyond it. The merge is a
    * [[graft.functions.FreqUnion]] (null-coalescing: a key new to either
    * side adopts the present sketch). Unlike the HLL sink's register-wise
    * max it is ADDITIVE, so replay safety comes from the guard of
    * [[runProfileSink]], which also owns the `_pb = hash(keys)`
    * touched-partition rewrite and the checkpoint release.
    */
  def sinkFreqSketchToTable(events: DataFrame, keys: Seq[String], valueCol: String,
                            name: String, checkpointDir: String,
                            maxMapSize: Int = 2048,
                            profileBuckets: Int = 16): StreamingQuery = {
    require(keys.nonEmpty, "profile sink needs key columns")
    runProfileSink(events, name, checkpointDir, profileBuckets, keys.map(col))(
      aggregate = _.groupBy(keys.map(col): _*)
        .agg(graft.functions.FreqSketches
          .sketchAgg(col(valueCol).cast("string"), maxMapSize).as("_sk")),
      close = identity,
      merge = mergeSketches(_, _, keys)("_sk" -> graft.functions.FreqSketches.union _))
  }

  /** drift_by_window(events, reference, value_col, width): per-tumbling-
    * window PSI of `valueCol`'s categorical mix against a REFERENCE
    * corpus's mix — the dataset-shift alarm as a time series ("which
    * hour's event mix deviates from the accepted profile"). One row per
    * (window × value seen on either side): both counts, the eps-floored
    * fixed-point PSI term ([[graft.ops.AggOps.psiTerms]] —
    * partitioning- and engine-independent), and the window's `psi_total`
    * repeated on its rows. Null values are excluded on both sides (count
    * them separately if they matter).
    *
    * Scale: one map-side-combined aggregate per side; the reference
    * profile broadcasts onto the distinct-window spine so every window
    * carries every reference value (a VANISHED category is drift, not an
    * absent row); totals and psi_total stay partitioned by window — no
    * global window, unbounded stream history is fine. Batch face of
    * [[sinkDriftUpsertToTable]].
    */

  // valueCol = "_ts" would silently read the event-time column the op
  // itself derives (withColumn("_ts", ...) overwrites the user's column
  // BEFORE the aggregate evaluates it) — refuse loudly instead, the same
  // contract the key-name guards give
  private def requireValueColNotInternal(op: String, valueCol: String): Unit =
    require(valueCol != "_ts",
      s"$op reserves _ts for the derived event-time column — rename the value column first")

  // every drift face and sink checks its value column and eps floor at the
  // call, before a sink pins its reference or a query plans a division
  private def requireDrift(op: String, valueCol: String, eps: Double): Unit = {
    requireValueColNotInternal(op, valueCol)
    graft.ops.AggOps.requirePsiEps(op, eps)
  }

  def driftByWindow(events: DataFrame, reference: DataFrame, valueCol: String,
                    width: String, eps: Double = 1e-6): DataFrame = {
    requireDrift("drift_by_window", valueCol, eps)
    driftFromCounts(valueCounts(events, valueCol, width), refValueCounts(reference, valueCol), eps)
  }

  /** Per-(tumbling window, key) counts `cnt_other` of the event rows
    * `keep` admits — the events side of every drift face.
    */
  private def windowCounts(events: DataFrame, width: String, keep: Column,
                           key: Column): DataFrame =
    events
      .withColumn("_ts", eventTime(events))
      .where(keep)
      .groupBy(window(col("_ts"), width).getField("start").cast(TimestampNTZType)
        .as("window_start"), key)
      .agg(count(lit(1)).as("cnt_other"))

  private def valueCounts(events: DataFrame, valueCol: String, width: String): DataFrame =
    windowCounts(events, width, col(valueCol).isNotNull,
      col(valueCol).cast("string").as("value"))

  private def refValueCounts(reference: DataFrame, valueCol: String): DataFrame =
    reference.where(col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("string").as("value"))
      .agg(count(lit(1)).as("cnt_base"))

  private def driftFromCounts(wc: DataFrame, refC: DataFrame,
                              eps: Double): DataFrame = {
    // ONE consumer of the corpus-side aggregate: the old
    // distinct-windows × reference grid re-joined wc, and column pruning
    // split the wc subtree into TWO corpus scans (reference-confirmed by
    // the corpus-rescan-spine lint — the calibration/histogram lesson at
    // the window grain). Now each window folds its value counts into a
    // map and explodes the union of the reference domain and its own
    // values — same rows (windows × (ref ∪ window values), zeros
    // padded), single corpus scan
    val wcM = wc.groupBy(col("window_start"))
      .agg(map_from_entries(collect_list(
        struct(col("value"), col("cnt_other")))).as("_mo"))
    val refM = refC.agg(map_from_entries(collect_list(
      struct(col("value"), col("cnt_base")))).as("_mb"))
    val joined = wcM.crossJoin(broadcast(refM))
      .select(col("window_start"),
        explode(array_distinct(concat(map_keys(col("_mb")),
          map_keys(col("_mo"))))).as("value"),
        col("_mo"), col("_mb"))
      .select(col("window_start"), col("value"),
        coalesce(try_element_at(col("_mb"), col("value")), lit(0L)).as("cnt_base"),
        coalesce(try_element_at(col("_mo"), col("value")), lit(0L)).as("cnt_other"))
    graft.ops.AggOps.psiTerms(joined, eps, Seq("window_start"))
      .select("window_start", "value", "cnt_base", "cnt_other",
        "psi_term", "psi_total")
  }

  /** Streaming face of [[driftByWindow]]: per-batch value counts MERGE
    * additively into the per-(window, value) rows of `name` and the PSI
    * columns are recomputed for every window in the touched partitions,
    * so the table always equals the batch face over all data processed
    * so far. The reference profile is pinned ONCE at sink start into
    * `<name>_ref` (drift is measured against an ACCEPTED corpus).
    * Replay guard (the count merge is additive, so the checkpoint alone
    * cannot make it safe), `_pb = hash(window_start)` touched-partition
    * rewrite and checkpoint release: [[runProfileSink]].
    */
  def sinkDriftUpsertToTable(events: DataFrame, reference: DataFrame,
                             valueCol: String, width: String, name: String,
                             checkpointDir: String, eps: Double = 1e-6,
                             profileBuckets: Int = 16): StreamingQuery = {
    requireDrift("sink_drift", valueCol, eps)
    def close(counts: DataFrame) =
      driftFromCounts(counts, counts.sparkSession.table(name + "_ref"), eps)
    runProfileSink(events, name, checkpointDir, profileBuckets, Seq(col("window_start")),
      Some(refValueCounts(reference, valueCol)))(
      aggregate = valueCounts(_, valueCol, width),
      close = close,
      merge = (bs, old) => close(mergeCounts(bs, old, Seq("window_start", "value"))))
  }

  /** Additive merge of a drift sink's batch counts with its stored rows
    * on `keys`: `cnt_other` sums across the full outer join, and the
    * stored zero padding drops (the closing re-derives it — keeping it
    * would be harmless but re-pads idempotently).
    */
  private def mergeCounts(bs: DataFrame, old: DataFrame, keys: Seq[String]): DataFrame =
    bs.select((keys.map(col) :+ col("cnt_other").as("_cnew")): _*)
      .join(old.select((keys.map(col) :+ col("cnt_other").as("_cold")): _*), keys, "full_outer")
      .select((keys.map(col) :+
        (coalesce(col("_cnew"), lit(0L)) + coalesce(col("_cold"), lit(0L))).as("cnt_other")): _*)
      .where(col("cnt_other") > 0)

  /** drift_by_window_numeric(events, reference, value_col, width, lo, hi,
    * buckets): the NUMERIC twin of [[driftByWindow]] — per-tumbling-window
    * PSI of `valueCol`'s distribution over equal-width bins against a
    * REFERENCE corpus, the [[graft.ops.AggOps.psiProfile]] binning regime
    * verbatim: null/NaN/out-of-range rows are EXCLUDED on both sides,
    * x = hi folds into the top bucket, and every window carries the FULL
    * bucket spine (an emptied bucket is drift, not an absent row). One row
    * per (window × bucket) with both counts, the bucket's [lo, hi) bounds,
    * the eps-floored fixed-point PSI term, and the window's `psi_total`
    * repeated on its rows.
    *
    * Scale: one map-side-combined aggregate per side (≤ buckets rows per
    * window out), binned by [[graft.ops.AggOps.equalWidthBin]]; each
    * window pads to the full spine from its own count map and the
    * spine-complete reference profile (buckets rows) attaches by a
    * broadcast bucket join; totals and psi_total stay partitioned by
    * window ([[graft.ops.AggOps.psiTerms]]) — no global window, unbounded
    * stream history is fine. Over events in one window it equals
    * [[graft.ops.AggOps.psiProfile]] with the reference as base. Batch
    * face of [[sinkDriftNumericUpsertToTable]].
    */
  def driftByWindowNumeric(events: DataFrame, reference: DataFrame,
                           valueCol: String, width: String, lo: Double,
                           hi: Double, buckets: Int,
                           eps: Double = 1e-6): DataFrame = {
    requireDrift("drift_by_window_numeric", valueCol, eps)
    require(buckets > 0, s"drift_by_window_numeric needs buckets > 0, got $buckets")
    require(hi > lo, s"drift_by_window_numeric needs hi > lo, got [$lo, $hi]")
    driftFromBucketCounts(
      windowBucketCounts(events, valueCol, width, lo, hi, buckets),
      refBucketCounts(reference, valueCol, lo, hi, buckets),
      lo, hi, buckets, eps)
  }

  /** Spine-complete reference bucket counts: every bucket present, zeros
    * included — pinned verbatim into `<name>_ref` by the sink, so a
    * reference gap reads as an eps-floored share, never a missing row.
    */
  private def refBucketCounts(reference: DataFrame, valueCol: String,
                              lo: Double, hi: Double, buckets: Int): DataFrame = {
    val (in, b) = graft.ops.AggOps.equalWidthBin(valueCol, lo, hi, buckets)
    graft.ops.AggOps.foldPadCounts(
      reference.where(in).groupBy(b.as("bucket")).agg(count(lit(1)).as("cnt_base")),
      Nil, buckets, Seq("cnt_base" -> "cnt_base"))
  }

  private def windowBucketCounts(events: DataFrame, valueCol: String,
                                 width: String, lo: Double, hi: Double,
                                 buckets: Int): DataFrame = {
    val (in, b) = graft.ops.AggOps.equalWidthBin(valueCol, lo, hi, buckets)
    windowCounts(events, width, in, b.as("bucket"))
  }

  /** A (window_start, bucket, cnt_other) window-count aggregate padded to
    * the full 0..buckets-1 spine per window ([[graft.ops.AggOps
    * .foldPadCounts]] — ONE consumer of the corpus-side aggregate, one
    * corpus scan) with the bounded reference counts attached by bucket,
    * zeros padded, so every window carries every bucket.
    */
  private def padWithReference(wc: DataFrame, refC: DataFrame, buckets: Int): DataFrame =
    graft.ops.AggOps.foldPadCounts(wc, Seq("window_start"), buckets,
        Seq("cnt_other" -> "cnt_other"))
      .join(broadcast(refC), Seq("bucket"), "left")
      .select(col("window_start"), col("bucket"),
        coalesce(col("cnt_base"), lit(0L)).as("cnt_base"), col("cnt_other"))

  private def driftFromBucketCounts(wc: DataFrame, refC: DataFrame,
                                    lo: Double, hi: Double, buckets: Int,
                                    eps: Double): DataFrame =
    graft.ops.AggOps.psiTerms(padWithReference(wc, refC, buckets), eps, Seq("window_start"))
      .select((Seq(col("window_start"), col("bucket")) ++
        graft.ops.AggOps.binEdges(lo, hi, buckets) ++
        Seq(col("cnt_base"), col("cnt_other"), col("psi_term"), col("psi_total"))): _*)

  /** drift_by_window_quantile(events, reference, value_col, width,
    * buckets): the EQUAL-FREQUENCY twin of [[driftByWindowNumeric]],
    * completing the windowed drift triple (categorical mix, equal-width
    * numeric, quantile-binned numeric). Equal-width bins go blind when
    * the value is heavy-tailed (one stretched bin swallows all mass);
    * here the bins are the REFERENCE's own quantiles — each holds
    * ~1/buckets of the reference by construction, from ONE mergeable KLL
    * aggregate ([[graft.ops.AggOps.psiQuantileProfile]] regime, no
    * lo/hi clipping: the cutoff bins cover the full domain and only
    * null/NaN rows drop). Per (window × bucket): both counts, the
    * eps-floored fixed-point PSI term, the window's psi_total, and the
    * bin's cutoff bounds (null at the open ends).
    *
    * Scale: the cutoffs are a one-row broadcast; window counts are one
    * map-side-combined aggregate; PSI totals stay partitioned by window
    * (psiTerms) — no global window, unbounded stream history is
    * fine. Cutoffs inside the sketch's exact regime (reference n ≤ k)
    * are literal inclusive-rank order statistics (oracle-replayable);
    * beyond it they carry KLL's published rank-error bounds.
    *
    * The reference is read by psiQuantileProfile's own reference read
    * ([[graft.ops.AggOps.quantileReference]] with no groups): scanned
    * ONCE, its pruned value projection persisted across the cutoff sketch
    * and the bucket counts, both EAGER bounded driver reads at
    * op-construction (≤ buckets−1 cutoffs + ≤ buckets + 1 counts — the
    * searchTfidfIndex declared-read posture), the cache released before
    * the lazy events-side plan is built. Nothing corpus-sized ever
    * reaches the driver, and the returned plan carries the reference
    * only as literals. Over events in one window it equals
    * [[graft.ops.AggOps.psiQuantileProfile]] with the reference as base.
    */
  def driftByWindowQuantile(events: DataFrame, reference: DataFrame,
                            valueCol: String, width: String, buckets: Int,
                            eps: Double = 1e-6, k: Int = 200): DataFrame = {
    requireDrift("drift_by_window_quantile", valueCol, eps)
    require(buckets > 1, s"drift_by_window_quantile needs buckets > 1, got $buckets")
    val (cuts, refCounts) = graft.ops.AggOps.quantileReference("drift_by_window_quantile",
      reference, valueCol, Nil, buckets, k, maxGroups = 1)
    val x = col(valueCol).cast("double")
    val wc = windowCounts(graft.ops.AggOps.joinCutoffs(events, cuts, Nil), width,
      x.isNotNull && !isnan(x),
      graft.ops.AggOps.cutoffBucket(x, buckets).as("bucket"))
    graft.ops.AggOps.withCutoffBounds(
        graft.ops.AggOps.psiTerms(
          padWithReference(wc, refCounts.withColumnRenamed("_cb", "cnt_base"), buckets),
          eps, Seq("window_start")),
        cuts, Nil, buckets)
      .select("window_start", "bucket", "cut_lo", "cut_hi",
        "cnt_base", "cnt_other", "psi_term", "psi_total")
  }

  /** Streaming face of [[driftByWindowNumeric]] — the
    * [[sinkDriftUpsertToTable]] machinery with bucket counts in place of
    * value counts: per-batch (window × bucket) counts MERGE additively
    * into `name` and the PSI columns are recomputed for every window in
    * the touched partitions, so the table always equals the batch face
    * over all data processed so far. The spine-complete reference
    * profile is pinned ONCE at sink start into `<name>_ref`. Replay
    * guard, `_pb = hash(window_start)` touched-partition rewrite and
    * checkpoint release: [[runProfileSink]].
    */
  def sinkDriftNumericUpsertToTable(events: DataFrame, reference: DataFrame,
                                    valueCol: String, width: String,
                                    lo: Double, hi: Double, buckets: Int,
                                    name: String, checkpointDir: String,
                                    eps: Double = 1e-6,
                                    profileBuckets: Int = 16): StreamingQuery = {
    requireDrift("sink_drift_numeric", valueCol, eps)
    require(buckets > 0, s"sink_drift_numeric needs buckets > 0, got $buckets")
    require(hi > lo, s"sink_drift_numeric needs hi > lo, got [$lo, $hi]")
    def close(counts: DataFrame) = driftFromBucketCounts(counts,
      counts.sparkSession.table(name + "_ref"), lo, hi, buckets, eps)
    runProfileSink(events, name, checkpointDir, profileBuckets, Seq(col("window_start")),
      Some(refBucketCounts(reference, valueCol, lo, hi, buckets)))(
      aggregate = windowBucketCounts(_, valueCol, width, lo, hi, buckets),
      close = close,
      merge = (bs, old) => close(mergeCounts(bs, old, Seq("window_start", "bucket"))))
  }

  /** Close per-(group, bucket) calibration accumulators into the stored
    * readout frame: full bucket spine per group (`groups` carries every
    * group ever seen, including all-invalid ones — the batch face's
    * null-ece contract), score_avg/pos_rate, the exact-decimal ece
    * closing of [[graft.ops.AggOps.calibrationProfile]], the raw
    * accumulators retained for the next merge.
    */
  private def closeCalibration(acc: DataFrame, groups: Option[DataFrame],
                               groupBy: Seq[String], buckets: Int): DataFrame = {
    val w = 1.0 / buckets
    val spark = acc.sparkSession
    val spineB = spark.range(buckets).select(col("id").as("bucket"))
    val spine = groups.fold(spineB)(g =>
      g.distinct().crossJoin(broadcast(spineB)))
    // the spine join is NULL-SAFE on the group keys (a null group value
    // groups like any other value — the batch face's map fold keeps its
    // stats, so the sink must too); the acc side is renamed first so the
    // shared lineage (groups derive from the same batch frame) can't
    // trip ambiguous-column resolution
    val keys = groupBy :+ "bucket"
    val accR = acc.select((keys.map(k => col(k).as(s"_r_$k")) ++ Seq(
      col("n").as("_r_n"), col("_ssumd").as("_r_ssumd"),
      col("_pos").as("_r_pos"))): _*)
    val cond = keys.map(k => col(k) <=> col(s"_r_$k")).reduce(_ && _)
    val frame = spine.join(accR, cond, "left")
      .select((groupBy.map(col) ++ (col("bucket") +: graft.ops.AggOps.calibrationStats(
        col("bucket"), col("_r_n"), col("_r_ssumd"), col("_r_pos"), w)) ++ Seq(
        col("_r_ssumd").as("_ssumd"), col("_r_pos").as("_pos"))): _*)
    graft.ops.AggOps.withCalibrationEce(frame, groupBy)
  }

  /** Streaming face of [[graft.ops.AggOps.calibrationProfile]] — the
    * model-monitoring member of the stored-profile family, next to the
    * drift, HLL, frequent-items, and KLL sinks: a classifier's
    * reliability census maintained continuously over the scored stream,
    * so the "is a 0.9 really right 90% of the time" readout is always
    * current without rescanning history. Per batch: ONE bounded
    * aggregate of the batch over (groups, score bucket) — valid rows
    * accumulate (n, exact-decimal Σscore, positives), invalid rows keep
    * a null bucket so group DISCOVERY rides the same pass (the batch
    * face's one-scan posture) — then the accumulators MERGE additively
    * into the stored rows (decimal addition is exact and associative,
    * so the stored accumulators always equal the batch face's over all
    * data processed so far) and score_avg/pos_rate/ece are recomputed
    * for every group in the touched `_pb` buckets, full bucket spine
    * included. The table stores the batch face's visible columns plus
    * the raw accumulators (`_ssumd` DECIMAL(38,8), `_pos`) that make the
    * merge exact — drop them on readout. Convergence to the batch face
    * over all delivered events is spec-gated (Round12Spec), including
    * late-data and all-invalid-group cases.
    *
    * Scale shape: the per-batch aggregate is map-side combined and its
    * output is ≤ groups × (buckets + 1) rows; nothing corpus-sized is
    * ever re-read. Replay guard (the merge is additive), `_pb =
    * hash(groupBy)` touched-partition rewrite and checkpoint release:
    * [[runProfileSink]]. Ungrouped, the whole table is `buckets` rows in
    * the one `_pb = 0` partition, found without a job.
    */
  def sinkCalibrationUpsertToTable(events: DataFrame, scoreCol: String,
                                   labelCol: String, name: String,
                                   checkpointDir: String, buckets: Int = 10,
                                   groupBy: Seq[String] = Nil,
                                   profileBuckets: Int = 16): StreamingQuery = {
    require(buckets > 0, s"sink_calibration needs buckets > 0, got $buckets")
    val reservedCal = Seq("bucket", "bucket_lo", "bucket_hi", "n", "score_avg",
      "pos_rate", "ece", "_ssumd", "_pos", "_pb")
    require(groupBy.intersect(reservedCal).isEmpty,
      s"sink_calibration group columns collide with output names " +
        s"${groupBy.intersect(reservedCal).mkString(", ")} — rename first")
    require(groupBy.forall(g => !g.startsWith("_r_") && !g.startsWith("_o_")),
      s"sink_calibration group columns may not start with the internal " +
        s"rename prefixes _r_/_o_: $groupBy — rename first")
    val s = col(scoreCol).cast("double")
    val l = col(labelCol).cast("double")
    val ok = s.isNotNull && !isnan(s) && s >= lit(0.0) && s <= lit(1.0) &&
      l.isNotNull && !isnan(l)
    val b = least(floor(s * lit(buckets.toDouble)).cast("long"),
      lit((buckets - 1).toLong))
    def groupsOf(bc: DataFrame) =
      if (groupBy.isEmpty) None else Some(bc.select(groupBy.map(col): _*).distinct())
    // NULL-SAFE accumulator merge on (groups, bucket): a null group value
    // must match its stored row, not fork a duplicate; keys coalesce
    // across the full outer (both null for a null group — correct either way)
    val mKeys = groupBy :+ "bucket"
    runProfileSink(events, name, checkpointDir, profileBuckets, groupBy.map(col))(
      // null-bucket rows track groups whose batch rows are ALL invalid
      // (the batch face's group-discovery-in-one-pass shape)
      aggregate = _.groupBy((groupBy.map(col) :+ when(ok, b).as("bucket")): _*)
        .agg(count(when(ok, lit(1))).as("n"),
          Exact.sum8Decimal(when(ok, s)).as("_ssumd"),
          sum(when(ok && l =!= lit(0.0), 1L).otherwise(0L)).as("_pos")),
      close = bc => closeCalibration(bc.where(col("bucket").isNotNull), groupsOf(bc),
        groupBy, buckets),
      merge = { (bc, stored) =>
        val old = stored.select((mKeys.map(k => col(k).as(s"_o_$k")) ++ Seq(
          col("n").as("_n_old"), col("_ssumd").as("_sd_old"),
          col("_pos").as("_p_old"))): _*)
        val mCond = mKeys.map(k => col(k) <=> col(s"_o_$k")).reduce(_ && _)
        val merged = bc.where(col("bucket").isNotNull)
          .select((mKeys.map(col) ++ Seq(
            col("n").as("_n_new"), col("_ssumd").as("_sd_new"),
            col("_pos").as("_p_new"))): _*)
          .join(old, mCond, "full_outer")
          .select((mKeys.map(k => coalesce(col(k), col(s"_o_$k")).as(k)) ++ Seq(
            (coalesce(col("_n_new"), lit(0L)) +
              coalesce(col("_n_old"), lit(0L))).as("n"),
            Exact.add8(col("_sd_new"), col("_sd_old")).as("_ssumd"),
            (coalesce(col("_p_new"), lit(0L)) +
              coalesce(col("_p_old"), lit(0L))).as("_pos"))): _*)
          // drop the stored spine padding (re-derived by the closing —
          // keeping it would be harmless but re-pads idempotently)
          .where(col("n") > 0)
        // group set BEFORE the padding filter: an all-invalid group
        // exists only as padding rows (or a batch null-bucket row) and
        // must stay in the spine
        val groups = groupsOf(bc).map(_.union(
          old.select(groupBy.map(k => col(s"_o_$k").as(k)): _*)))
        closeCalibration(merged, groups, groupBy, buckets)
      })
  }

  // ---- bounded incremental report closing (round-13 verdict ask #6) -------

  /** Deterministic user-bucket for the incremental activity/chain/state
    * tables: hash of (groups, user) mod buckets. Shared by the journaled
    * sinks (the stored activity's partition column) and the closers
    * (partition pruning + chain-table rewrites), so both sides agree on
    * which partitions a user's rows live in.
    */
  private def userBucket(groupBy: Seq[String], userCol: String,
                         buckets: Int): Column =
    pmod(xxhash64((groupBy :+ userCol).map(col): _*), lit(buckets.toLong))

  private[graft] def journalName(activityTable: String): String =
    s"${activityTable}_journal"

  /** Shared touched-partition replace for the `_ub`-partitioned per-user
    * tables (activity upserts AND chain/state merges — one body, so a
    * fix to the prune/anti-join/overwrite logic can't silently miss one
    * of them): keep = touched partitions MINUS `antiSrc`'s keys
    * (null-safe, renamed right side), union `fresh`, dynamic-overwrite
    * ONLY the touched partitions. `buckets` is the caller's one bounded
    * driver read of the touched `_ub` ids.
    */
  private def replaceTouched(spark: SparkSession, table: String,
                             fresh: DataFrame, antiSrc: DataFrame,
                             antiKeys: Seq[String], prefix: String,
                             buckets: Seq[Long]): Unit = {
    if (!spark.catalog.tableExists(table)) {
      fresh.write.partitionBy("_ub").format("parquet").saveAsTable(table)
    } else {
      val keyF = antiSrc
        .select(antiKeys.map(k => antiSrc.col(k).as(s"$prefix$k")): _*).distinct()
      val cond = antiKeys.map(k => col(k) <=> col(s"$prefix$k")).reduce(_ && _)
      val kept = spark.table(table).where(col("_ub").isin(buckets: _*))
        .join(keyF, cond, "left_anti")
      dynamicOverwrite(spark, fresh.unionByName(kept), table)
    }
    spark.catalog.refreshTable(table)
  }

  /** foreachBatch body of the journaled activity sinks: (1) append the
    * batch's distinct (groups, user, _ub) keys to the journal FIRST — a
    * crash between the two writes then re-derives an unchanged user
    * (idempotent) instead of missing a changed one on redelivery; (2)
    * upsert the batch into the `_ub`-partitioned activity table,
    * rewriting ONLY the touched partitions (null-safe anti-join on the
    * full activity keys, dynamic partition overwrite) — per batch the
    * activity I/O is proportional to the touched buckets, never the
    * stored history (the `Chain.saveUpsert` full-table swap this
    * replaces for the incremental posture).
    */
  private def journaledPartitionedUpsert(batch: DataFrame, name: String,
                                         keys: Seq[String],
                                         userKeys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    batch.select((userKeys.map(col) :+ col("_ub")): _*).distinct()
      .write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(journalName(name))
    val buckets = batch.select(col("_ub")).distinct().collect()
      .map(_.getLong(0)).toIndexedSeq
    replaceTouched(spark, name, batch, batch, keys, "_nk_", buckets)
  }

  private def runJournaledSink(df: DataFrame, name: String, keys: Seq[String],
                               userKeys: Seq[String],
                               checkpointDir: String): StreamingQuery = {
    // the internal rename prefixes must stay unambiguous — the same
    // contract requirePsiGroupNames gives the grouped PSI faces
    require(df.columns.forall(n => !n.startsWith("_nk_") && !n.startsWith("_j_")),
      s"journaled activity sinks reserve the _nk_/_j_ rename prefixes: " +
        s"${df.columns.filter(n => n.startsWith("_nk_") || n.startsWith("_j_")).mkString(", ")} — rename first")
    drainForeachBatch(df, "update", checkpointDir, Seq(name, journalName(name))) { (batch, _) =>
      // batch-side distinct (the sinkUpsertToTable dedupeBatch rationale:
      // the upsert only dedupes new keys against STORED rows)
      if (!batch.isEmpty)
        journaledPartitionedUpsert(batch.distinct(), name, keys, userKeys)
    }
  }

  /** The touched-user slice of a stored incremental activity table:
    * partition-PRUNED to the journal's `_ub` buckets (one bounded driver
    * read of ≤ incrementalBuckets ids), then a null-safe LEFT SEMI join
    * to the touched (groups, user) keys — the scan the incremental
    * closers re-derive from never reads an untouched bucket's files
    * (spec-pinned on the scan's partition filters).
    */
  private[graft] def touchedActivitySlice(spark: SparkSession,
                                          activityTable: String,
                                          touched: DataFrame,
                                          userKeys: Seq[String],
                                          buckets: Seq[Long] = Nil): DataFrame = {
    val bs =
      if (buckets.nonEmpty) buckets
      else touched.select(col("_ub")).distinct().collect()
        .map(_.getLong(0)).toIndexedSeq
    val tR = touched
      .select(userKeys.map(k => touched.col(k).as(s"_j_$k")): _*).distinct()
    val cond = userKeys.map(k => col(k) <=> col(s"_j_$k")).reduce(_ && _)
    spark.table(activityTable)
      .where(col("_ub").isin(bs: _*))
      .join(tR, cond, "left_semi")
  }

  /** Bounded incremental funnel close (the round-12 verdict's #6): the
    * pinned streaming funnel composition re-derives the FULL greedy
    * chain from the complete stored activity every report cadence —
    * correct, but a full-history recompute even when one batch touched
    * 0.1% of users. This face keeps convergence and bounds the work:
    * the journaled sink ([[sinkFunnelActivityToTable]] with
    * `incrementalBuckets`) records which (groups, user) keys each batch
    * touched; on close, ONLY those users' chains re-derive — from the
    * partition-pruned touched slice of the activity table — and merge
    * into a persistent `_ub`-partitioned per-user chain table (touched
    * users replaced wholesale, untouched partitions never rewritten).
    * Late data still rewrites exactly the touched users' chains, so the
    * close converges to the batch face (spec-pinned equality under late
    * step-1 arrivals). The journal is consumed and truncated after the
    * merge; a crash between merge and truncate re-derives the same
    * users — idempotent, never wrong. Run closes between sink drains
    * (the AvailableNow cadence), not concurrently with one.
    *
    * Scale: per close, work ∝ touched users' activity (pruned scan +
    * one (groups, _ub, user)-keyed exchange) + a rewrite of the touched
    * chain partitions; the final profile closing is one bounded
    * aggregate over the user-sized chain table — history is never
    * rescanned.
    */
  def funnelCloseIncremental(spark: SparkSession, activityTable: String,
                             chainTable: String, stepCol: String,
                             steps: Seq[String], userCol: String = "user_id",
                             within: Option[String] = None,
                             groupBy: Seq[String] = Nil): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"funnel steps repeat: $steps")
    require(chainTable != activityTable,
      "chainTable must differ from activityTable")
    require(!(groupBy :+ userCol).contains("_ub"),
      "funnel_close_incremental reserves _ub — rename first")
    val jn = journalName(activityTable)
    val userKeys = groupBy :+ userCol
    if (spark.catalog.tableExists(jn) && !spark.table(jn).isEmpty) {
      require(spark.catalog.tableExists(activityTable),
        s"journal $jn exists but activity table $activityTable does not — " +
          "re-run the sink (a crash between the journal append and the " +
          "first activity write left a consumed-nothing journal)")
      val touched = spark.table(jn).distinct().persist()
      try {
        // ONE bounded driver read of the touched bucket ids, shared by
        // the slice prune and the chain-table rewrite
        val buckets = touched.select(col("_ub")).distinct().collect()
          .map(_.getLong(0)).toIndexedSeq
        val slice = touchedActivitySlice(spark, activityTable, touched,
          userKeys, buckets)
        // _ub rides the chain derivation as an extra group key — it is a
        // function of (groups, user), so the window partitioning is
        // unchanged and the output lands in its storage partition
        val chains = funnelTimes(slice, stepCol, steps, userCol, "ts",
          within, groupBy :+ "_ub")
          .withColumnRenamed("_u", userCol)
        replaceTouched(spark, chainTable, chains, touched, userKeys, "_j_", buckets)
        spark.sql(s"TRUNCATE TABLE `$jn`")
      } finally touched.unpersist(false)
    }
    require(spark.catalog.tableExists(chainTable),
      s"nothing to close: journal $jn is empty/missing and chain table " +
        s"$chainTable does not exist — run the journaled sink first")
    closeFunnelProfile(spark.table(chainTable), steps, groupBy)
  }

  /** Latency twin of [[funnelCloseIncremental]]'s profile readout: close
    * time-to-convert quantiles from the STORED per-user chain table the
    * incremental close maintains — no activity rescan, no chain
    * re-derivation, ONE KLL aggregate over the user-sized table (the
    * same closing arithmetic as [[funnelLatency]], shared kernel). Call
    * after [[funnelCloseIncremental]] (which merges the journal into the
    * chains) so both readouts describe the same chain state.
    */
  def funnelLatencyFromChains(spark: SparkSession, chainTable: String,
                              steps: Seq[String], probs: Seq[Double],
                              k: Int = 16384,
                              groupBy: Seq[String] = Nil): DataFrame = {
    require(steps.size >= 2, "funnel_latency needs at least two steps")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"funnel_latency probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size, s"funnel_latency probs repeat: $probs")
    val reserved = Seq("step", "step_value", "prob", "seconds", "n", "_q") ++
      steps.indices.flatMap(i => Seq(s"_sk$i", s"_n$i"))
    require(groupBy.intersect(reserved).isEmpty,
      s"funnel_latency group columns collide with output names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    require(spark.catalog.tableExists(chainTable),
      s"chain table $chainTable does not exist — run funnelCloseIncremental first")
    closeFunnelLatency(spark.table(chainTable), steps, probs, k, groupBy)
  }

  /** Bounded incremental cohort close, sibling of
    * [[funnelCloseIncremental]]: per-user state = first active day
    * `_cd` plus the DISTINCT period indexes anchored at it (`_ps`,
    * bounded by the user's active days), re-derived ONLY for journaled
    * touched users from the partition-pruned activity slice and merged
    * into the `_ub`-partitioned state table; the grid then closes from
    * the user-sized state table with EXACTLY the batch arithmetic
    * (shared [[closeCohortGrid]]). A late first-day event moves the
    * user's cohort — that user is in the journal, so their whole state
    * row is replaced and the close converges to [[cohortRetention]]
    * (spec-pinned).
    */
  def cohortCloseIncremental(spark: SparkSession, activityTable: String,
                             stateTable: String, userCol: String = "user_id",
                             periodDays: Int = 1,
                             groupBy: Seq[String] = Nil): DataFrame = {
    require(periodDays > 0, s"cohort needs periodDays > 0, got $periodDays")
    require(stateTable != activityTable,
      "stateTable must differ from activityTable")
    val reserved = Seq("cohort_day", "period", "n_active", "n_cohort",
      "retention", "_cd", "_ps", "_days", "_ub")
    require((groupBy :+ userCol).intersect(reserved).isEmpty,
      s"cohort_close_incremental columns collide with output/internal " +
        s"names ${(groupBy :+ userCol).intersect(reserved).mkString(", ")} — rename first")
    val jn = journalName(activityTable)
    val userKeys = groupBy :+ userCol
    if (spark.catalog.tableExists(jn) && !spark.table(jn).isEmpty) {
      require(spark.catalog.tableExists(activityTable),
        s"journal $jn exists but activity table $activityTable does not")
      val touched = spark.table(jn).distinct().persist()
      try {
        val buckets = touched.select(col("_ub")).distinct().collect()
          .map(_.getLong(0)).toIndexedSeq
        val slice = touchedActivitySlice(spark, activityTable, touched,
          userKeys, buckets)
        val gk = (groupBy ++ Seq("_ub", userCol)).map(col)
        val fresh = slice.groupBy(gk: _*)
          .agg(min(col("d")).as("_cd"), collect_set(col("d")).as("_days"))
          .select((groupBy.map(col) ++ Seq(col("_ub"), col(userCol), col("_cd"),
            sort_array(array_distinct(transform(col("_days"), dd =>
              floor(datediff(dd, col("_cd")) / lit(periodDays)).cast("int"))))
              .as("_ps"))): _*)
        replaceTouched(spark, stateTable, fresh, touched, userKeys, "_j_", buckets)
        spark.sql(s"TRUNCATE TABLE `$jn`")
      } finally touched.unpersist(false)
    }
    require(spark.catalog.tableExists(stateTable),
      s"nothing to close: journal $jn is empty/missing and state table " +
        s"$stateTable does not exist — run the journaled sink first")
    val cells = spark.table(stateTable)
      .select((groupBy.map(col) ++ Seq(col("_cd").as("cohort_day"),
        explode(col("_ps")).as("period"))): _*)
      .groupBy((groupBy.map(col) ++ Seq(col("cohort_day"), col("period"))): _*)
      .agg(count(lit(1)).as("n_active"))
    closeCohortGrid(cells, groupBy)
  }

  /** The streaming funnel composition as a first-class API (the posture
    * [[funnelProfile]]'s docstring pins, so nobody invents a wrong
    * incremental one): drain the stream into a deduplicated
    * (groups, user, step, ts) activity table via the idempotent
    * key-upsert sink, then close with `funnelProfile(spark.table(name),
    * stepCol, steps, tsCol = "ts", groupBy = groups)` on report cadence.
    * Events outside the step set are filtered BEFORE the upsert (the
    * predicate pushes into the stream), so the stored activity is
    * bounded by the deduplicated step events — far smaller than the raw
    * stream when events repeat. The closer must RE-DERIVE the greedy
    * chain from the complete stored activity: a late step-1 event moves
    * t_1 earlier and can invalidate or create later completions
    * (Round12Spec pins the late-data convergence), which is exactly why
    * no incremental chain state is stored. Re-deliveries overwrite
    * themselves (key-upsert), so this sink needs no batch-replay guard.
    */
  def sinkFunnelActivityToTable(events: DataFrame, stepCol: String,
                                steps: Seq[String], name: String,
                                checkpointDir: String,
                                userCol: String = "user_id",
                                tsCol: String = "ts",
                                groupBy: Seq[String] = Nil,
                                incrementalBuckets: Option[Int] = None): StreamingQuery = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"funnel steps repeat: $steps")
    val keyCols = groupBy ++ Seq(userCol, stepCol)
    require(keyCols.distinct.size == keyCols.size && !keyCols.contains("ts"),
      s"sink_funnel_activity key columns must be distinct and none may be " +
        s"named 'ts' (the stored event-time column): $keyCols — rename first")
    // dedupeBatch = true (and the journaled path's batch.distinct()):
    // the key-upsert only dedupes new keys against STORED rows — without
    // the batch-side distinct a user repeating a step 500 times in one
    // micro-batch stores 500 identical rows and the activity table grows
    // to raw-stream size
    val acts = events.where(col(stepCol).isInCollection(steps))
      .select((groupBy.map(col) ++ Seq(col(userCol), col(stepCol),
        eventTime(events, tsCol).as("ts"))): _*)
    incrementalBuckets match {
      case None =>
        sinkUpsertToTable(acts, name, groupBy ++ Seq(userCol, stepCol, "ts"),
          checkpointDir, dedupeBatch = true)
      case Some(b) =>
        require(b > 0, s"incrementalBuckets must be > 0, got $b")
        require(!keyCols.contains("_ub"),
          "sink_funnel_activity reserves _ub for the storage bucket — rename first")
        runJournaledSink(
          acts.withColumn("_ub", userBucket(groupBy, userCol, b)),
          name, groupBy ++ Seq(userCol, stepCol, "ts"), groupBy :+ userCol,
          checkpointDir)
    }
  }

  /** The streaming cohort composition as a first-class API (the
    * [[cohortRetention]] docstring's posture, sibling of
    * [[sinkFunnelActivityToTable]]): drain the stream into a
    * deduplicated (groups, user, day) activity table — one row per
    * active user-day, far smaller than the event stream — and close
    * with `cohortRetention(spark.table(name), userCol, "d", periodDays,
    * groupBy)` on report cadence. Late data converges exactly because
    * the closer re-derives cohorts from the COMPLETE stored activity
    * (a late first-day event moves the user's cohort); re-deliveries
    * overwrite themselves (key-upsert), so no batch-replay guard is
    * needed.
    */
  def sinkCohortActivityToTable(events: DataFrame, name: String,
                                checkpointDir: String,
                                userCol: String = "user_id",
                                tsCol: String = "ts",
                                groupBy: Seq[String] = Nil,
                                incrementalBuckets: Option[Int] = None): StreamingQuery = {
    val keyCols = groupBy :+ userCol
    require(keyCols.distinct.size == keyCols.size && !keyCols.contains("d"),
      s"sink_cohort_activity key columns must be distinct and none may be " +
        s"named 'd' (the stored activity-day column): $keyCols — rename first")
    // dedupeBatch = true: batch-side distinct (the key-upsert only
    // dedupes against stored rows) — one row per active user-day
    val acts = events.select((groupBy.map(col) ++ Seq(col(userCol),
      to_date(eventTime(events, tsCol)).as("d"))): _*)
    incrementalBuckets match {
      case None =>
        sinkUpsertToTable(acts, name, groupBy ++ Seq(userCol, "d"),
          checkpointDir, dedupeBatch = true)
      case Some(b) =>
        require(b > 0, s"incrementalBuckets must be > 0, got $b")
        require(!keyCols.contains("_ub"),
          "sink_cohort_activity reserves _ub for the storage bucket — rename first")
        runJournaledSink(
          acts.withColumn("_ub", userBucket(groupBy, userCol, b)),
          name, groupBy ++ Seq(userCol, "d"), groupBy :+ userCol,
          checkpointDir)
    }
  }

  /** Streaming face of [[graft.ops.AggOps.agreementProfile]] — the
    * inter-annotator-agreement member of the model-monitoring sink
    * family, next to drift and calibration: Cohen's-kappa label QC
    * maintained continuously over a double-scored stream (model vs.
    * model, model vs. human audit), so the "are the two raters still
    * agreeing" readout is always current without rescanning history.
    *
    * Per batch: ONE melted aggregate of the batch's valid rows builds
    * the (groups, label, n_a, n_b, n_agree) class frame (the shared
    * [[graft.ops.AggOps.agreementClassFrame]] kernel — all plain
    * additive longs), the counts MERGE additively into the stored rows
    * (so the stored class frame always equals the batch face's over all
    * delivered rows — convergence spec-pinned in Round12Spec), and
    * n/po/pe/kappa recompute for every group in the touched `_pb`
    * buckets via the shared [[graft.ops.AggOps.agreementClose]] closing.
    * The table stores the batch face's full output (the count columns
    * ARE the accumulators — no hidden state columns needed). Rows with
    * a null on either side are excluded, exactly like the batch face.
    *
    * Scale shape: the per-batch aggregate is map-side combined and its
    * output is ≤ groups × labels rows; nothing corpus-sized is ever
    * re-read. Replay guard (the merge is additive), `_pb = hash(groupBy)`
    * touched-partition rewrite (ungrouped: the one `_pb = 0` partition,
    * found without a job) and checkpoint release: [[runProfileSink]].
    */
  def sinkAgreementUpsertToTable(events: DataFrame, colA: String, colB: String,
                                 name: String, checkpointDir: String,
                                 groupBy: Seq[String] = Nil,
                                 profileBuckets: Int = 16): StreamingQuery = {
    require(colA != colB, "sink_agreement needs two distinct columns")
    val reservedAg = Seq("label", "n_a", "n_b", "n_agree", "po", "pe",
      "kappa", "n", "_pb") ++
      Seq("n_a", "n_b", "n_agree").flatMap(cn => Seq(s"${cn}_old", s"${cn}_new"))
    require(groupBy.intersect(reservedAg).isEmpty,
      s"sink_agreement group columns collide with output names " +
        s"${groupBy.intersect(reservedAg).mkString(", ")} — rename first")
    require(groupBy.forall(g => !g.startsWith("_t_") && !g.startsWith("_s_") &&
      !g.startsWith("_o_")),
      s"sink_agreement group columns may not start with the internal " +
        s"rename prefixes _t_/_s_/_o_: $groupBy — rename first")
    val accCols = Seq("n_a", "n_b", "n_agree")
    // NULL-SAFE accumulator merge on (groups, label): a null group value
    // must match its stored row, not fork duplicates
    val keys = groupBy :+ "label"
    runProfileSink(events, name, checkpointDir, profileBuckets, groupBy.map(col))(
      aggregate = graft.ops.AggOps.agreementClassFrame(_, colA, colB, groupBy),
      close = graft.ops.AggOps.agreementClose(_, groupBy),
      merge = { (bc, stored) =>
        val old = stored.select((keys.map(k => col(k).as(s"_o_$k")) ++
          accCols.map(cn => col(cn).as(s"${cn}_old"))): _*)
        val mCond = keys.map(k => col(k) <=> col(s"_o_$k")).reduce(_ && _)
        graft.ops.AggOps.agreementClose(bc
          .select((keys.map(col) ++ accCols.map(cn => col(cn).as(s"${cn}_new"))): _*)
          .join(old, mCond, "full_outer")
          .select((keys.map(k => coalesce(col(k), col(s"_o_$k")).as(k)) ++
            accCols.map(cn =>
              (coalesce(col(s"${cn}_new"), lit(0L)) +
                coalesce(col(s"${cn}_old"), lit(0L))).as(cn))): _*), groupBy)
      })
  }

  /** quantiles_by_window(events, value_col, width, probs, keys, slide):
    * per-tumbling-window (hopping, with `slide` < width — each event
    * then lands in width/slide cells) quantile profile of a numeric column — the latency/
    * size/score distribution as a time series ("what was p95 event value
    * each hour"), the quantile member of the windowed-census family next
    * to [[tumblingAgg]] (moments) and [[driftByWindowNumeric]] (shape
    * drift). LONG form: one row per (window × key × prob) with the KLL
    * inclusive-rank quantile `value` and the window's valid-value count
    * `n` (null/NaN excluded; all-invalid cells are dropped, not emitted
    * as null rows). Inside the sketch's exact (no-compaction, n ≤ k)
    * regime the readout is the literal inclusive-rank order statistic —
    * smallest x whose 1-based rank ≥ p·n — and engine-replayable; past
    * it, estimates carry KLL's published rank-error bounds (gate with
    * rank bands, never hashes — the [[graft.ops.AggOps.quantileProfileSketch]]
    * posture).
    *
    * Scale: ONE map-side-combined KLL aggregate per (window, keys) —
    * bounded sketch state per cell, no per-window sort, no global window;
    * the readout is eval-only over the post-aggregation frame (one row
    * per cell). Batch face of [[sinkQuantileSketchToTable]]: the same
    * sketches, built incrementally and stored, answer the same readout.
    */
  def quantilesByWindow(events: DataFrame, valueCol: String, width: String,
                        probs: Seq[Double], keys: Seq[String] = Nil,
                        k: Int = 200, slide: Option[String] = None): DataFrame = {
    requireValueColNotInternal("quantiles_by_window", valueCol)
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"quantiles_by_window probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size, s"quantiles_by_window probs repeat: $probs")
    val reservedQw = Seq("window_start", "prob", "value", "n", "_ts", "_sk", "_q")
    require(keys.intersect(reservedQw).isEmpty,
      s"quantiles_by_window key columns collide with output names " +
        s"${keys.intersect(reservedQw).mkString(", ")} — rename first")
    val xr = { val x = col(valueCol).cast("double"); when(!isnan(x), x) }
    // slide < width = hopping windows (each event lands in width/slide
    // cells — the duplication IS the semantics); default = tumbling
    val g = events
      .withColumn("_ts", eventTime(events))
      .groupBy((window(col("_ts"), width, slide.getOrElse(width))
        .getField("start").cast(TimestampNTZType)
        .as("window_start") +: keys.map(col)): _*)
      .agg(graft.functions.KllSketches.sketchAgg(xr, k).as("_sk"),
        count(xr).as("n"))
    // readout BEFORE the explode, once per (cell × prob) over the
    // aggregated frame — the eval-only kernel never sees raw rows
    val qRows = probs.map(p => struct(lit(p).as("prob"),
      graft.functions.KllSketches.quantile(col("_sk"), p).as("value")))
    val head = col("window_start") +: keys.map(col)
    g.select((head ++ Seq(explode(array(qRows: _*)).as("_q"), col("n"))): _*)
      .select((head ++ Seq(col("_q.prob"), col("_q.value"), col("n"))): _*)
      .where(col("n") > 0)
  }

  /** Streaming quantile-profile sink: maintain one mergeable KLL sketch
    * per key in a persistent table, fed incrementally — completes the
    * stored-sketch trio next to [[sinkDistinctSketchToTable]] (HLL
    * distinct) and [[sinkFreqSketchToTable]] (heavy hitters). Each
    * micro-batch builds per-key sketches with ONE aggregate, then merges
    * them into the stored rows via the scalar `kll_union` kernel — raw
    * values are never re-scanned, so a key's history can be 100 TB while
    * its stored state stays a few KB. Readout (e.g. p50/p95 per key) is
    * a projection over the bounded profile table with
    * [[graft.functions.KllSketches.quantile]]. Inside the exact regime
    * (cumulative n per key ≤ k) readouts equal the order statistics of
    * everything ever ingested, independent of batch slicing
    * (replay-convergence is spec-gated on READOUTS — sketch bytes may
    * differ across slicings even when exact). `kll_union`
    * null-coalesces, so a key new to either side adopts the present
    * sketch unchanged. A KLL merge is ADDITIVE (re-merging a delivered
    * batch inflates n), so replay safety comes from the guard of
    * [[runProfileSink]], which also owns the `_pb = hash(keys)`
    * touched-partition rewrite and the checkpoint release. Unbounded
    * stream history, bounded per-batch I/O.
    */
  def sinkQuantileSketchToTable(events: DataFrame, keys: Seq[String], valueCol: String,
                                name: String, checkpointDir: String,
                                k: Int = 200,
                                profileBuckets: Int = 16): StreamingQuery = {
    require(keys.nonEmpty, "profile sink needs key columns")
    val xr = { val x = col(valueCol).cast("double"); when(!isnan(x), x) }
    runProfileSink(events, name, checkpointDir, profileBuckets, keys.map(col))(
      aggregate = _.groupBy(keys.map(col): _*)
        .agg(graft.functions.KllSketches.sketchAgg(xr, k).as("_sk"), count(xr).as("_n")),
      close = identity,
      merge = mergeSketches(_, _, keys)(
        "_sk" -> graft.functions.KllSketches.union _,
        "_n" -> ((nw, od) => coalesce(nw, lit(0L)) + coalesce(od, lit(0L)))))
  }

  /** heavy_hitters_by_window(events, value_col, width, k): per-tumbling-
    * window top-k heavy hitters of a column — "which users/pages/errors
    * dominated each hour", the frequent-items member of the windowed-
    * census family next to [[quantilesByWindow]] (percentiles) and
    * [[driftByWindow]] (mix shift). One mergeable Misra-Gries sketch per
    * window, top-k read out deterministically (estimate DESC, item ASC)
    * with a dense 1-based rank. Null values are excluded. Inside the
    * exact regime (distinct values per window < ~0.75·maxMapSize) counts
    * are exact and oracle-replayable; beyond it the sketch keeps the
    * published NO_FALSE_NEGATIVES contract with [lb, ub] bounds — gate
    * those with the contract, never with point estimates.
    *
    * Scale: ONE map-side-combined sketch aggregate per window (bounded
    * state per cell, no per-window sort of raw rows); the top-k readout
    * is eval-only over the post-aggregation frame. The full-domain
    * (window × value) count shuffle of a naive census never happens.
    */
  def heavyHittersByWindow(events: DataFrame, valueCol: String, width: String,
                           k: Int, keys: Seq[String] = Nil,
                           maxMapSize: Int = 2048,
                           slide: Option[String] = None): DataFrame = {
    requireValueColNotInternal("heavy_hitters_by_window", valueCol)
    require(k > 0, s"heavy_hitters_by_window needs k > 0, got $k")
    val reservedHh = Seq("window_start", "item", "cnt", "rank", "_ts", "_sk", "_i", "_h")
    require(keys.intersect(reservedHh).isEmpty,
      s"heavy_hitters_by_window key columns collide with output/internal names " +
        s"${keys.intersect(reservedHh).mkString(", ")} — rename first")
    val head = window(col("_ts"), width, slide.getOrElse(width))
      .getField("start").cast(TimestampNTZType)
      .as("window_start") +: keys.map(col)
    val g = events
      .withColumn("_ts", eventTime(events))
      .groupBy(head: _*)
      .agg(graft.functions.FreqSketches
        .sketchAgg(col(valueCol).cast("string"), maxMapSize).as("_sk"))
      .where(col("_sk").isNotNull)
    val out = col("window_start") +: keys.map(col)
    g.select((out :+
        posexplode(graft.functions.FreqSketches.topK(col("_sk"), k)).as(Seq("_i", "_h"))): _*)
      .select((out ++ Seq(col("_h.item").as("item"),
        col("_h.est").as("cnt"), (col("_i") + 1).as("rank"))): _*)
  }

  /** distinct_by_window(events, value_col, width, keys, slide): per-
    * tumbling-window (hopping with `slide` < width) distinct count —
    * "how many unique users/pages each hour",
    * completing the windowed census family (counts/sums = [[tumblingAgg]],
    * percentiles = [[quantilesByWindow]], heavy hitters =
    * [[heavyHittersByWindow]], shape drift = [[driftByWindow]]). One
    * mergeable HLL sketch per (window, keys) cell via Spark's native
    * `hll_sketch_agg` (nulls skipped; `n` counts the non-null values).
    * Inside the DataSketches coupon (exact) regime — distinct values per
    * cell below the sparse-mode promotion bound, several hundred at
    * lgConfigK = 12 — the estimate IS the exact distinct count and the
    * oracle replays COUNT(DISTINCT); beyond it, the published ~1.6%/√2^lgK
    * error bounds apply (gate with tolerances, never hashes). Batch face
    * of [[sinkDistinctSketchToTable]]: the same sketches, stored and
    * merged incrementally, answer the same readout.
    *
    * Scale: ONE map-side-combined sketch aggregate — bounded state per
    * cell, no distinct-shuffle of raw values, no window function.
    */
  def distinctByWindow(events: DataFrame, valueCol: String, width: String,
                       keys: Seq[String] = Nil, lgConfigK: Int = 12,
                       slide: Option[String] = None): DataFrame = {
    requireValueColNotInternal("distinct_by_window", valueCol)
    val reservedDw = Seq("window_start", "n_distinct", "n", "_ts")
    require(keys.intersect(reservedDw).isEmpty,
      s"distinct_by_window key columns collide with output/internal names " +
        s"${keys.intersect(reservedDw).mkString(", ")} — rename first")
    events
      .withColumn("_ts", eventTime(events))
      .groupBy((window(col("_ts"), width, slide.getOrElse(width))
        .getField("start").cast(TimestampNTZType)
        .as("window_start") +: keys.map(col)): _*)
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(valueCol), lit(lgConfigK))).as("n_distinct"),
        count(col(valueCol)).as("n"))
  }

  /** funnel_profile(events, step_col, steps, user_col): ordered-step
    * conversion census — how many users completed steps 1..k IN ORDER,
    * for every prefix of `steps` (the signup→activate→convert readout).
    * Sequential greedy semantics, not marginal-min: a user reaches step k
    * at t_k = the EARLIEST step-k event strictly after their t_{k−1}, so
    * out-of-order occurrences (B before the first A) don't count and
    * re-occurrences after A do — the semantics a per-user sorted scan
    * would produce, expressed as k−1 user-keyed joins instead. One row
    * per step: 1-based index, step value, users reaching it, and the
    * conversion rate vs. step 1 (one exact BIGINT÷BIGINT double division;
    * null when nobody entered the funnel — never a zero divide).
    *
    * Scale: ONE scan (filtered to the step set — predicate pushed) and
    * ONE user-keyed exchange; the greedy chain is k window-min passes
    * over that same partitioning (each t_k is a per-user constant, so
    * t_{k+1} = min ts where step matches and ts > t_k is again a plain
    * window min — no per-user sort order needed, no event-list
    * collection, no join per step), then a per-user collapse that REUSES
    * the partitioning and one bounded closing aggregate. Step count is
    * code, not data. With `groupBy` segments (per-campaign, per-platform
    * conversion) every stage keys by (segments, user) instead — still
    * one scan, one exchange; the closing aggregate is segment-sized.
    *
    * Streaming: this closer COMPOSES with [[sinkUpsertToTable]], exactly
    * like [[cohortRetention]] — [[sinkFunnelActivityToTable]] is the
    * composition as a first-class API: drain the stream into a
    * deduplicated (user, step, ts) activity table (idempotent:
    * re-deliveries overwrite themselves) and run `funnelProfile` over the
    * stored table on report cadence. The greedy chain is NOT incremental —
    * a late step-1 event can move t_1 earlier and invalidate a previously
    * counted step-2 — so the closer must RE-DERIVE the chain from the
    * complete stored activity, never merge per-batch chains
    * (spec-pinned in Round12Spec: late-data convergence to this batch
    * face). The activity table is one row per distinct (user, step, ts) —
    * bounded by the deduplicated step events, far smaller than the raw
    * stream when events repeat.
    */
  /** The shared funnel chain: one scan + one (segments, user)-keyed
    * exchange, k window-min passes, one row per step-1-reaching
    * (segments, user) with the greedy completion times `_t0`.. `_t{k-1}`
    * (null where the chain stopped).
    */
  private def funnelTimes(events: DataFrame, stepCol: String, steps: Seq[String],
                          userCol: String, tsCol: String,
                          within: Option[String],
                          groupBy: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"funnel steps repeat: $steps")
    val funnelInternal = Seq("_u", "_s", "_ts") ++ steps.indices.map(i => s"_t$i")
    require(groupBy.intersect(funnelInternal).isEmpty,
      s"funnel group columns collide with internal names " +
        s"${groupBy.intersect(funnelInternal).mkString(", ")} — rename first")
    val userW = org.apache.spark.sql.expressions.Window
      .partitionBy((groupBy :+ "_u").map(col): _*)
    // optional conversion window: step k only counts if it lands within
    // `within` of the user's step-1 time ("converted within 7 days") —
    // the deadline is a per-user constant (t1 + interval), so it rides
    // the same chained window mins unchanged
    val deadline = within.map(w => expr(s"_t0 + INTERVAL $w"))
    var chained = events
      .where(col(stepCol).isInCollection(steps))
      .select((groupBy.map(col) ++ Seq(col(userCol).as("_u"),
        col(stepCol).as("_s"), eventTime(events, tsCol).as("_ts"))): _*)
    for ((st, i) <- steps.zipWithIndex) {
      val hit =
        if (i == 0) when(col("_s") === steps.head, col("_ts"))
        else {
          val inChain = col("_s") === st && col("_ts") > col(s"_t${i - 1}")
          when(deadline.fold(inChain)(dl => inChain && col("_ts") <= dl), col("_ts"))
        }
      chained = chained.withColumn(s"_t$i", min(hit).over(userW))
    }
    chained
      .groupBy((groupBy :+ "_u").map(col): _*)
      .agg(max(col("_t0")).as("_t0"),
        steps.indices.tail.map(i => max(col(s"_t$i")).as(s"_t$i")): _*)
  }

  def funnelProfile(events: DataFrame, stepCol: String, steps: Seq[String],
                    userCol: String = "user_id", tsCol: String = "ts",
                    within: Option[String] = None,
                    groupBy: Seq[String] = Nil): DataFrame = {
    val reserved = Seq("step", "step_value", "n_users", "conv_rate") ++
      ("_n0" +: steps.indices.map(i => s"_n$i")) :+ "_r"
    require(groupBy.intersect(reserved).isEmpty,
      s"funnel_profile group columns collide with output names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    val perUser = funnelTimes(events, stepCol, steps, userCol, tsCol, within, groupBy)
    closeFunnelProfile(perUser, steps, groupBy)
  }

  /** Close a per-user chain frame (groups…, `_t0`..`_t{k-1}`) into the
    * funnel_profile output — shared by [[funnelProfile]] (fresh chains)
    * and [[funnelCloseIncremental]] (the stored chain table), so the
    * incremental face closes with EXACTLY the batch arithmetic.
    */
  private def closeFunnelProfile(perUser: DataFrame, steps: Seq[String],
                                 groupBy: Seq[String]): DataFrame = {
    val cAggs = count(col("_t0")).as("_n0") +:
      steps.indices.tail.map(i => count(col(s"_t$i")).as(s"_n$i"))
    val counts =
      if (groupBy.isEmpty) perUser.agg(cAggs.head, cAggs.tail: _*)
      else perUser.groupBy(groupBy.map(col): _*).agg(cAggs.head, cAggs.tail: _*)
    val rows = steps.zipWithIndex.map { case (st, i) =>
      struct(lit(i + 1).as("step"), lit(st).as("step_value"),
        col(s"_n$i").as("n_users"))
    }
    counts.select((groupBy.map(col) :+ explode(array(rows: _*)).as("_r") :+
        col("_n0")): _*)
      .select((groupBy.map(col) ++ Seq(
        col("_r.step").as("step"), col("_r.step_value").as("step_value"),
        col("_r.n_users").as("n_users"),
        when(col("_n0") === 0L, lit(null).cast("double"))
          .otherwise(col("_r.n_users").cast("double") / col("_n0").cast("double"))
          .as("conv_rate"))): _*)
  }

  /** funnel_latency(events, step_col, steps, probs): time-to-convert
    * census — for each step k ≥ 2, the quantiles of (t_k − t_1) in
    * seconds over the users who completed it under the same sequential
    * greedy semantics (and optional `within` deadline) as
    * [[funnelProfile]] — "median and p95 time from signup to purchase",
    * the standard companion readout to the conversion counts. LONG form:
    * (step, step_value, prob, seconds, n); steps nobody completed are
    * dropped, not emitted as null rows.
    *
    * Scale: the shared one-scan/one-exchange funnel chain, then ONE
    * ungrouped KLL sketch aggregate over the per-user frame (bounded
    * state; no sort of users by latency) with eval-only readouts. Inside
    * the exact regime (completing users ≤ k) the readouts are literal
    * inclusive-rank order statistics and engine-replayable; beyond it,
    * KLL's published rank-error bounds apply (rank-band gate, never
    * hashes).
    */
  def funnelLatency(events: DataFrame, stepCol: String, steps: Seq[String],
                    probs: Seq[Double], userCol: String = "user_id",
                    tsCol: String = "ts", within: Option[String] = None,
                    k: Int = 16384, groupBy: Seq[String] = Nil): DataFrame = {
    require(steps.size >= 2, "funnel_latency needs at least two steps")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"funnel_latency probs must be in [0, 1], got $probs")
    require(probs.distinct.size == probs.size, s"funnel_latency probs repeat: $probs")
    val reserved = Seq("step", "step_value", "prob", "seconds", "n", "_q") ++
      steps.indices.flatMap(i => Seq(s"_sk$i", s"_n$i"))
    require(groupBy.intersect(reserved).isEmpty,
      s"funnel_latency group columns collide with output names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    val perUser = funnelTimes(events, stepCol, steps, userCol, tsCol, within, groupBy)
    closeFunnelLatency(perUser, steps, probs, k, groupBy)
  }

  /** Close a per-user chain frame into the funnel_latency output —
    * shared by [[funnelLatency]] (fresh chains) and
    * [[funnelLatencyFromChains]] (the stored chain table
    * [[funnelCloseIncremental]] maintains), so both faces read the same
    * KLL arithmetic.
    */
  private def closeFunnelLatency(perUser: DataFrame, steps: Seq[String],
                                 probs: Seq[Double], k: Int,
                                 groupBy: Seq[String]): DataFrame = {
    val aggs = steps.indices.tail.flatMap { i =>
      // MICROSECOND granularity, then one double division: engines
      // disagree at coarser units (Spark's timestampdiff truncates
      // elapsed time, DuckDB's date_diff counts boundary crossings —
      // off by one when fractional seconds straddle a boundary); at the
      // timestamps' native resolution both are the exact elapsed count
      val lat = expr(s"timestampdiff(MICROSECOND, _t0, _t$i)").cast("double") / lit(1e6)
      Seq(graft.functions.KllSketches.sketchAgg(lat, k).as(s"_sk$i"),
        count(col(s"_t$i")).as(s"_n$i"))
    }
    val g =
      if (groupBy.isEmpty) perUser.agg(aggs.head, aggs.tail: _*)
      else perUser.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // readout BEFORE the explode, once per (group × step × prob) over the
    // one-row-per-group aggregated frame — the eval-only kernel never
    // sees per-user rows
    val qRows = for (i <- steps.indices.tail; p <- probs) yield
      struct(lit(i + 1).as("step"), lit(steps(i)).as("step_value"),
        lit(p).as("prob"),
        graft.functions.KllSketches.quantile(col(s"_sk$i"), p).as("seconds"),
        col(s"_n$i").as("n"))
    g.select((groupBy.map(col) :+ explode(array(qRows: _*)).as("_q")): _*)
      .select((groupBy.map(col) ++ Seq(
        col("_q.step").as("step"), col("_q.step_value").as("step_value"),
        col("_q.prob").as("prob"), col("_q.seconds").as("seconds"),
        col("_q.n").as("n"))): _*)
      .where(col("n") > 0)
  }

  /** cohort_retention(events, user_col): the classic day-cohort retention
    * grid — users are cohorted by their FIRST active day, and each
    * (cohort_day, period) cell counts how many of them were active
    * `period` days later, with the retention share against the cohort's
    * size. Day 0 is the cohort itself (retention 1.0 by construction —
    * every user is active on their first day, so the denominator can
    * never be zero). "Active" = any event that day; activity is
    * de-duplicated to (user, day) before counting, so event volume
    * doesn't inflate retention.
    *
    * Scale: one distinct over (user, day) — the only corpus-sized
    * exchange, keyed by user so the min-day aggregate REUSES the same
    * partitioning — then everything downstream is the bounded
    * (cohorts × periods) grid: a count aggregate, a self-join on the
    * period-0 slice, one exact double division. No window, nothing
    * driver-side. With `groupBy` segments (per-platform retention) every
    * stage keys by (segments, user) instead — a user is cohorted by
    * their first active day WITHIN each segment — and the grid gains the
    * segment dimension; still one corpus-sized exchange.
    *
    * Streaming: this closer COMPOSES with [[sinkUpsertToTable]] — drain
    * the stream into a (user, day) activity table with
    * `sinkUpsertToTable(df.select(user, to_date(ts)), name, keys =
    * Seq(user, day), ...)` (idempotent: re-deliveries overwrite
    * themselves) and run `cohortRetention` over the stored table on
    * report cadence. The activity table is one row per user-day — far
    * smaller than the event stream — so the grid refresh is a bounded
    * job, and late data converges exactly because the closer re-derives
    * cohorts from the COMPLETE stored activity, never from incremental
    * per-batch mins (spec-pinned in Round11Batch5Spec).
    */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts", periodDays: Int = 1,
                      groupBy: Seq[String] = Nil): DataFrame = {
    require(periodDays > 0, s"cohort_retention needs periodDays > 0, got $periodDays")
    val reserved = Seq("cohort_day", "period", "n_active", "n_cohort",
      "retention", "_u", "_d", "_cd", "_p")
    require(groupBy.intersect(reserved).isEmpty,
      s"cohort_retention group columns collide with output names " +
        s"${groupBy.intersect(reserved).mkString(", ")} — rename first")
    require(groupBy.forall(g => !g.startsWith("_c_") && !g.startsWith("_b_")),
      s"cohort_retention group columns may not start with the internal " +
        s"rename prefixes _c_/_b_: $groupBy — rename first")
    val acts = events
      .select((groupBy.map(col) ++ Seq(col(userCol).as("_u"),
        to_date(eventTime(events, tsCol)).as("_d"))): _*)
      .distinct()
    // both self-joins are NULL-SAFE on their keys: a null segment value
    // (or null user) groups like any other value in the aggregates, so
    // the joins back must match it too — a plain equi-join would
    // silently drop every null-keyed activity row, diverging from the
    // sibling funnel faces (whose windows partition nulls together)
    val uKeys = groupBy :+ "_u"
    val cohorts = acts.groupBy(uKeys.map(col): _*)
      .agg(min(col("_d")).as("_cd"))
      .select((uKeys.map(k => col(k).as(s"_c_$k")) :+ col("_cd")): _*)
    val uCond = uKeys.map(k => col(k) <=> col(s"_c_$k")).reduce(_ && _)
    // periodDays > 1 = weekly/monthly-style retention: periods are
    // [cohort_day + k·periodDays) buckets anchored at each user's OWN
    // first day, and a user active twice in one period counts once
    // (the second distinct — over (user, period), a frame no larger
    // than the (user, day) one)
    val enriched = acts.join(cohorts, uCond)
      .select((groupBy.map(col) ++ Seq(col("_u"), col("_cd"),
        floor(datediff(col("_d"), col("_cd")) / lit(periodDays)).cast("int")
          .as("_p"))): _*)
    // at periodDays = 1 the (user, period) dedup is already implied by the
    // (user, day) distinct — skip the redundant exchange
    val perPeriod = if (periodDays == 1) enriched else enriched.distinct()
    val cells = perPeriod
      .groupBy((groupBy.map(col) ++ Seq(col("_cd").as("cohort_day"),
        col("_p").as("period"))): _*)
      .agg(count(lit(1)).as("n_active"))
    closeCohortGrid(cells, groupBy)
  }

  /** Close a (groups…, cohort_day, period, n_active) cell frame into the
    * cohort_retention grid (null-safe period-0 self-join, exact double
    * division) — shared by [[cohortRetention]] and
    * [[cohortCloseIncremental]], so the incremental face closes with
    * EXACTLY the batch arithmetic.
    */
  private def closeCohortGrid(cells: DataFrame,
                              groupBy: Seq[String]): DataFrame = {
    val cKeys = groupBy :+ "cohort_day"
    val base = cells.where(col("period") === 0)
      .select((cKeys.map(k => col(k).as(s"_b_$k")) :+
        col("n_active").as("n_cohort")): _*)
    val cCond = cKeys.map(k => col(k) <=> col(s"_b_$k")).reduce(_ && _)
    cells.join(base, cCond)
      .select((groupBy.map(col) ++ Seq(
        col("cohort_day"), col("period"), col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))): _*)
  }

  /** Custom arbitrary-state sessionization via `flatMapGroupsWithState` —
    * the hook for state logic `session_window` can't express (per-session
    * invariants, early emission rules, enrichment). Keeps one
    * [[SessionState]] per user; an event-time timeout (last event + gap,
    * fired once the watermark passes it) closes the session and emits its
    * summary. State is bounded by the watermark — late events beyond it are
    * dropped by the pre-filter, and closed state is removed.
    */
  def statefulSessions(events: DataFrame, gapMinutes: Int,
                       watermark: String): org.apache.spark.sql.Dataset[SessionSummary] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val typed = events
      .withColumn("_ts", eventTime(events).cast(TimestampType))
      .withWatermark("_ts", watermark)
      .select(col("user_id"), col("_ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(uid,
              new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs + gapMs),
              s.n, s.sumMilli / 1000.0))
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { case (_, ts, v) =>
              val t = ts.getTime
              // fixed-point millis accumulation: deterministic across runs
              val vMilli = math.round(v * 1000.0)
              cur match {
                // strict <: session_window is end-exclusive ([start, last+gap)),
                // so an event arriving exactly gap after the last one opens a
                // NEW session — mirror that here
                case Some(s) if t - s.lastMs < gapMs =>
                  cur = Some(SessionState(s.startMs, t, s.n + 1, s.sumMilli + vMilli))
                case Some(s) =>
                  closed += SessionSummary(uid,
                    new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs + gapMs),
                    s.n, s.sumMilli / 1000.0)
                  cur = Some(SessionState(t, t, 1, vMilli))
                case None =>
                  cur = Some(SessionState(t, t, 1, vMilli))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
