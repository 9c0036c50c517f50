package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the batch pipeline (SURVEY.md §2.12
  * marks streaming absent in the reference; this is the §7.5 extension): the
  * same ETL transforms over a file source with `Trigger.AvailableNow`, plus
  * the streaming-native operators a continuous ingest needs — watermarked
  * tumbling-window aggregation and custom sessionization state.
  *
  * Scale notes: file-source streaming at 100 TB runs the identical code with
  * `maxFilesPerTrigger` bounding batch size; state stores (window agg,
  * mapGroupsWithState) are partitioned by key across executors, and the
  * watermark bounds state size — without it the hour-window state grows
  * unboundedly.
  */
object StreamingJobs {

  /** Batch-peeked schema per (immutable) testdata path, memoized for the
    * process lifetime — the peek is a footer-read job repeated at every
    * stream setup otherwise (same reasoning as core/Tables.schemaCache;
    * metadata only, never rows). */
  private val peekedSchema =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def peekSchema(spark: SparkSession, path: String): StructType =
    peekedSchema.computeIfAbsent(path, p => spark.read.parquet(p).schema)

  /** readStream over a parquet directory with a fixed schema (streaming
    * sources require one — inferred here from a batch peek at setup time). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Tables.ensureTimestampCompat(spark)
    spark.readStream.schema(peekSchema(spark, dir)).parquet(dir)
  }

  /** Streaming source over one TABLE of an sf directory, agnostic to the
    * table's physical layout: a single `<table>.parquet` FILE (the test
    * data's layout — a streaming file source needs a directory, so stream
    * the parent glob-filtered to that name) or a `<table>.parquet`
    * DIRECTORY tree (any Spark-written table, e.g. the 10× scale corpora —
    * stream the directory itself, descending into partition subdirs).
    * Before r8 the glob-only form matched NO files on a directory table
    * and the stream silently drained empty (BENCH.md's 10× harness gap). */
  def tableStream(spark: SparkSession, dir: String, table: String = "events"): DataFrame = {
    graft.core.Tables.ensureTimestampCompat(spark)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = peekSchema(spark, p.toString)
    if (fs.getFileStatus(p).isDirectory)
      // the batch-peeked schema includes any partition columns, so the
      // stream discovers partition subdirs (recursiveFileLookup would
      // DISABLE partition inference and null the partition column)
      spark.readStream.schema(schema).parquet(p.toString)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Watermarked tumbling-window count+avg per event_type — the canonical
    * streaming aggregation (1h windows, 2h late-data bound). */
  def windowedCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("valor_promedio"))

  final case class SessionUpdate(user_id: Long, n_events: Long, total_value: Double, closed: Boolean)
  // NOT private: Spark's encoder codegen needs a public constructor
  final case class SessionState(n: Long, total: Double)

  /** Custom per-user sessionization via mapGroupsWithState — the stateful-
    * operator surface (counts + value totals per user session, emitted on
    * every update; closed on idle when `idleTimeout` is set).
    *
    * `idleTimeout=None` (NoTimeout) is the batch-parity mode: an
    * AvailableNow run terminates once the data is drained. With a
    * processing-time timeout the query stays alive to fire timers — correct
    * for continuous ingest, non-terminating under AvailableNow. */
  def sessionize(spark: SparkSession, events: DataFrame,
                 idleTimeout: Option[String] = None): Dataset[SessionUpdate] = {
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                      else GroupStateTimeout.NoTimeout
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](timeoutConf) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionUpdate(user, s.n, s.total, closed = true)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0))
            var n = prev.n
            var tot = prev.total
            rows.foreach { case (_, v) => n += 1; tot += v }
            val next = SessionState(n, tot)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            SessionUpdate(user, next.n, next.total, closed = false)
          }
      }
  }

  /** Watermarked SLIDING-window counts (1h window every 30min — each event
    * lands in two overlapping windows): the trend-smoothing flavor of the
    * tumbling aggregate. */
  def slidingCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** SESSION windows (gap-based, built-in `session_window`): events closer
    * than `gap` merge into one variable-length session per user — the
    * declarative counterpart of the mapGroupsWithState sessionizer below,
    * with watermark-bounded state. */
  def sessionWindows(events: DataFrame, tsCol: String = "ts", gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup: drop replayed/duplicate records by key within
    * the watermark bound — the streaming counterpart of `dedup_exact` for
    * continuous ingest (at-least-once sources replay records; this makes
    * the pipeline effectively-once). State holds one entry per key and is
    * EVICTED once older than the watermark, which is what keeps continuous
    * dedup state bounded at scale — an unwatermarked dropDuplicates grows
    * state forever. */
  def dedupStream(events: DataFrame, tsCol: String = "ts",
      keyCols: Seq[String] = Seq("event_id"), delay: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Stream-static enrichment join (J3's dim-decode join, streaming
    * flavor): broadcast hash join of each micro-batch against a static
    * dimension frame. The static side is re-planned per batch, so slowly
    * changing dimensions are picked up between batches without restarting
    * the query. */
  def enrichStream(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** End-to-end streaming ETL: file source -> the SAME batch transforms
    * (temporal features + validity filter) -> parquet sink with checkpoint.
    * Streaming/batch unification: one transform function serves both paths;
    * `maxFilesPerTrigger` bounds micro-batch size for continuous ingest at
    * scale (unbounded AvailableNow here drains everything in one run). */
  def etlStream(spark: SparkSession, srcDir: String, outDir: String,
                checkpoint: String, maxFilesPerTrigger: Option[Int] = None): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    val bounded = maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    val transformed = graft.etl.Features.withTemporal(
      bounded.parquet(srcDir).filter(col("value") > 0 && col("ts").isNotNull),
      "ts", "event")
    val q = transformed.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** foreachBatch key-merge sink — the production streaming-write pattern
    * for sinks without native exactly-once support: each microbatch
    * anti-joins the target on the key before appending, so BOTH failure
    * modes dedupe — a replayed batch after a crash (same rows, second
    * delivery) and late cross-batch duplicates from the source. The
    * checkpoint gives at-least-once batch delivery; the key merge upgrades
    * it to effectively-exactly-once on the key.
    *
    * Scale note: the anti-join reads only the key column of the target
    * (column-pruned scan); at 100 TB the target would be partitioned and
    * the batch's partition range pushed into the read, keeping the probe
    * proportional to the batch, not the table. */
  def foreachBatchKeyMerge(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      checkpoint: String,
      key: String
  ): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val inBatch = batch.dropDuplicates(key)
        val novel =
          try {
            val existingKeys = spark.read.parquet(outDir).select(col(key))
            inBatch.join(existingKeys, Seq(key), "left_anti")
          } catch {
            case _: org.apache.spark.sql.AnalysisException => inBatch // first batch
          }
        novel.persist()
        try {
          if (novel.limit(1).count() > 0)
            novel.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outDir)
        } finally novel.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** Continuous materialized-view maintenance: a stream of fact updates
    * drives, per micro-batch, (1) a partitioned MERGE into the fact table
    * (`jobs.Merge` — only touched partitions rewritten) and (2) an
    * incremental refresh of a partition-aligned mart (`jobs.Incremental` —
    * only the touched partitions re-aggregated). After the stream drains,
    * fact == all updates applied in arrival order and mart == a
    * from-scratch recompute (StreamingMaintenanceSpec proves both).
    *
    * This is the 100 TB "CDC -> table + downstream aggregate" shape:
    * per-batch work scales with the batch's partition footprint, never
    * with table size, and the checkpoint makes the whole composition
    * restartable (foreachBatch re-runs of a completed batch re-merge the
    * same keys — idempotent, since merge is a keyed upsert and refresh is
    * a recompute). */
  def streamingMartMaintenance(
      spark: SparkSession,
      updatesDir: String,
      factPath: String,
      martPath: String,
      stagingPath: String,
      checkpoint: String,
      keyCols: Seq[String],
      partitionCol: String,
      agg: DataFrame => DataFrame,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val schema = spark.read.parquet(factPath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(updatesDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (_, touched) = graft.jobs.Merge.mergeIntoPartitionedTouched(
          spark, factPath, batch, keyCols, partitionCol, stagingPath)
        graft.jobs.Incremental.refreshPartitions(
          spark, factPath, martPath, partitionCol, touched, agg)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** Streaming ingest committing every micro-batch as a VERSION of a
    * snapshot-logged table (jobs/Snapshots): the stream's history becomes
    * queryable time travel (version N = state after batch N), and the
    * batch-id marker makes foreachBatch's at-least-once delivery an
    * exactly-once log — a checkpoint-replayed batch is recognized and
    * skipped. The streaming twin of the bronze-ingest pattern, with a
    * transaction log instead of bare appends. */
  def streamingSnapshotIngest(
      spark: SparkSession,
      srcDir: String,
      root: String,
      checkpoint: String,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.jobs.Snapshots.commitStreamingBatch(spark, root, batch, batchId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** Streaming MERGE that also PUBLISHES its change feed: each micro-batch
    * first materializes the row-level change set (graft.jobs.ChangeFeed)
    * against the pre-merge target into `feedDir/` (tagged with the batch
    * id), then applies the merge. Downstream consumers replay the feed —
    * 1000x smaller than the table for a typical daily change rate —
    * instead of re-reading snapshots; ChangeFeedReplaySpec proves the
    * concatenated feeds reconstruct the final table exactly.
    *
    * The feed write MUST complete before the merge mutates the target
    * (the feed's pre-images read the target): sequencing inside
    * foreachBatch guarantees it. Crash-replay is the subtle case: a batch
    * re-delivered AFTER its merge already applied would recompute the feed
    * against the post-merge target (pre-images carrying post-merge values,
    * inserts reclassified as updates) and overwrite the correct feed — so
    * the feed write is gated on its own `_SUCCESS` commit marker: once a
    * batch's feed directory committed, a replay skips the recompute and
    * only re-applies the merge, which is idempotent (whole-row upsert by
    * key). StreamingJobsSpec replays a batch to pin this. */
  def streamingMergeWithChangeFeed(
      spark: SparkSession,
      updatesDir: String,
      factPath: String,
      feedDir: String,
      stagingPath: String,
      checkpoint: String,
      keyCols: Seq[String],
      partitionCol: String,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val schema = spark.read.parquet(factPath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(updatesDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeWithFeedBatch(spark, batch, batchId, factPath, feedDir, stagingPath,
          keyCols, partitionCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** One micro-batch of `streamingMergeWithChangeFeed`, exposed so a spec
    * can replay a batch id deterministically. Returns true if the feed was
    * computed, false if this batch's feed had already committed (replay). */
  private[streaming] def mergeWithFeedBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      factPath: String,
      feedDir: String,
      stagingPath: String,
      keyCols: Seq[String],
      partitionCol: String
  ): Boolean = {
    val batchDir = new org.apache.hadoop.fs.Path(s"$feedDir/batch=$batchId")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val feedCommitted = fs.exists(new org.apache.hadoop.fs.Path(batchDir, "_SUCCESS"))
    if (!feedCommitted) {
      val target = spark.read.parquet(factPath)
      graft.jobs.ChangeFeed.mergeFeed(target, batch, keyCols)
        .write.mode("overwrite")
        .parquet(batchDir.toString)
    }
    graft.jobs.Merge.mergeIntoPartitioned(
      spark, factPath, batch, keyCols, partitionCol, stagingPath)
    !feedCommitted
  }

  /** Append-mode streaming ingest into a partitioned parquet table with
    * PERIODIC AUTO-COMPACTION — the bronze-layer shape: every micro-batch
    * appends a few small files to its partitions, and every
    * `compactEvery`-th batch folds the accreted fragments back to their
    * byte-justified file count (jobs/Lifecycle.compactPartitions —
    * metadata-only listing picks the fragmented partitions; healthy ones
    * are never rewritten).
    *
    * At 100 TB this composition is what keeps a continuously-ingested
    * table scannable: without it a 1-minute trigger writes ~1,440 files
    * per partition per day and scan planning drowns in footers. Running
    * compaction inside foreachBatch serializes it with ingest, so no
    * append races the rewrite (single-writer discipline — the same
    * guarantee a table-format transaction log provides). */
  def streamingIngestWithAutoCompact(
      spark: SparkSession,
      srcDir: String,
      tablePath: String,
      partitionCol: String,
      stagingPath: String,
      checkpoint: String,
      compactEvery: Int = 4,
      targetFileBytes: Long = 128L * 1024 * 1024,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("append").partitionBy(partitionCol).parquet(tablePath)
        if (batchId % compactEvery == compactEvery - 1) {
          graft.jobs.Lifecycle.compactPartitions(
            spark, tablePath, Seq(partitionCol), targetFileBytes, stagingPath)
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.stop()
  }

  /** Run a streaming frame to a memory sink until all available data is
    * processed (Trigger.AvailableNow — the batch-parity execution mode). */
  def runAvailableNow(df: DataFrame, queryName: String, outputMode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Run `body` (which STARTS a streaming query) with the state
    * partitioning sized to `n`, restoring the session's shuffle
    * partitioning after. Stateful operators keep one-to-four state
    * stores PER state partition and commit every one of them each
    * micro-batch — a fixed per-store cost (file create + fsync on the
    * checkpoint) that dwarfs the data term on all but huge state
    * (r9: the stream-stream join at 32 partitions
    * paid 128 store commits/batch, ~33 s cumulative commitMs, warm
    * wall-clock 5.9 s; at 8 partitions 2.9 s, identical results). The
    * count is FROZEN into the checkpoint at query start, so it must be
    * set before `start()` — it sizes with expected STATE, not with
    * cores. */
  def withStatePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }
}
