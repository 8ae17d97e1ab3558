package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** S7 — file-arrival–triggered incremental batch. The reference polls a
  * readiness flag with an Airflow FileSensor every 300 s and then runs a
  * full batch (reference dags/attribution_pipeline_dag.py:35–42); the
  * Spark-native equivalent is Structured Streaming over the landing
  * directory with `Trigger.AvailableNow` — each invocation processes
  * exactly the files that arrived since the last checkpoint, then stops.
  * Same operational contract (run on schedule, pick up what landed),
  * without the poll loop, and exactly-once via the checkpoint.
  */
object StreamingIngest {

  /** The engine's canonical events schema — ts as epoch-nanos LongType,
    * the interchange type every engine-written artifact (JSON/ORC/CSV
    * round-trips, compaction output) carries. Fixture files from the
    * driver may instead carry ts as a native timestamp; [[readEvents]]
    * absorbs either via [[graft.Tables.normalizeTs]]. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming file sources need a declared schema up front; infer it
    * from whatever already landed (a footer-only batch read — cheap), so
    * the stream matches the physical ts type of the files actually in
    * the directory. An empty landing dir falls back to the canonical
    * schema — fine for the empty-run registration path, but a stream
    * DEFINED against an empty dir assumes long-ts files will land.
    * Only the missing-path/unable-to-infer AnalysisException takes that
    * fallback: a real IO error (unreachable store, corrupt footer) must
    * propagate HERE, at definition time — swallowed, it would surface
    * later as a confusing conversion failure at trigger time, far from
    * the root cause. */
  private def landedSchema(spark: SparkSession, dir: String): StructType =
    try spark.read.parquet(dir).schema
    catch { case _: org.apache.spark.sql.AnalysisException => eventsSchema }

  /** Streaming scan of an events landing path (a directory that receives
    * only event files, or a glob — NOT a mixed-table directory: the file
    * source applies the schema to every parquet it finds). Output always
    * carries ts as epoch-nanos LongType regardless of the landed
    * physical type. */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 32): DataFrame =
    graft.Tables.normalizeTs(
      spark.readStream
        .schema(landedSchema(spark, dir))
        .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
        .parquet(dir),
      "ts")

  /** Windowed channel/day counts+sums with a watermark — the streaming
    * twin of the batch A1 rollup. Run in `update` output mode: the
    * watermark then actually evicts finalized windows from state (in
    * `complete` mode Spark must retain every group forever), so a
    * long-running deployment stays bounded; the sink receives upserts
    * per (day, channel).
    *
    * ARRIVAL-ORDER CONTRACT: update mode does NOT filter late input —
    * it evicts finalized state at each batch boundary, so a row landing
    * more than `watermarkDelay` after the stream's max event time
    * re-aggregates ITS KEY FROM ZERO (measured: a 3-micro-batch run with
    * files split by hash instead of by time emits reset counts for every
    * evicted key — and a keyed upsert sink would overwrite good totals
    * with them). Land files in event-time order (the daily-load pattern
    * this operator mirrors) or widen `watermarkDelay` to cover the
    * disorder, e.g. the full backfill span for an unordered backfill. */
  def channelDaily(events: DataFrame, watermarkDelay: String = "1 day"): DataFrame = {
    val withTs = events.withColumn("event_ts", graft.Tables.tsMicros("ts"))
    withTs
      .withWatermark("event_ts", watermarkDelay)
      .groupBy(window(col("event_ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("date"),
        col("event_type"),
        col("n_events"),
        col("total_value"))
  }

  /** The rollup's output schema: one row per (date, event_type);
    * total_value is nullable (an all-NULL value group is SQL NULL). */
  val rollupSchema: StructType = StructType(Seq(
    StructField("date", StringType),
    StructField("event_type", StringType),
    StructField("n_events", LongType),
    StructField("total_value", DoubleType)))

  /** Run the rollup over whatever is in `dir` right now, AvailableNow,
    * readable back as temp view `name`; returns the query (await it,
    * then read `spark.table(name)` — one row per (date, event_type)).
    *
    * The sink is a `foreachBatch` keyed UPSERT, not `format("memory")`:
    * the memory sink in update mode APPENDS each micro-batch's updated
    * rows, so any run spanning more than one micro-batch (>
    * maxFilesPerTrigger landing files, or one day's events split across
    * triggers) would leave stale duplicates per key and double-count on
    * read. Each batch runs [[rollupBatch]]: a keyed
    * [[graft.sources.TxStore.mergeOnce]] into a TxStore table at
    * `<checkpoint>_rollup`, stamped (writerId, batchId) so foreachBatch's
    * at-least-once redelivery after a crash no-ops instead of
    * re-merging. NOTHING accumulates on the driver: state scales with
    * the cluster's storage, not driver heap, at any channel × day
    * cardinality. Verified by the multi-micro-batch spec.
    *
    * State is keyed by the CHECKPOINT (the store is its sibling
    * directory) and is durable: update mode only emits groups the NEW
    * files touched, so a scheduled re-invocation against the same
    * checkpoint merges into (not replaces) the accumulated rollup — and
    * because store and checkpoint live and die together, a fresh driver
    * process resumes with BOTH the processed-file set and the rollup
    * intact (verified by the kill-mid-run/resume spec). The
    * [[channelDaily]] arrival-order contract applies. */
  def runAvailableNow(
      spark: SparkSession,
      dir: String,
      checkpoint: String,
      name: String,
      maxFilesPerTrigger: Int = 32): StreamingQuery = {
    // Register up front: a zero-micro-batch run (empty landing dir, or a
    // checkpoint with nothing new) never fires foreachBatch, and the
    // documented `spark.table(name)` read-back must still resolve — with
    // the previous invocations' rollup intact, empty only on first use.
    registerRollup(spark, checkpoint, name)
    channelDaily(readEvents(spark, dir, maxFilesPerTrigger))
      .writeStream
      .outputMode("update")
      .foreachBatch(rollupBatch(spark, checkpoint, name))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** [[runAvailableNow]]'s micro-batch body — public so tests can wrap
    * it with fault injection (kill after batch N, then resume). The
    * batch is persisted across the emptiness probe and merge's several
    * actions (count/key-probe/stage): unpersisted, each would recompute
    * the stateful aggregation from the source. The temp view is
    * re-registered over the TABLE on the caller's session after every
    * batch (foreachBatch runs under a cloned session whose temp views
    * the caller can't see). */
  def rollupBatch(
      spark: SparkSession, checkpoint: String, name: String): (DataFrame, Long) => Unit = {
    val store = rollupStore(checkpoint)
    val writer = writerIdFor(spark, checkpoint, "graft-rollup-")
    (batch, batchId) => {
      batch.persist()
      try
        if (!batch.isEmpty)
          // collectStats = false: the rollup table is tiny (date ×
          // event_type) — skip the per-micro-batch footer harvest
          graft.sources.TxStore.mergeOnce(
            spark, store, batch, Seq("date", "event_type"), writer, batchId,
            collectStats = false): Unit
      finally batch.unpersist(): Unit
      registerRollup(spark, checkpoint, name)
    }
  }

  private def rollupStore(checkpoint: String): String = checkpoint.stripSuffix("/") + "_rollup"

  private def registerRollup(spark: SparkSession, checkpoint: String, name: String): Unit = {
    val store = rollupStore(checkpoint)
    val cur =
      if (graft.sources.TxStore.snapshot(spark, store).files.nonEmpty)
        graft.sources.TxStore.read(spark, store)
      else
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rollupSchema)
    cur.createOrReplaceTempView(name)
  }

  /** Exactly-once RAW ingest into a transactional table — the
    * append-landing ("bronze") pattern: the landed events stream into
    * `writeStream.format("graft")` ([[GraftSink]]), so each micro-batch
    * lands as one atomic [[graft.sources.TxStore.appendOnce]] commit
    * stamped with (writerId, batchId). The engine's at-least-once
    * redelivery after a crash (checkpoint commits AFTER the sink runs)
    * therefore never double-appends: the replay finds its stamp in the
    * commit log and no-ops. This sink preserves every raw row, and the
    * idempotence lives in the TABLE's log, so it also holds across
    * driver restarts and even checkpoint deletion (the stamps, not the
    * checkpoint, are the source of truth; TxStore's checkpoint-retention
    * caveat applies). Downstream consumers follow incrementally via
    * `TxStore.readAppendsSince`.
    *
    * `writerId` (the sink's `txnAppId`) defaults to a hash of the
    * CHECKPOINT path, because the stamp identifies (writer, batchId),
    * not content: two pipelines — or one pipeline whose checkpoint was
    * deleted and restarted — sharing a writerId would find each other's
    * batch-0 stamp and silently DROP their own batch 0. The path is
    * fully QUALIFIED before hashing (scheme + absolute form), so
    * respelling the same directory across restarts ("/x/ckpt" vs
    * "/x/ckpt/" vs a relative form) keeps the same writer; the hash is
    * 128-bit SHA-256-derived, so distinct checkpoints colliding into one
    * writer is not a practical concern. After DELETING a checkpoint
    * (batch numbering restarts), pass a fresh explicit writerId. */
  def runAppendToTxStore(
      spark: SparkSession,
      dir: String,
      checkpoint: String,
      tablePath: String,
      writerId: String = null,
      maxFilesPerTrigger: Int = 32): StreamingQuery =
    readEvents(spark, dir, maxFilesPerTrigger)
      .writeStream
      .format("graft")
      .option("txnAppId",
        Option(writerId).getOrElse(writerIdFor(spark, checkpoint, "graft-ingest-")))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start(tablePath)

  /** Deterministic writer id from the FULLY-QUALIFIED checkpoint path
    * (scheme + absolute form, so respelling "/x/ckpt" vs "/x/ckpt/" vs a
    * relative form across restarts keeps the same writer). The stamp
    * identifies (writer, batchId), not content: two pipelines — or one
    * whose checkpoint was deleted and restarted, resetting batch
    * numbering — must not share a writerId (see runAppendToTxStore).
    * SHA-256-derived 128-bit hex, so path collisions are not a practical
    * concern; ':'-free per TxStore's stamp syntax. */
  private[streaming] def writerIdFor(spark: SparkSession, checkpoint: String, prefix: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint)
    val qualified = p
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p)
      .toUri
      .toString
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    prefix + digest.take(16).map("%02x".format(_)).mkString
  }
}
