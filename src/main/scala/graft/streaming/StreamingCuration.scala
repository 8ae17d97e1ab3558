package graft.streaming

import graft.ops.QualityFunnel
import graft.sources.TxStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The streaming CURATION path: documents land as parquet files, each
  * micro-batch is gated through the EXT36 quality funnel under a static
  * reference unigram model (train/apply split — new crawls are judged by
  * the established distribution, not their own), and survivors append
  * exactly-once into a TxStore table. This is the shape a continuously-
  * fed training corpus actually runs: the curated table is transactional
  * (consumers snapshot-read mid-ingest), replays are no-ops (stamped
  * appendOnce), and the reject stream is measurable (every batch's
  * funnel verdicts are reproducible from the model + the landed files).
  *
  * Semantics pin: gating a micro-batch equals gating the same rows in
  * one batch run — the gates are per-row predicates plus a doc-scoped
  * model join ([[QualityFunnel.filterFlagsUnder]]), so batch boundaries
  * cannot change a verdict (asserted streaming-equals-batch in
  * StreamingCurationSpec). Contrast with the cross-batch STATE the
  * near-dup path needs (StreamingNearDup) — quality gating is
  * embarrassingly per-document, which is why foreachBatch + batch
  * operators is the whole implementation.
  */
object StreamingCuration {

  /** The landed document schema (doc_id, text, lang, source, n_chars —
    * the fixture documents shape). */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-arrival document stream over a landing directory. */
  def readDocs(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Drain everything currently landed through the funnel into the
    * curated TxStore table and stop (Trigger.AvailableNow — the
    * file-sensor cadence; a long-lived deployment would use a processing
    * trigger, same plan). `tf`/`total` is the reference unigram model
    * ([[graft.ops.TextOps.unigramModel]]); survivors (pass_all = 1) keep
    * their full landed row. Exactly-once: (writerId derived from the
    * checkpoint, batchId) stamps in the table's own commit log — a
    * replayed micro-batch after crash/restart no-ops inside
    * [[TxStore.appendOnce]]. */
  def runCurate(
      spark: SparkSession,
      landingDir: String,
      tf: DataFrame,
      total: Double,
      checkpoint: String,
      tablePath: String,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Int = 32): StreamingQuery =
    gateAndAppend(spark, landingDir, checkpoint, tablePath, writerId, "graft-curate-",
        maxFilesPerTrigger) { batch =>
      batch.join(
        QualityFunnel.filterFlagsUnder(batch, tf, total)
          .filter(col("pass_all") === 1L)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
    }

  /** EXT47's ingest path: gate each micro-batch by the hashing-trick
    * linear classifier ([[graft.ops.TextOps.hashedClassifierScore]])
    * under a STATIC weight vector — the learned-quality-gate twin of
    * [[runCurate]]'s heuristic funnel. The weights are frozen for the
    * stream's lifetime (exactly like the funnel's reference LM): a
    * retrained classifier is a NEW stream with a new checkpoint, never
    * a mid-stream swap that would make batch boundaries change
    * verdicts. Survivors (keep = score ≥ 0) append exactly-once via
    * the same (writerId, batchId) stamp contract. */
  def runClassifierGate(
      spark: SparkSession,
      landingDir: String,
      weights: Array[Long],
      checkpoint: String,
      tablePath: String,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Int = 32): StreamingQuery =
    gateAndAppend(spark, landingDir, checkpoint, tablePath, writerId, "graft-clsgate-",
        maxFilesPerTrigger) { batch =>
      batch.join(
        graft.ops.TextOps.hashedClassifierScore(batch, weights)
          .filter(col("keep"))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
    }

  /** The gate-and-append body every document gate shares: drain the
    * landed documents AvailableNow, and append each micro-batch's
    * `keep(batch)` rows exactly-once into `tablePath`, stamped
    * (writerId, batchId) — the writer derived from the checkpoint under
    * `prefix` when none is given. The batch is persisted: the gate's
    * join and the append each re-run its plan. */
  private[streaming] def gateAndAppend(
      spark: SparkSession,
      landingDir: String,
      checkpoint: String,
      tablePath: String,
      writerId: Option[String],
      prefix: String,
      maxFilesPerTrigger: Int)(keep: DataFrame => DataFrame): StreamingQuery = {
    val writer = writerId.getOrElse(StreamingIngest.writerIdFor(spark, checkpoint, prefix))
    readDocs(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val kept = keep(batch)
          if (!kept.isEmpty)
            TxStore.appendOnce(kept, tablePath, writer, batchId): Unit
        } finally batch.unpersist(): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
