package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DECONTAMINATION: documents land as parquet files and each
  * micro-batch is screened against a STATIC evaluation corpus before
  * its survivors append exactly-once into a TxStore table — the
  * benchmark-leak gate a continuously-fed training corpus has to run at
  * ingest time (screening after the corpus is assembled means re-scanning
  * the whole table per new eval set; screening per micro-batch touches
  * each document once, when it arrives).
  *
  * The gate is [[Dedup.decontamPairs]] per micro-batch: CONTAINMENT of
  * each eval doc in the incoming doc (|shingles(eval) ∩ shingles(doc)| /
  * |shingles(eval)| ≥ `minOverlap`) — the published decontamination
  * measure, deliberately not Jaccard (a 50-token eval question buried in
  * a 5 000-token page has tiny Jaccard but is fully leaked). A document
  * containing ANY eval doc at or above the threshold is dropped; the
  * hot-shingle guard (`maxTrainDf`) rides along so one boilerplate
  * shingle cannot fan the per-batch join out. Guard note: the
  * doc-frequency it caps on is computed PER MICRO-BATCH (smaller than
  * the corpus-wide df), so an engaged guard drops strictly fewer
  * shingles streaming than batch — the streaming screen can only find
  * MORE contamination, never less; with the guard off (the default)
  * stream == batch exactly.
  *
  * Semantics pin: the gate is per-document against a static reference —
  * batch boundaries cannot change a verdict — so streaming survivors ==
  * the one-shot batch screen of the same rows (asserted in
  * StreamingDecontamSpec, same law as StreamingCuration). Exactly-once:
  * (writerId, batchId) stamps in the table's own commit log; a replayed
  * micro-batch no-ops inside [[graft.sources.TxStore.appendOnce]].
  *
  * Scale shape: the eval corpus is bounded (benchmark sets — thousands
  * of docs), re-shingled per batch from `evalDocs` (a cheap, bounded
  * job); incoming batches meet it in a shingle-keyed equi-join, never
  * all-pairs. */
object StreamingDecontam {

  /** Drain everything currently landed, screening each micro-batch
    * against `evalDocs`, appending clean survivors exactly-once into
    * `tablePath` (Trigger.AvailableNow — the file-sensor cadence). */
  def runDecontam(
      spark: SparkSession,
      landingDir: String,
      evalDocs: DataFrame,
      checkpoint: String,
      tablePath: String,
      minOverlap: Double = 0.5,
      maxTrainDf: Long = 0L,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Int = 32): StreamingQuery =
    StreamingCuration.gateAndAppend(spark, landingDir, checkpoint, tablePath, writerId,
        "graft-decontam-", maxFilesPerTrigger) { batch =>
      val contaminated = Dedup
        .decontamPairs(batch, evalDocs, minOverlap = minOverlap, maxTrainDf = maxTrainDf)
        .select(col("train_doc").as("doc_id"))
        .distinct()
      batch.join(contaminated, Seq("doc_id"), "left_anti")
    }
}
