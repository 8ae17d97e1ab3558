package graft.streaming

import graft.sources.{LogStore, TxStore}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A TxStore table as a STREAMING SOURCE — the `readStream`-on-a-table
  * shape a Delta user expects, built from parts Spark already has
  * instead of a custom source: the commit log (`_txlog/<v>.json`, one
  * json line per commit) is itself a tiny append-only file stream, so
  * the METADATA is the stream — Spark's file source checkpoints which
  * commit files each micro-batch saw (kill/resume for free, every
  * commit delivered at least once) — and the DATA plane runs per batch
  * through the same row-level CDC derivation the batch API uses
  * ([[TxStore.readChangesBetween]]).
  *
  * This is the 100 TB cost shape: the stream itself moves O(commits)
  * json lines per trigger regardless of table size; rows move only for
  * the versions a batch actually owns, read directly from the table's
  * own parquet (stats, DV marks and column mapping applied exactly as
  * a batch CDC read would). Sidecar payloads live under
  * `_txlog/_sidecar/` and data under `data/` — both invisible to the
  * file source (underscore-hidden / outside the glob), so the stream
  * can never confuse payload files for commits.
  *
  * Exactly-once into a TxStore sink: `foreachBatch` is at-least-once
  * across crash/restart, so the apply stamps each batch with a
  * (writerId, batchId) txn via [[TxStore.appendOnce]] — a replayed
  * batch finds its stamp in the sink's own log and no-ops. The same
  * discipline as [[StreamingUpsert]]; the two compose (follow a
  * table's feed into a history table here, fold a keyed state table
  * from it there).
  *
  * Operational contract, inherited from the batch CDC read and loud on
  * violation: a [[TxStore.checkpoint]] on the SOURCE truncates replay —
  * run source checkpoints only once downstream consumers have passed
  * that version, or the follower refuses with the re-sync message; a
  * [[TxStore.vacuum]] must retain the versions still being followed. */
object StreamingCdf {

  private val logSchema = StructType(Seq(
    StructField("version", LongType), StructField("op", StringType)))

  /** The commit log as a file-arrival stream: one row per commit,
    * (version, op) only — metadata-scale. */
  def readLog(
      spark: SparkSession, tablePath: String, maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .schema(logSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(LogStore.dirOf(tablePath))

  /** Follow `srcTable`'s change feed into `sinkTable`: every commit's
    * row-level changes (rows tagged `_change_type` = insert/delete and
    * `_commit_version`) APPEND to the sink exactly once. The sink is a
    * change-HISTORY table — the most general consumer shape (a keyed
    * state materialization is one [[StreamingUpsert]] fold away, an
    * incremental aggregate one groupBy).
    *
    * `sinceVersion` skips source history at or before it (0 = full
    * history: the initial snapshot arrives as the inserts it was —
    * Delta's startingVersion=0). Default trigger is AvailableNow
    * (drain-and-stop, the test/backfill cadence); a long-lived tail
    * passes a processing-time trigger, identical plan. */
  def follow(
      spark: SparkSession,
      srcTable: String,
      sinkTable: String,
      checkpoint: String,
      sinceVersion: Long = 0L,
      writerId: Option[String] = None,
      maxFilesPerTrigger: Int = 32,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val writer = writerId.getOrElse(
      StreamingIngest.writerIdFor(spark, checkpoint, "graft-cdf-"))
    readLog(spark, srcTable, maxFilesPerTrigger)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the versions this batch OWNS — commit-count scale, never rows
        val vs = batch.select("version").collect().map { r =>
          require(!r.isNullAt(0), "unparseable commit line in the log stream")
          r.getLong(0)
        }.sorted.toSeq
        val wanted = vs.filter(_ > sinceVersion)
        if (wanted.nonEmpty) {
          // commits publish sequentially under zero-padded names, so a
          // batch is normally one contiguous run — but the file source
          // only ORDERS by mtime, and this loop must never assume more
          // than it guarantees (a non-contiguous batch would replay
          // identically from the checkpoint on every restart: a wedged
          // stream, not a recoverable error). Derive each maximal
          // contiguous run separately and land them as ONE stamped
          // append — versions a batch skipped arrive with their own
          // batch, and sink rows carry _commit_version regardless.
          val runs = wanted.foldLeft(List.empty[(Long, Long)]) {
            case ((lo, hi) :: rest, v) if v == hi + 1 => (lo, v) :: rest
            case (acc, v) => (v, v) :: acc
          }.reverse
          val changes = runs
            .map { case (lo, hi) => TxStore.readChangesBetween(spark, srcTable, lo - 1, hi) }
            .reduce(_.unionByName(_))
          TxStore.appendOnce(changes, sinkTable, writer, batchId): Unit
        }
      }
      .trigger(trigger)
      .start()
  }
}
