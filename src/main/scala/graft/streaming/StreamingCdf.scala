package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A TxStore table's change feed followed into another TxStore table,
  * on graft's own streaming source and sink: `readStream.format("graft")`
  * ([[GraftCdfSource]], whose offset is the commit version and whose
  * batches are [[graft.sources.TxStore.readChangesBetween]]'s row-level
  * changes) into `writeStream.format("graft")` ([[GraftSink]], one
  * stamped [[graft.sources.TxStore.appendOnce]] per micro-batch). The
  * stream moves O(commits) metadata per trigger at any table size; rows
  * move only for the versions a batch owns.
  *
  * Exactly-once: a batch redelivered after a crash finds its
  * (writerId, batchId) stamp in the sink's own log and no-ops. The same
  * discipline as [[StreamingUpsert]]; the two compose (follow a table's
  * feed into a history table here, fold a keyed state table from it
  * there).
  *
  * Operational contract, inherited from the batch CDC read and loud on
  * violation: a [[graft.sources.TxStore.checkpoint]] on the SOURCE
  * truncates replay — run source checkpoints only once downstream
  * consumers have passed that version, or the follower refuses with the
  * re-sync message; a [[graft.sources.TxStore.vacuum]] must retain the
  * versions still being followed. */
object StreamingCdf {

  /** Follow `srcTable`'s change feed into `sinkTable`: every commit's
    * row-level changes (rows tagged `_change_type` = insert/delete and
    * `_commit_version`) APPEND to the sink exactly once. The sink is a
    * change-HISTORY table — the most general consumer shape (a keyed
    * state materialization is one [[StreamingUpsert]] fold away, an
    * incremental aggregate one groupBy).
    *
    * `sinceVersion` skips source history at or before it (0 = full
    * history: the initial snapshot arrives as the inserts it was —
    * Delta's startingVersion=0). `writerId` stamps the sink's commits;
    * without one the sink stamps with the streaming query id, which
    * lives in (and is fresh for each new) checkpoint. Default trigger is
    * AvailableNow (drain-and-stop, the test/backfill cadence); a
    * long-lived tail passes a processing-time trigger, identical plan. */
  def follow(
      spark: SparkSession,
      srcTable: String,
      sinkTable: String,
      checkpoint: String,
      sinceVersion: Long = 0L,
      writerId: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val out = spark.readStream.format("graft")
      .option("startingVersion", sinceVersion)
      .load(srcTable)
      .writeStream.format("graft")
      .option("checkpointLocation", checkpoint)
    writerId.fold(out)(out.option("txnAppId", _)).trigger(trigger).start(sinkTable)
  }
}
