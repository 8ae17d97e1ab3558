package graft.streaming

import graft.sources.TxStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.format("graft").load(path)` — the table's CHANGE
  * FEED as a first-class streaming source: the general
  * `readStream → any transform → any sink` shape with the engine's own
  * offset tracking. [[StreamingCdf.follow]] is this source piped into
  * [[GraftSink]].
  *
  * Architecture note (why a v1 `Source`, not a DSv2 MicroBatchStream):
  * a micro-batch's rows are the COMMIT RANGE'S ROW-LEVEL CHANGES —
  * [[TxStore.readChangesBetween]]'s multi-operator Catalyst plan
  * (effective-row diffs, DV anti-joins, column mapping), not a list of
  * file splits. A v1 Source's `getBatch` returns exactly that
  * DataFrame, fully distributed; a MicroBatchStream would force the
  * derivation into per-partition readers, abandoning Catalyst — which
  * is why Delta ships its own change feed as a v1 Source behind a v2
  * table to this day. The offset is the COMMIT VERSION: `getOffset`
  * replays O(commits) log lines (metadata-scale at any table size),
  * and rows move only for the versions a batch owns.
  *
  * Contract, inherited from the batch CDC read and loud on violation:
  * resume replays from the checkpointed version exactly; a source
  * [[TxStore.checkpoint]] that truncated history past the consumer
  * refuses with the re-sync message; vacuum retention must cover the
  * versions still being followed. `startingVersion` (default 0 = full
  * history: the initial snapshot arrives as the inserts it was) skips
  * commits at or before it. A checkpoint whose offset is not a commit
  * version (another source wrote it) refuses, naming `metadataPath`. */
class GraftCdfSource(
    spark: SparkSession,
    path: String,
    startingVersion: Long,
    metadataPath: String = "") extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit}

  override val schema: StructType = GraftCdfSource.cdfSchema(spark, path)

  private def versionOf(o: OffsetV2): Long = o match {
    case LongOffset(v) => v
    // after a checkpoint resume the engine hands back SerializedOffset
    // (raw json) — LongOffset serializes as the bare number
    case other => other.json.trim.toLongOption.getOrElse(throw new IllegalStateException(
      s"graft: checkpoint ${metadataPath.replaceAll("/sources/[0-9]+/?$", "")} holds the " +
        s"offset ${other.json}, not a commit version of $path: another source wrote it (such as " +
        "a follow() checkpoint from when follow streamed `_txlog` as files). " +
        "Start a new checkpoint with sinceVersion = the last source version the sink landed " +
        "(its max _commit_version)."))
  }

  override def getOffset: Option[V1Offset] = {
    // one directory listing per poll — a full snapshot replay here
    // would re-decode every retained commit's payloads per trigger
    val latest = TxStore.latestVersion(spark, path)
    if (latest <= startingVersion) None else Some(LongOffset(latest))
  }

  // ── Trigger.AvailableNow, FIRST-CLASS (the Delta DeltaSource shape:
  // a v1 Source mixing in the connector admission-control interfaces):
  // `prepareForTriggerAvailableNow` PINS the latest version when the
  // run begins, `latestOffset` never answers past the pin, and the
  // engine drains to exactly that point and terminates — commits
  // landing DURING the drain wait for the next run, and the engine's
  // single-batch fallback (which logs an at-least-once caveat for
  // uncommitted batches) never engages.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(TxStore.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // the engine passes the checkpointed offset: refuse a foreign one
    // before any batch, even when no commit is new
    Option(startOffset).foreach(versionOf)
    val latest = availableNowCap.getOrElse(TxStore.latestVersion(spark, path))
    if (latest <= startingVersion) null else LongOffset(latest)
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val since = start.map(versionOf).getOrElse(startingVersion)
    val until = versionOf(end)
    // the engine may replay the last committed batch on restart with
    // start == end == checkpointed offset — an empty range, not an error
    val batch =
      if (since >= until) GraftCdfSource.emptyChanges(spark, schema)
      else TxStore.readChangesBetween(spark, path, since, until)
    // the engine asserts isStreaming on the returned plan; the wrap is
    // lazy — derivation still runs fully distributed
    org.apache.spark.sql.graft.DsvBridge.streamingFrame(batch)
  }

  override def commit(end: V1Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdfSource[$path @>v$startingVersion]"
}

object GraftCdfSource {

  /** The change-feed schema: the table's CURRENT logical schema plus
    * the CDF tag columns — exactly what [[TxStore.readChangesBetween]]
    * emits. */
  def cdfSchema(spark: SparkSession, path: String): StructType = {
    val snap = TxStore.snapshot(spark, path)
    val logical = TxStore.logicalSchema(snap).getOrElse(
      throw new IllegalArgumentException(
        s"graft: table at $path carries no log schema — write data before streaming it"))
    StructType(logical.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
  }

  private[streaming] def emptyChanges(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
}
