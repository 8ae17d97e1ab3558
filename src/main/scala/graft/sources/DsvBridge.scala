// The DSv2 half of the bridge namespace (see ColumnBridge.scala): the
// graft DataSource v2 provider delegates its per-file parquet reading
// to Spark's OWN v2 parquet machinery (ParquetScan.createReaderFactory
// → ParquetPartitionReaderFactory — vectorized reader, row-group
// pushdown, partition-value appending, all battle-tested), and the
// handful of classes that wires through are qualified-private
// (private[spark] SerializableConfiguration, the row-index field
// constant). A subpackage of org.apache.spark.sql is inside those
// scopes — the same extension-library idiom ColumnBridge uses.
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

object DsvBridge {

  /** The v1 filter Spark's own v1 pushdown would hand a scan for a
    * catalyst predicate (`protected[sql]` in Spark), None when it has
    * none. */
  def v1Filter(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** A v1 filter as the v2 predicate a scan builder reports. */
  def v2Predicate(f: Filter): org.apache.spark.sql.connector.expressions.filter.Predicate = f.toV2

  /** The synthetic LongType field parquet readers FILL WITH THE FILE
    * ROW POSITION when it appears in the requested schema — correct
    * under predicate pushdown and row-group skipping (the reader
    * derives it from row-group metadata, not a row counter). The
    * row-based read path appends it, filters marked positions, and
    * keeps it only for a scan that asks for the row index. */
  def rowIndexField: StructField =
    StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      org.apache.spark.sql.types.LongType, nullable = true)

  /** A fully-configured v2 parquet reader factory — built by letting
    * Spark's own ParquetScan assemble it (hadoop conf keys, requested-
    * schema serialization, broadcast, vectorization decision), so the
    * graft scan never re-derives that wiring. The fileIndex slot is
    * never touched by createReaderFactory (it serves planInputPartitions,
    * which the graft scan implements itself from log metadata). */
  def parquetReaderFactory(
      spark: SparkSession,
      dataSchema: StructType,
      readDataSchema: StructType,
      partitionSchema: StructType,
      filters: Seq[Filter]): PartitionReaderFactory =
    ParquetScan(
      spark,
      spark.sessionState.newHadoopConfWithOptions(Map.empty),
      fileIndex = null,
      dataSchema = dataSchema,
      readDataSchema = readDataSchema,
      readPartitionSchema = partitionSchema,
      pushedFilters = filters.toArray,
      options = CaseInsensitiveStringMap.empty(),
      pushedAggregate = None,
      partitionFilters = Nil,
      dataFilters = Nil).createReaderFactory()

  /** Spark's own open-cost-aware split-size formula (maxPartitionBytes
    * capped by totalBytes spread over the default parallelism). */
  def maxSplitBytes(spark: SparkSession, totalBytes: Long): Long =
    FilePartition.maxSplitBytes(spark, totalBytes)

  /** Spark's own first-fit-decreasing bin packing of file splits into
    * read tasks. */
  def filePartitions(
      spark: SparkSession,
      splits: Seq[PartitionedFile],
      maxSplit: Long): Array[InputPartition] =
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray

  def partitionedFile(
      partitionValues: InternalRow,
      absolutePath: String,
      start: Long,
      length: Long,
      fileSize: Long): PartitionedFile =
    PartitionedFile(
      partitionValues,
      org.apache.spark.paths.SparkPath.fromPath(new Path(absolutePath)),
      start, length, Array.empty, 0L, fileSize)

  /** The DELETION-VECTOR read path: wraps the plain parquet factory so
    * each file's reader drops rows whose position is marked deleted —
    * inline marks ship with the factory (log-sized), parquet-vectored
    * marks load EXECUTOR-SIDE from their sidecar dirs (positions never
    * visit the driver). It also serves scans that ask for the row
    * index, with or without marks. Row-based by construction; the
    * owning scan reports ColumnarSupportMode.UNSUPPORTED for it.
    *
    * `readDataSchema` here EXCLUDES the row-index field — the factory
    * appends it for the inner reader and, unless `keepRowIndex`,
    * projects it back out, so the emitted rows match the scan's
    * declared layout exactly. No filters reach the inner parquet
    * reader: row-group skipping never changes row indexes, but a
    * record-level parquet filter (conf-enabled) would drop rows BEFORE
    * the position check with untested interplay — the engine's own
    * log-level pruning has already done the file skipping, and Spark
    * re-applies every predicate above the scan. */
  def dvReaderFactory(
      spark: SparkSession,
      dataSchema: StructType,
      readDataSchema: StructType,
      partitionSchema: StructType,
      inlineMarks: Map[String, Array[Long]],
      sidecarDirsByLeaf: Map[String, Seq[String]],
      keepRowIndex: Boolean): PartitionReaderFactory = {
    val inner = parquetReaderFactory(
      spark, dataSchema, StructType(readDataSchema.fields :+ rowIndexField),
      partitionSchema, Nil).asInstanceOf[FilePartitionReaderFactory]
    val conf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConfWithOptions(Map.empty)))
    GraftDvReaderFactory(inner, readDataSchema, partitionSchema,
      inlineMarks, sidecarDirsByLeaf, keepRowIndex, conf)
  }

  /** Re-wrap a computed batch plan as a STREAMING frame — what a v1
    * streaming Source's `getBatch` must return (MicroBatchExecution
    * asserts isStreaming). The plan's RDD is captured LAZILY, so the
    * change-derivation still executes fully distributed; only the
    * lineage node changes — the same `internalCreateDataFrame` wrap
    * Delta's source uses. */
  def streamingFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The sink-side inverse: re-wrap a micro-batch's STREAMING plan as a
    * batch frame so a v1 `Sink.addBatch` can hand it to batch writers
    * (DataFrameWriter refuses streaming plans). The RDD is captured
    * lazily — the micro-batch still computes fully distributed when the
    * sink's own write runs it; the same wrap Delta's sink uses. */
  def batchFrame(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)
}

/** Per-file deletion-vector skipping around the v2 parquet row reader.
  * Emitted row layout: [data columns…, row index if kept, partition
  * columns…] — the inner reader's row-index column (at ordinal `nData`)
  * is consumed by the position check. */
private[graft] final case class GraftDvReaderFactory(
    inner: FilePartitionReaderFactory,
    readDataSchema: StructType,
    partitionSchema: StructType,
    inlineMarks: Map[String, Array[Long]],
    sidecarDirsByLeaf: Map[String, Seq[String]],
    keepRowIndex: Boolean,
    conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {

  // the inner reader's row layout: readDataSchema ++ rowIndex ++ partitionSchema
  private val nData = readDataSchema.length
  private val nPartition = partitionSchema.length

  // mark keys are BARE leaf names (staged UUIDs — injective), as the
  // parquet marks store them
  private def leafOf(p: PartitionedFile): String = p.filePath.toPath.getName

  /** One sidecar dir, read ONCE and bucketed by leaf — a reader over a
    * partition holding k files of the same bulk delete must not scan
    * the shared sidecar k times. */
  private def loadDir(dir: String): Map[String, java.util.HashSet[java.lang.Long]] = {
    val byLeaf = scala.collection.mutable.HashMap.empty[String, java.util.HashSet[java.lang.Long]]
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf.value.value)
    fs.listStatus(dp).filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
      val rdr = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), st.getPath)
        .withConf(conf.value.value)
        .build()
      try {
        var g = rdr.read()
        while (g != null) {
          byLeaf.getOrElseUpdate(g.getString("__file", 0),
            new java.util.HashSet[java.lang.Long]()).add(g.getLong("__row", 0)): Unit
          g = rdr.read()
        }
      } finally rdr.close()
    }
    byLeaf.toMap
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[FilePartition].files.toIterator
    val dirCache = scala.collection.mutable.HashMap.empty[
      String, Map[String, java.util.HashSet[java.lang.Long]]]
    def marksFor(leaf: String): java.util.HashSet[java.lang.Long] = {
      val set = new java.util.HashSet[java.lang.Long]()
      inlineMarks.getOrElse(leaf, Array.empty[Long]).foreach(p => set.add(p))
      sidecarDirsByLeaf.getOrElse(leaf, Nil).foreach { dir =>
        dirCache.getOrElseUpdate(dir, loadDir(dir)).get(leaf).foreach(set.addAll(_): Unit)
      }
      set
    }
    // chain per-file readers lazily — each with ITS file's mark set
    new PartitionReader[InternalRow] {
      private var current: PartitionReader[InternalRow] = _
      private var row: InternalRow = _
      private var marks: java.util.HashSet[java.lang.Long] = _
      // projection keeping [0..nData-1], the row index at nData when
      // kept, and [nData+1..nData+nPartition]
      private val project: UnsafeProjection = {
        val fields = readDataSchema.fields ++
          Array(DsvBridge.rowIndexField) ++ partitionSchema.fields
        val kept = (0 until nData) ++ (if (keepRowIndex) Seq(nData) else Nil) ++
          (nData + 1 to nData + nPartition)
        UnsafeProjection.create(kept.map(i =>
          BoundReference(i, fields(i).dataType, fields(i).nullable)))
      }
      private def advanceFile(): Boolean =
        if (!files.hasNext) false
        else {
          val f = files.next()
          if (current != null) current.close()
          current = inner.buildReader(f)
          marks = marksFor(leafOf(f))
          true
        }
      override def next(): Boolean = {
        if (current == null && !advanceFile()) return false
        while (true) {
          if (current.next()) {
            val r = current.get()
            if (!marks.contains(r.getLong(nData))) {
              row = project(r)
              return true
            }
          } else if (!advanceFile()) return false
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (current != null) current.close()
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean = false
}
