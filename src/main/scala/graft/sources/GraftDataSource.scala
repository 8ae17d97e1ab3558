package graft.sources

import java.util.{Locale, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Cast, EqualTo, EvalMode, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.graft.DsvBridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The TRANSACTIONAL TABLE as a native Spark DataSource v2 —
  * `spark.read.format("graft").load(path)` (and SQL over a
  * `CREATE TABLE … USING graft` entry) plans INSIDE Catalyst with the
  * commit log's file skipping:
  *
  *   - [[GraftScanBuilder]] receives the query's own pushed filters
  *     (`SupportsPushDownFilters`) and prunes files through the SAME
  *     stats walk `readWhere` uses ([[TxStats.pruneSnapFiles]] —
  *     partition dirs, min/max ranges, blooms, all from log metadata,
  *     zero file IO). Every filter is also returned as a post-scan
  *     filter: file pruning is approximate, Spark re-evaluates.
  *   - [[GraftScan]] additionally accepts RUNTIME filters
  *     (`SupportsRuntimeFiltering`) — the dynamic-pruning `IN` sets a
  *     broadcast dimension build hands over at execution start — and
  *     re-plans its input partitions against them. That is the plan
  *     every star join over a 100 TB fact table wants: the dim
  *     predicate prunes FACT FILES before a single task launches,
  *     which no rewrite before analysis can do (the dim's surviving
  *     keys exist only once its filter runs; VERDICT r14 #1).
  *   - Reading delegates to Spark's own v2 parquet reader factory
  *     (vectorized, whole-stage-codegen'd, row-group pushdown) —
  *     see [[org.apache.spark.sql.graft.DsvBridge]]. Splits are sized
  *     and bin-packed by Spark's own formulas from the log's `#size`
  *     facts: planning costs ZERO per-file filesystem RPCs.
  *   - Deletion vectors apply per file in the reader (row-index skip,
  *     sidecar marks loaded executor-side); snapshots without marks
  *     keep full vectorization.
  *   - `option("versionAsOf", n)` / `option("timestampAsOf", ts)` pin
  *     a historical snapshot — pruning then uses the ranges the log
  *     knew AT that version, exactly like [[TxStore.readWhereAt]].
  *   - Each scan plans once per runtime-filter state into one record
  *     ([[GraftScan.Planned]]) that every `BatchScanExec` copy reads,
  *     and reports it as four driver metrics, which Spark posts after
  *     runtime filtering to the SQL UI and the event log. The exact
  *     file sets stay on the record: [[GraftScan.planned]].
  *
  * Column order note: the scan's OUTPUT order is the requested order
  * (declared schema for `select *`) — the parquet factory emits
  * data-columns-first/partition-columns-last, and
  * [[GraftReorderReaderFactory]] permutes that back (vector reshuffle
  * per batch, zero copies), so reads keep the declared column order. */
class GraftDataSource extends TableProvider with DataSourceRegister
  with StreamSourceProvider with StreamSinkProvider {

  override def shortName(): String = "graft"

  // inferSchema/inferPartitioning/getTable all receive the same options
  // for one load — resolve ONCE so the table pins one snapshot (a
  // commit racing between calls must not split the table's identity)
  private var resolved: GraftTable = null

  private def resolve(options: CaseInsensitiveStringMap): GraftTable = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft: a table path is required — spark.read.format(\"graft\").load(path)"))
    val version: Option[Long] =
      Option(options.get("versionAsOf")).map(_.trim.toLong)
        .orElse(Option(options.get("timestampAsOf")).map(ts =>
          TxStore.versionAtTimestamp(spark, path, parseTs(ts))))
    val mergeSchema =
      Option(options.get("mergeSchema")).exists(_.trim.equalsIgnoreCase("true"))
    if (!TxStore.isTable(spark, path)) {
      // a WRITE may CREATE the table here (df.write.format("graft") on
      // a fresh path — the first commit establishes it, exactly like a
      // creating TxStore.append); time travel over nothing is
      // meaningless. KNOWN TRADEOFF: a mistyped READ path no longer
      // fails at load() — schema-only uses see a zero-column CREATABLE
      // relation (name() says so) and the "not a transactional table"
      // error surfaces at scan build; the cost of supporting creation
      // through a path-based TableProvider, which cannot tell a read
      // from a write at resolution time.
      require(version.isEmpty, s"graft: not a transactional table: $path")
      // surface probable typos before an action runs (ADVICE r16): a
      // schema-only consumer of a misspelled READ path sees only this
      // warning and a zero-column relation until scan build refuses
      GraftDataSource.log.warn(
        s"graft: $path is not a transactional table (yet) — resolved as CREATABLE; " +
          "writes may establish it, reads will fail at scan build")
      return new GraftTable(spark, path, TxStore.snapshot(spark, path), exists = false)
    }
    val snap = version.fold(TxStore.snapshot(spark, path))(TxStore.snapshotAt(spark, path, _))
    new GraftTable(spark, path, snap, mergeSchema = mergeSchema)
  }

  private def parseTs(s: String): Long = {
    val t = s.trim
    if (t.forall(_.isDigit)) t.toLong
    else scala.util.Try(java.sql.Timestamp.valueOf(t).getTime)
      .orElse(scala.util.Try(java.time.Instant.parse(t).toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"graft: cannot parse timestampAsOf '$s' (epoch millis, " +
          "'yyyy-MM-dd HH:mm:ss[.f]' or ISO-8601 instant)"))
  }

  private var resolvedKey: String = null

  private def cached(options: CaseInsensitiveStringMap): GraftTable = {
    // key on everything that picks the snapshot — a reused provider
    // instance must never serve a stale table for a different
    // version/timestamp ask on the same path
    val key = Seq("path", "versionAsOf", "timestampAsOf", "mergeSchema")
      .map(k => Option(options.get(k)).getOrElse("")).mkString("\u0000")
    if (resolved == null || resolvedKey != key) {
      resolved = resolve(options)
      resolvedKey = key
    }
    resolved
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    cached(options).schema()

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    cached(options).partitioning()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    cached(new CaseInsensitiveStringMap(properties))

  // ── streaming: the change feed as a v1 Source (see GraftCdfSource's
  // architecture note — getBatch returns the readChangesBetween plan,
  // which no per-partition reader could express). The v2 table reports
  // BATCH_READ only, so DataStreamReader falls back to this provider —
  // the same v1-source-behind-a-v2-table shape Delta ships.
  private def param(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private def streamPath(parameters: Map[String, String]): String =
    param(parameters, "path").getOrElse(throw new IllegalArgumentException(
      "graft: a table path is required — spark.readStream.format(\"graft\").load(path)"))

  override def sourceSchema(
      sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", graft.streaming.GraftCdfSource.cdfSchema(
      sqlContext.sparkSession, streamPath(parameters)))

  override def createSource(
      sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new graft.streaming.GraftCdfSource(
      sqlContext.sparkSession,
      streamPath(parameters),
      param(parameters, "startingVersion").map(_.trim.toLong).getOrElse(0L),
      metadataPath)

  // ── streaming SINK: `writeStream.format("graft")` — each micro-batch
  // lands as ONE idempotent commit through TxStore.appendOnce, stamped
  // (queryId, batchId) so a crash/restart redelivery is a no-op (the
  // exactly-once contract). A v1 Sink for the same reason as the
  // source: the v2 table reports no STREAMING_WRITE, so
  // DataStreamWriter falls back here — the shape Delta ships.
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
    : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft: the streaming sink appends immutable micro-batches — $outputMode output " +
        "is not supported (aggregate with watermarks upstream, or use foreachBatch + merge)")
    new graft.streaming.GraftSink(
      streamPath(parameters),
      param(parameters, "txnAppId"),
      partitionColumns)
  }
}

private[sources] object GraftDataSource {
  val log: org.slf4j.Logger = org.slf4j.LoggerFactory.getLogger(classOf[GraftDataSource])
}

/** One pinned snapshot of a transactional table, as a v2 Table.
  * `exists = false` marks a CREATABLE table (fresh path): writes may
  * establish it, reads refuse at scan build. `writable = false` marks a
  * historical snapshot a catalog loaded: reads only. */
final class GraftTable(
    val spark: SparkSession,
    val path: String,
    val snap: TxStore.Snapshot,
    val exists: Boolean = true,
    val mergeSchema: Boolean = false,
    val writable: Boolean = true) extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  private[sources] val logical: StructType =
    TxStore.logicalSchema(snap).getOrElse {
      if (!exists || snap.files.isEmpty) new StructType()
      else throw new IllegalArgumentException(
        s"graft: table at $path carries no log schema")
    }

  private def lc(s: String) = s.toLowerCase(Locale.ROOT)
  private val logicalByPhys: Map[String, String] =
    snap.mapping.map { case (l, p) => lc(p) -> l }.toMap
  private[sources] val partitionLogical: Seq[String] =
    snap.partitioning.map(p => logicalByPhys.getOrElse(lc(p), p))

  /** A SQL identifier (Spark's error messages quote it) naming the
    * path and the version. */
  override def name(): String = {
    val at = if (exists) s"@v${snap.version}" else " (not yet a table)"
    s"graft.`${(path + at).replace("`", "``")}`"
  }

  override def schema(): StructType = logical

  /** The log's property set (`SHOW TBLPROPERTIES`, `DESCRIBE TABLE
    * EXTENDED`). */
  override def properties(): JMap[String, String] = snap.properties.toMap.asJava

  /** `SHOW PARTITIONS`: the live files' directories, decoded like the
    * scan decodes them; the layout is the log's, so create, drop and
    * replace refuse. */
  override def partitionSchema(): StructType =
    StructType(partitionLogical.flatMap(n => logical.find(_.name.equalsIgnoreCase(n))))

  override def listPartitionIdentifiers(names: Array[String], ident: InternalRow): Array[InternalRow] = {
    val fields = partitionSchema().fields
    val at = names.map(n => fields.indexWhere(_.name == n))
    snap.files.map(GraftPartitionEval.rawValues).distinct.map { raw =>
      new GenericInternalRow(snap.partitioning.zip(fields).map { case (p, f) =>
        raw.get(lc(p)).flatten.map(GraftPartitionEval.catalystValue(spark, _, f.dataType)).orNull
      }.toArray): InternalRow
    }.filter(p => at.indices.forall(k =>
      p.get(at(k), fields(at(k)).dataType) == ident.get(k, fields(at(k)).dataType))).toArray
  }

  override def loadPartitionMetadata(ident: InternalRow): JMap[String, String] =
    java.util.Collections.emptyMap()
  override def createPartition(ident: InternalRow, props: JMap[String, String]): Unit = fixedLayout()
  override def dropPartition(ident: InternalRow): Boolean = fixedLayout()
  override def replacePartitionMetadata(ident: InternalRow, props: JMap[String, String]): Unit =
    fixedLayout()

  private def fixedLayout(): Nothing = throw new UnsupportedOperationException(
    s"graft: the partitions of $path are its files' directories — write or delete rows instead")

  override def partitioning(): Array[Transform] =
    partitionLogical.map(Expressions.identity).toArray

  /** BATCH_READ + the V1-fallback WRITE set (the Delta shape):
    * V1_BATCH_WRITE routes AppendData/OverwriteByExpression through
    * [[GraftWriteBuilder]]'s `V1Write` → `InsertableRelation`, whose
    * insert IS [[TxStore.append]]/[[TxStore.overwrite]] — one staged
    * commit with the full discipline (stats/null/bloom harvest,
    * partition layout, constraints, exactly-once txn stamps), proven
    * ≡ the API twins rather than re-implemented. OVERWRITE_DYNAMIC
    * (`partitionOverwriteMode=dynamic`) takes the same V1 write, planned
    * by [[GraftDml]].
    *
    * Schema contract (Delta's): writes resolve BY NAME against the log
    * schema — the analyzer reorders and safe-casts, and refuses drift.
    * ACCEPT_ANY_SCHEMA lifts that gate ONLY for a creating write (no
    * schema to resolve against yet) or an explicit
    * `option("mergeSchema", "true")`, where the log's own name-based
    * evolution takes over. Positional SQL (`INSERT INTO t VALUES …`)
    * keeps exact resolution either way — its frame reaches the write
    * already renamed to the table schema. */
  override def capabilities(): java.util.Set[TableCapability] = {
    if (!writable) return java.util.EnumSet.of(TableCapability.BATCH_READ)
    val caps = java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      // BATCH_WRITE routes DataFrameWriter.save onto the v2 plans
      // (AppendData/OverwriteByExpression); V1_BATCH_WRITE satisfies
      // the analyzer's capability check for the V1Write the builder
      // actually returns (exec dispatch is on the Write instance)
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
    if (!exists || mergeSchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA): Unit
    caps
  }

  /** HIDDEN metadata columns (Iceberg's `_file`, Delta's
    * `_metadata.file_path` re-derived on the log): `_file` is the data
    * file's table-relative path, `_commit_version` the commit that
    * (re-)added it in the retained log (checkpoints restate adds, so
    * truncated history reports the checkpoint) — both are PER-FILE
    * CONSTANTS synthesized at planning time from log metadata and
    * appended through the partition-value channel, zero extra IO at any
    * table size. `_row_index` is the row's position in its file, which
    * the parquet reader fills (the key deletion marks use). Resolved
    * only when referenced by name; a (pathological) table column with
    * the same name shadows the metadata column. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val taken = logical.fieldNames.map(n => n.toLowerCase(Locale.ROOT)).toSet
    GraftMetaColumns.all.filterNot(c => taken(c.name.toLowerCase(Locale.ROOT)))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(exists, s"graft: not a transactional table: $path")
    new GraftScanBuilder(this)
  }

  /** DELETE plans through [[GraftDml]] (the analyzer only asks that a
    * v2 table support deletes at all); what stays here is `TRUNCATE
    * TABLE`, which Spark runs as `truncateTable()`: one remove-all
    * commit ([[TxStore.truncate]]). A read-only snapshot refuses loudly
    * rather than let the default change nothing in silence. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    require(writable, s"graft: $path @v${snap.version} is a historical snapshot — read-only")
    exists && filters.forall(_.isInstanceOf[sources.AlwaysTrue])
  }

  override def deleteWhere(filters: Array[Filter]): Unit = TxStore.truncate(spark, path): Unit

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(this, info)
}

final class GraftScanBuilder(table: GraftTable)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = table.logical
  private var pushed: Array[Filter] = Array.empty
  private var consumed: Array[Filter] = Array.empty
  private var postScan: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[Array[Any]])] = None

  /** Filters over PARTITION columns that evaluate exactly per file from
    * the hive path values are CONSUMED by the scan (no post-scan
    * re-evaluation — the same contract Spark's own file sources use for
    * partition filters; [[GraftPartitionEval]] is tri-state-strict, so
    * a filter is only consumed when every live file gets a definite
    * verdict). Everything else returns as post-scan: file/row-group
    * skipping on data-column stats is approximate, the predicate must
    * still evaluate exactly once above the scan. The log walk prunes on
    * every translatable filter either way, and translatable filters
    * also reach the parquet reader for row-group pruning. */
  // one memoizing evaluator per scan build — partition verdicts are
  // per-directory, paid once across consumability, the aggregate walk
  // and the scan's kept set
  private val partitionEval = new GraftPartitionEval.Evaluator(table)
  private lazy val exactKeptFiles: Seq[String] = partitionEval.keptFiles(consumed)

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (c, post) = filters.partition(partitionEval.consumable)
    consumed = c
    postScan = post
    pushed = filters.filter(f => GraftFilters.toCatalyst(f).isDefined)
    post
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (pushedAgg.isEmpty) required = requiredSchema

  /** METADATA-ONLY aggregates: COUNT(*)/COUNT(col)/MIN(col)/MAX(col)
    * over a table without deletion marks answers from the commit log's
    * own facts — `#rows` per file for counts, `<col>#n` null facts for
    * COUNT(col), min/max ranges (and hive path values for partition
    * columns) for MIN/MAX — with ZERO file IO at any table size
    * (parquet answers these from footers, one open per file; the log
    * answers them from memory). Allowed under a WHERE iff every
    * conjunct was CONSUMED exactly by partition evaluation (the kept
    * file set then contains precisely the qualifying rows), and under
    * GROUP BY iff every grouping column is a partition column (one row
    * per live partition-value combination). Exact-only: any kept file
    * missing a required fact refuses the whole pushdown, a MIN/MAX
    * column's files without a range must be PROVEN all-null by their
    * null facts, and NaN-tainted ranges were never harvested — the
    * fallback is simply the ordinary scan. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    compute(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    compute(agg) match {
      case Some(v) => pushedAgg = Some(v); true
      case None => false
    }
  }

  // supportCompletePushDown and pushAggregation arrive back to back
  // with the same Aggregation — memoize so the per-file facts walk
  // runs once per query, not twice
  private var lastAgg: AnyRef = null
  private var lastResult: Option[(StructType, Seq[Array[Any]])] = None

  private def compute(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
    : Option[(StructType, Seq[Array[Any]])] = {
    if (!(agg eq lastAgg)) {
      lastAgg = agg
      lastResult =
        if (postScan.nonEmpty) None // an unconsumed filter would re-evaluate over 1 row
        else GraftAggregates.compute(table.spark, table, agg, exactKeptFiles)
    }
    lastResult
  }

  override def build(): Scan =
    new GraftScan(table, required, pushed, exactKeptFiles, pushedAgg)
}

/** The table's hidden metadata columns (see
  * [[GraftTable.metadataColumns]]). */
private[sources] object GraftMetaColumns {
  import org.apache.spark.sql.connector.catalog.MetadataColumn
  final case class Col(name: String, dataType: DataType, override val comment: String)
    extends MetadataColumn {
    override def isNullable: Boolean = false
  }
  val File: Col = Col("_file", StringType,
    "table-relative path of the data file the row lives in")
  val CommitVersion: Col = Col("_commit_version",
    org.apache.spark.sql.types.LongType,
    "commit that (re-)added the row's file in the retained log")
  val RowIndex: Col = Col("_row_index", org.apache.spark.sql.types.LongType,
    "position of the row in its data file")
  val all: Array[MetadataColumn] = Array(File, CommitVersion, RowIndex)
  val names: Set[String] = Set(File.name, CommitVersion.name, RowIndex.name)
}

/** Exact per-file evaluation of v1 filters against hive PARTITION path
  * values — Kleene tri-state (`Some(Some(b))` definite, `Some(None)` =
  * SQL NULL, `None` = undecidable), so NULL partition dirs filter
  * correctly under NOT and a filter is consumed only when every live
  * file gets a definite verdict. This is what lets the scan drop the
  * post-scan re-evaluation for partition predicates (Spark's own file
  * sources' partition-filter contract) and what makes filtered
  * metadata-aggregates sound: kept files contain EXACTLY the
  * qualifying rows, because a partition column is constant per file. */
private[sources] object GraftPartitionEval {

  import java.util.Locale

  private def lc(s: String) = s.toLowerCase(Locale.ROOT)

  /** lc(physical column) → raw path value (None = the null dir) for a
    * staged file's relative path. */
  def rawValues(rel: String): Map[String, Option[String]] =
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(lc(TxStats.unescapePathName(seg.take(i))) -> {
        val raw = TxStats.unescapePathName(seg.drop(i + 1))
        if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw)
      })
    }.toMap

  /** The typed JVM value of a raw path segment under the LOGICAL field
    * type — None when the type is outside the exactly-comparable set
    * (timestamps and dates stay out: timezone/calendar parsing is not
    * worth an exactness bug; NON-ASCII strings stay out too — Java
    * String ordering is UTF-16 code-unit order while Spark orders by
    * UTF-8 binary, and a consumed filter's verdict is never
    * re-checked, so the orders must provably agree). */
  private def typed(raw: String, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => if (raw.forall(_ < 128)) Some(raw) else None
      case LongType | IntegerType | ShortType | ByteType =>
        scala.util.Try(java.lang.Long.valueOf(raw.trim)).toOption
      case DoubleType | FloatType =>
        scala.util.Try(java.lang.Double.valueOf(raw.trim)).toOption
      case BooleanType => raw.trim.toLowerCase(Locale.ROOT) match {
        case "true" => Some(java.lang.Boolean.TRUE)
        case "false" => Some(java.lang.Boolean.FALSE)
        case _ => None
      }
      case _: DecimalType =>
        scala.util.Try(new java.math.BigDecimal(raw.trim)).toOption
      case _ => None
    }
  }

  /** The exact GROUP-KEY value of a raw path segment under the LOGICAL
    * field type — stricter than [[typed]]: the parse must land in the
    * declared type's own value domain (Int overflow refuses; a decimal
    * needing rounding to the declared scale refuses; floats parse as
    * Float, not Double) so that key equality coincides exactly with
    * output-value equality under complete pushdown. None = refuse the
    * pushdown (a LEGACY cast could silently yield NULL or a merged
    * duplicate key). */
  private[sources] def typedKey(raw: String, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    val t = raw.trim
    dt match {
      case StringType => if (raw.forall(_ < 128)) Some(raw) else None
      case LongType => scala.util.Try(java.lang.Long.valueOf(t)).toOption
      case IntegerType => scala.util.Try(Integer.valueOf(t)).toOption
      case ShortType => scala.util.Try(java.lang.Short.valueOf(t)).toOption
      case ByteType => scala.util.Try(java.lang.Byte.valueOf(t)).toOption
      case DoubleType => scala.util.Try(java.lang.Double.valueOf(t)).toOption
      case FloatType => scala.util.Try(java.lang.Float.valueOf(t)).toOption
      case BooleanType => t.toLowerCase(Locale.ROOT) match {
        case "true" => Some(java.lang.Boolean.TRUE)
        case "false" => Some(java.lang.Boolean.FALSE)
        case _ => None
      }
      case d: DecimalType =>
        // setScale without a rounding mode throws when rounding would be
        // needed — exactly the refusal we want; the fixed scale makes
        // BigDecimal.equals (scale-sensitive) agree with value equality
        scala.util.Try(new java.math.BigDecimal(t).setScale(d.scale))
          .toOption.filter(_.precision <= d.precision)
      case _ => None
    }
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      scala.util.Try(BigDecimal(x.toString).compare(BigDecimal(y.toString))).toOption
    // both sides must be pure ASCII, where UTF-16 and UTF-8 binary
    // orders agree (the file side is guarded in typed(); the FILTER
    // value arrives from the query and must be checked here)
    case (x: String, y: String) if x.forall(_ < 128) && y.forall(_ < 128) =>
      Some(x.compareTo(y))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  /** Per-query memoizing wrapper: partition values are constant per
    * DIRECTORY, so verdicts memoize per (dir, filter) — a 100k-file
    * plan with 3 conjuncts does O(dirs × filters) evaluations, not
    * O(files × filters), and each dir's path parses once (the
    * partitionRanges memoization discipline). One instance per scan
    * build; single-threaded planning state. */
  final class Evaluator(table: GraftTable) {
    private val dirValues =
      scala.collection.mutable.HashMap.empty[String, Map[String, Option[String]]]
    private val verdicts =
      scala.collection.mutable.HashMap.empty[(String, Filter), Option[Option[Boolean]]]
    private def dirOf(rel: String): String = {
      val cut = rel.lastIndexOf('/')
      if (cut < 0) "" else rel.substring(0, cut + 1)
    }
    def eval(rel: String, f: Filter): Option[Option[Boolean]] = {
      val dir = dirOf(rel)
      verdicts.getOrElseUpdate((dir, f),
        evalValues(table, dirValues.getOrElseUpdate(dir, rawValues(rel)), f))
    }
    /** May the scan consume `f` (drop its post-scan re-evaluation)?
      * Yes iff every live file gets a definite verdict. */
    def consumable(f: Filter): Boolean =
      table.snap.files.forall(rel => eval(rel, f).isDefined)
    /** The files whose every row satisfies ALL consumed filters —
      * exact, because each filter evaluated definitely per file. */
    def keptFiles(consumed: Array[Filter]): Seq[String] =
      if (consumed.isEmpty) table.snap.files
      else table.snap.files.filter(rel =>
        consumed.forall(f => eval(rel, f).exists(_.contains(true))))
  }

  /** Kleene evaluation of `f` against ONE directory's partition values.
    * Outer None = undecidable; inner None = SQL NULL (filters drop the
    * row). */
  private def evalValues(
      table: GraftTable,
      raws: Map[String, Option[String]],
      f: Filter): Option[Option[Boolean]] = {
    val snap = table.snap
    val partPhys = snap.partitioning.map(lc).toSet
    val physFor = snap.mapping.map { case (l, p) => lc(l) -> p }.toMap
    // logical attr name → Some(value) iff it IS a partition column with
    // an exactly-typed value; the value itself is Option (null dir)
    def lookup(a: String): Option[Option[Any]] = {
      val phys = lc(physFor.getOrElse(lc(a), a))
      if (!partPhys(phys)) return None
      val dt = table.logical.fields.find(fd => lc(fd.name) == lc(a)).map(_.dataType)
      raws.get(phys) match {
        case Some(None) => Some(None) // explicit null dir
        case Some(Some(raw)) =>
          dt.flatMap(t => typed(raw, t)) match {
            case Some(v) => Some(Some(v))
            case None => None // unparseable / untyped — undecidable
          }
        case None => None // partition column missing from the path?!
      }
    }
    def bin(a: String, v: Any)(op: Int => Boolean): Option[Option[Boolean]] =
      if (v == null) lookup(a).map(_ => None) // col OP NULL is NULL
      else lookup(a).flatMap {
        case None => Some(None) // NULL OP v is NULL
        case Some(x) => cmp(x, v).map(c => Some(op(c)))
      }
    def kleeneAnd(
        l: Option[Option[Boolean]], r: Option[Option[Boolean]]): Option[Option[Boolean]] =
      (l, r) match {
        case (Some(Some(false)), _) | (_, Some(Some(false))) => Some(Some(false))
        case (Some(a), Some(b)) =>
          Some(if (a.contains(true) && b.contains(true)) Some(true) else None)
        case _ => None
      }
    def kleeneOr(
        l: Option[Option[Boolean]], r: Option[Option[Boolean]]): Option[Option[Boolean]] =
      (l, r) match {
        case (Some(Some(true)), _) | (_, Some(Some(true))) => Some(Some(true))
        case (Some(a), Some(b)) =>
          Some(if (a.contains(false) && b.contains(false)) Some(false) else None)
        case _ => None
      }
    f match {
      case sources.EqualTo(a, v) => bin(a, v)(_ == 0)
      case sources.GreaterThan(a, v) => bin(a, v)(_ > 0)
      case sources.GreaterThanOrEqual(a, v) => bin(a, v)(_ >= 0)
      case sources.LessThan(a, v) => bin(a, v)(_ < 0)
      case sources.LessThanOrEqual(a, v) => bin(a, v)(_ <= 0)
      case sources.EqualNullSafe(a, v) => lookup(a).flatMap {
        case None => Some(Some(v == null))
        case Some(x) => if (v == null) Some(Some(false)) else cmp(x, v).map(c => Some(c == 0))
      }
      case sources.In(a, vs) => lookup(a).flatMap {
        case None => Some(None) // NULL IN (...) is NULL
        case Some(x) =>
          val cs = vs.toSeq.filter(_ != null).map(v => cmp(x, v))
          if (cs.exists(_.isEmpty)) None
          else if (cs.exists(_.contains(0))) Some(Some(true))
          else Some(if (vs.contains(null)) None else Some(false))
      }
      case sources.IsNull(a) => lookup(a).map(v => Some(v.isEmpty))
      case sources.IsNotNull(a) => lookup(a).map(v => Some(v.nonEmpty))
      case sources.StringStartsWith(a, v) => strTest(lookup(a), v)(_.startsWith(_))
      case sources.StringEndsWith(a, v) => strTest(lookup(a), v)(_.endsWith(_))
      case sources.StringContains(a, v) => strTest(lookup(a), v)(_.contains(_))
      case sources.And(l, r) =>
        kleeneAnd(evalValues(table, raws, l), evalValues(table, raws, r))
      case sources.Or(l, r) =>
        kleeneOr(evalValues(table, raws, l), evalValues(table, raws, r))
      case sources.Not(x) => evalValues(table, raws, x).map(_.map(!_))
      case _: sources.AlwaysTrue => Some(Some(true))
      case _: sources.AlwaysFalse => Some(Some(false))
      case _ => None
    }
  }

  private def strTest(lk: Option[Option[Any]], v: String)(
      op: (String, String) => Boolean): Option[Option[Boolean]] =
    if (v == null) None
    else lk.flatMap {
      case None => Some(None)
      case Some(x: String) => Some(Some(op(x, v)))
      case _ => None
    }

  /** Raw path segment → catalyst value of `dt` — LEGACY cast semantics
    * (a malformed segment reads NULL rather than failing the scan). */
  def catalystValue(spark: SparkSession, raw: String, dt: DataType): Any =
    if (dt == StringType) UTF8String.fromString(raw)
    else Cast(Literal(UTF8String.fromString(raw), StringType), dt,
      Some(spark.sessionState.conf.sessionLocalTimeZone), EvalMode.LEGACY).eval(null)
}

/** The log-facts evaluator behind [[GraftScanBuilder.pushAggregation]].
  * `kept` is the EXACT file set the consumed partition filters selected
  * (all live files when unfiltered); GROUP BY is supported over
  * partition columns only — one output row per live partition-value
  * combination among the kept files. */
private[sources] object GraftAggregates {

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.types._

  def compute(
      spark: SparkSession,
      table: GraftTable,
      agg: Aggregation,
      kept: Seq[String]): Option[(StructType, Seq[Array[Any]])] = {
    val snap = table.snap
    // deletion marks hide rows the facts still count
    if (snap.dv.nonEmpty || snap.dvp.nonEmpty) return None
    def lc(s: String) = s.toLowerCase(Locale.ROOT)
    val physFor = snap.mapping.map { case (l, p) => lc(l) -> p }.toMap
    val pranges = TxStats.partitionRanges(snap)
    def facts(f: String): Map[String, TxStore.ColRange] =
      snap.stats.getOrElse(f, Map.empty) ++ pranges(f)
    def numFact(f: String, key: String): Option[BigDecimal] =
      facts(f).get(key).collect { case TxStore.NumRange(lo, _) => lo }
    def rowsOf(f: String): Option[Long] = numFact(f, "#rows").map(_.toLong)
    def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          val logicalName = nr.fieldNames()(0)
          table.logical.fieldNames.find(n => lc(n) == lc(logicalName))
        case _ => None
      }
    def fieldType(name: String): DataType =
      table.logical.fields.find(f => lc(f.name) == lc(name)).get.dataType
    def physName(l: String): String = physFor.getOrElse(lc(l), l)

    // GROUP BY: every grouping expression must resolve to a PARTITION
    // column — the path values ARE the group keys, so grouping costs
    // zero IO; anything else refuses
    val partPhys = snap.partitioning.map(lc).toSet
    val groupCols: Seq[String] = {
      val resolved = agg.groupByExpressions.toSeq.map(colName)
      if (resolved.exists(_.isEmpty)) return None
      val names = resolved.flatten
      if (!names.forall(n => partPhys(lc(physName(n))))) return None
      names
    }

    def countStar(files: Seq[String]): Option[Long] = {
      val rs = files.map(rowsOf)
      if (rs.exists(_.isEmpty)) None else Some(rs.flatten.sum)
    }

    def countCol(files: Seq[String], l: String): Option[Long] = {
      val phys = physName(l)
      // a PARTITION column has no per-file null fact — its nulls are the
      // null-dir files (every row null there, no row null elsewhere)
      if (partPhys(lc(phys))) {
        val perFile = files.map { f =>
          val isNullDir = GraftPartitionEval.rawValues(f).get(lc(phys)) match {
            case Some(None) => true
            case _ => false
          }
          rowsOf(f).map(r => if (isNullDir) 0L else r)
        }
        if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
      } else {
        val perFile = files.map { f =>
          for { r <- rowsOf(f); n <- numFact(f, s"$phys#n") } yield r - n.toLong
        }
        if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
      }
    }

    /** Exact endpoint reconstruction — only types whose harvested
      * decimal round-trips losslessly (the harvest already drops NaN,
      * non-ASCII and over-64-char bounds, so an unsupported value means
      * an ABSENT fact, never a wrong one). */
    def endpointValue(dt: DataType, r: TxStore.ColRange, lo: Boolean): Option[Any] =
      (dt, r) match {
        case (LongType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toLongExact)
        case (IntegerType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toIntExact)
        case (ShortType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toShortExact)
        case (ByteType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toByteExact)
        case (DoubleType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toDouble)
        case (FloatType, TxStore.NumRange(a, b)) => Some((if (lo) a else b).toFloat)
        case (StringType, TxStore.StrRange(a, b)) =>
          Some(UTF8String.fromString(if (lo) a else b))
        case _ => None
      }

    def minMax(files: Seq[String], l: String, lo: Boolean): Option[Any] = {
      val phys = physName(l)
      val dt = fieldType(l)
      val contrib = files.map { f =>
        // a `#x` file's footer stats are PRUNE-ONLY (convert-adopted
        // foreign writer — possibly truncated/NaN-ignoring bounds):
        // refuse MIN/MAX over it, unless the column is a partition
        // column whose value the log parsed from the PATH (writer-
        // independent, exact)
        if (facts(f).contains("#x") && !partPhys(lc(phys))) None
        else facts(f).get(phys) match {
          case Some(r) => endpointValue(dt, r, lo).map(Some(_))
          case None =>
            // no range: sound ONLY if the file is PROVEN all-null for
            // this column — by null facts, or by BEING the null dir of a
            // partition column — then it contributes nothing
            if (partPhys(lc(phys))) {
              GraftPartitionEval.rawValues(f).get(lc(phys)) match {
                case Some(None) => Some(None) // null dir
                case _ => None // typed-range parse failed — refuse
              }
            } else (numFact(f, s"$phys#n"), rowsOf(f)) match {
              case (Some(n), Some(rows)) if n.toLong == rows => Some(None)
              case _ => None // unprovable — refuse the pushdown
            }
        }
      }
      if (contrib.exists(_.isEmpty)) return None
      val values = contrib.flatten.flatten
      if (values.isEmpty) Some(null) // every row null → SQL NULL
      else Some(values.reduce { (a, b) =>
        val cmp = (a, b) match {
          case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
          case (x: java.lang.Integer, y: java.lang.Integer) => Integer.compare(x, y)
          case (x: java.lang.Short, y: java.lang.Short) => java.lang.Short.compare(x, y)
          case (x: java.lang.Byte, y: java.lang.Byte) => java.lang.Byte.compare(x, y)
          case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
          case (x: java.lang.Float, y: java.lang.Float) => java.lang.Float.compare(x, y)
          case (x: UTF8String, y: UTF8String) => x.compareTo(y)
          case _ => return None
        }
        if ((cmp <= 0) == lo) a else b
      })
    }

    // schema AND per-group evaluators, per func — the contract is
    // positional: group-by columns FIRST, then one typed field per
    // aggregate (count → non-null LongType, min/max → the column's own
    // type). Broader than the shared parquet helper, which refuses
    // strings (footer truncation risk — the log's harvested bounds are
    // exact or absent) and partition columns (no footer to read — the
    // log parses path values).
    val defs: Array[Option[(StructType => StructType, Seq[String] => Option[Any])]] =
      agg.aggregateExpressions.map {
        case _: CountStar => Some((
          (st: StructType) => st.add("count(*)", LongType, nullable = false),
          (files: Seq[String]) =>
            countStar(files).map(java.lang.Long.valueOf(_): Any)))
        case c: Count if !c.isDistinct =>
          colName(c.column).map(n => (
            (st: StructType) => st.add(s"count($n)", LongType, nullable = false),
            (files: Seq[String]) =>
              countCol(files, n).map(java.lang.Long.valueOf(_): Any)))
        case m: Min =>
          colName(m.column).map(n => (
            (st: StructType) => st.add(s"min($n)", fieldType(n), nullable = true),
            (files: Seq[String]) => minMax(files, n, lo = true)))
        case m: Max =>
          colName(m.column).map(n => (
            (st: StructType) => st.add(s"max($n)", fieldType(n), nullable = true),
            (files: Seq[String]) => minMax(files, n, lo = false)))
        case _ => None
      }
    if (defs.exists(_.isEmpty)) return None
    val evals = defs.flatten

    // one group per live partition-value combination among the kept
    // files (deterministic order for stable plans); the ungrouped case
    // is the single all-kept group. Keys are the exact TYPED values —
    // not raw directory strings — because supportCompletePushDown means
    // Spark never re-merges: two raws casting to one typed value
    // (part=01 vs part=1 on INT) must land ONE row, and a raw that
    // fails exact typed parsing (part=abc, overflow, rounding-needed
    // decimal) refuses the whole pushdown rather than LEGACY-casting to
    // a NULL key that would silently merge with the genuine null dir
    // (the consumption discipline, applied to group keys).
    val groups: Seq[(Seq[Option[String]], Seq[String])] =
      if (groupCols.isEmpty) Seq((Nil, kept))
      else {
        val keyed: Seq[Option[(Seq[Option[Any]], Seq[Option[String]], String)]] =
          kept.map { f =>
            val raws = GraftPartitionEval.rawValues(f)
            val rawKey = groupCols.map(n => raws.getOrElse(lc(physName(n)), None))
            val typed = rawKey.zip(groupCols).map {
              case (None, _) => Some(None) // genuine null dir
              case (Some(r), n) =>
                GraftPartitionEval.typedKey(r, fieldType(n)).map(Some(_))
            }
            if (typed.exists(_.isEmpty)) None
            else Some((typed.map(_.get), rawKey, f))
          }
        if (keyed.exists(_.isEmpty)) return None
        keyed.flatten.groupBy(_._1).toSeq
          .sortBy(_._1.map(_.map(_.toString).getOrElse("\u0000")).mkString("\u0001"))
          .map { case (_, members) => (members.head._2, members.map(_._3)) }
      }

    val schema0 = groupCols.foldLeft(new StructType())(
      (st, n) => st.add(n, fieldType(n), nullable = true))
    val schema = evals.foldLeft(schema0)((st, d) => d._1(st))
    val rows: Seq[Option[Array[Any]]] = groups.map { case (key, files) =>
      val vals = evals.map(_._2(files))
      if (vals.exists(_.isEmpty)) None
      else Some((key.zip(groupCols).map { case (raw, n) =>
        raw.map(r =>
          GraftPartitionEval.catalystValue(spark, r, fieldType(n))).orNull
      } ++ vals.map(_.get)).toArray)
    }
    if (rows.exists(_.isEmpty)) None else Some((schema, rows.flatten))
  }
}

/** The batch scan: plans input splits from log metadata, prunes on
  * pushed AND runtime filters, reads through Spark's v2 parquet
  * machinery. */
final class GraftScan(
    table: GraftTable,
    required: StructType,
    pushedV1: Array[Filter],
    /** The files the builder's CONSUMED partition filters kept — exact
      * (no post-scan re-evaluation happens for those filters; see
      * [[GraftScanBuilder.pushFilters]]). All live files when none. */
    exactKept: Seq[String],
    pushedAgg: Option[(StructType, Seq[Array[Any]])] = None)
  extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics {

  private val spark = table.spark
  private val path = table.path
  private val snap = table.snap
  private def lc(s: String) = s.toLowerCase(Locale.ROOT)

  private val physForLogical: Map[String, String] =
    snap.mapping.map { case (l, p) => lc(l) -> p }.toMap
  private def physName(l: String): String = physForLogical.getOrElse(lc(l), l)
  private val partPhysSet: Set[String] = snap.partitioning.map(lc).toSet
  private def isPartition(logicalName: String): Boolean =
    partPhysSet(lc(physName(logicalName)))

  // requested columns split data-first, partition-last (the layout the
  // parquet factory emits); physical names face the files. HIDDEN
  // metadata columns (requested by name only) ride the partition-value
  // channel: per-file constants appended after the real partition
  // columns, synthesized from log metadata at planning time. The row
  // index instead rides the reader's row-index field, right after the
  // data columns.
  private def isMeta(n: String): Boolean =
    GraftMetaColumns.names.exists(_.equalsIgnoreCase(n)) &&
      !table.logical.fieldNames.exists(_.equalsIgnoreCase(n))
  private val rowIndex: Option[StructField] = required.fields.find(f =>
    isMeta(f.name) && f.name.equalsIgnoreCase(GraftMetaColumns.RowIndex.name))
  private val readMetaSchema =
    StructType(required.fields.filter(f => isMeta(f.name) && !rowIndex.contains(f)))
  private val readPartitionSchemaL =
    StructType(required.fields.filter(f => !isMeta(f.name) && isPartition(f.name)))
  private val readDataSchemaL =
    StructType(required.fields.filterNot(f => isMeta(f.name) || isPartition(f.name)))
  private val emittedPartSchema =
    StructType(readPartitionSchemaL.fields ++ readMetaSchema.fields)
  private val readDataSchemaP =
    StructType(readDataSchemaL.fields.map(f => f.copy(name = physName(f.name))))
  private val dataSchemaP = StructType(table.logical.fields
    .filterNot(f => isPartition(f.name)).map(f => f.copy(name = physName(f.name))))

  /** The commit that (re-)added each live file, for `_commit_version` —
    * one retained-log walk, file-name scale, computed only when the
    * column is actually requested. */
  private lazy val addVersion: Map[String, Long] =
    TxStore.history(spark, path).filter(_.version <= snap.version)
      .flatMap(c => c.add.map(_ -> c.version)).toMap

  // what the underlying factories physically emit: data columns first,
  // then partition values, then metadata constants (the parquet-reader
  // layout). The scan's DECLARED output is `required`'s own order —
  // the reorder wrapper permutes emitted → declared so positional
  // consumers (select *, df.collect) see the declared column order.
  private val emittedSchema = StructType(
    readDataSchemaL.fields ++ rowIndex ++ readPartitionSchemaL.fields ++ readMetaSchema.fields)

  override def readSchema(): StructType = pushedAgg match {
    case Some((aggSchema, _)) => aggSchema
    case None => required
  }

  override def toBatch: Batch = this

  private val pushedCatalyst: Seq[Expression] =
    pushedV1.flatMap(GraftFilters.toCatalyst).toSeq
  // guarded by `this`: every BatchScanExec copy plans and filters the
  // scan again, and an equal filter set keeps the record
  private var runtime: Seq[Filter] = Nil
  private var plan: (GraftScan.Planned, Array[InputPartition]) = null

  /** Columns a runtime filter can prune files on: the partition
    * columns plus every column the log carries stats or blooms for —
    * reported by LOGICAL name, restricted to the scan's own (pruned)
    * output: Spark resolves these against readSchema, and a runtime
    * filter on any other column would pass the walk untouched anyway. */
  override def filterAttributes(): Array[NamedReference] = if (pushedAgg.isDefined) Array.empty else {
    val statPhys = snap.stats.valuesIterator
      .flatMap(_.keysIterator)
      .map(k => k.takeWhile(_ != '#'))
      .filter(_.nonEmpty)
      .toSet
    val logicalByPhys = snap.mapping.map { case (l, p) => lc(p) -> l }.toMap
    val out = readSchema().fieldNames
    (statPhys ++ snap.partitioning)
      .map(p => logicalByPhys.getOrElse(lc(p), p))
      .flatMap(n => out.find(f => lc(f) == lc(n)))
      .toSeq.distinct
      .map(Expressions.column)
      .toArray
  }

  override def filter(filters: Array[Filter]): Unit = synchronized {
    if (filters.toSeq != runtime) {
      runtime = filters.toSeq
      plan = null
    }
  }

  private def prunedFiles(runtime: Seq[Filter]): (Seq[String], Seq[String]) = {
    val preds = pushedCatalyst ++ runtime.flatMap(GraftFilters.toCatalyst)
    // a dynamic-pruning IN with an EMPTY build side matches nothing —
    // catalyst In cannot carry zero values, so test it directly
    if (runtime.exists { case sources.In(_, vs) => vs.isEmpty; case _ => false })
      (Nil, snap.files)
    else if (preds.isEmpty) (exactKept, snap.files.diff(exactKept))
    else {
      val (kept, skipped) = TxStats.pruneFileSubset(snap, preds.reduce(And), exactKept)
      (kept, skipped ++ snap.files.diff(exactKept))
    }
  }

  /** The pushed filters' (kept, skipped) files and the kept files'
    * sizes: one stats walk, shared by the size estimate and the plan
    * without runtime filters. */
  private lazy val pushedPlan: (Seq[String], Seq[String], Map[String, Long]) = {
    val (kept, skipped) = prunedFiles(Nil)
    (kept, skipped, TxStats.fileSizes(spark, path, snap, kept))
  }

  private def current: (GraftScan.Planned, Array[InputPartition]) = synchronized {
    if (plan == null) {
      // an aggregate answered from log facts plans ZERO files
      val (kept, skipped) =
        if (pushedAgg.isDefined) (Nil, snap.files)
        else if (runtime.isEmpty) (pushedPlan._1, pushedPlan._2)
        else prunedFiles(runtime)
      plan = (GraftScan.Planned(snap.version, kept, skipped, runtime.size,
          runtime.map(_.toString), pushedAgg.isDefined),
        pushedAgg.fold(fileSplits(kept))(a => Array(GraftAggPartition(a._2.map(_.toSeq)))))
    }
    plan
  }

  private def runtimeFilters: Seq[Filter] = synchronized(runtime)

  /** What the scan plans from: two reads of one frame compare equal,
    * so a plan reuses their exchanges. */
  private def inputs: (String, TxStore.Snapshot, StructType, Seq[Filter], Seq[String],
      Option[(StructType, Seq[Seq[Any]])]) =
    (path, snap, required, pushedV1.toSeq, exactKept,
      pushedAgg.map { case (st, rows) => (st, rows.map(_.toSeq)) })

  override def equals(other: Any): Boolean = other match {
    case that: GraftScan =>
      (this eq that) || (inputs == that.inputs && runtimeFilters == that.runtimeFilters)
    case _ => false
  }

  override def hashCode(): Int = (path, snap.version, required, pushedV1.toSeq).hashCode()

  /** What this scan planned under its current runtime filters. */
  def planned: GraftScan.Planned = current._1

  override def planInputPartitions(): Array[InputPartition] = current._2

  override def supportedCustomMetrics(): Array[CustomMetric] = GraftScan.metrics.toArray

  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val p = planned
    GraftScan.metrics.map(m => GraftScan.Value(m.name(), m.of(p)): CustomTaskMetric).toArray
  }

  private def fileSplits(kept: Seq[String]): Array[InputPartition] = {
    if (kept.isEmpty) return Array.empty
    // runtime filters only add conjuncts: they keep a subset of the
    // pushed-filter files
    val sizes = pushedPlan._3
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = DsvBridge.maxSplitBytes(spark, kept.iterator.map(sizes(_) + openCost).sum)
    val splits = kept.flatMap { rel =>
      val size = sizes(rel)
      val pv = partitionValuesOf(rel)
      val abs = s"$path/${TxSnapshot.DataDir}/$rel"
      if (size == 0L) Seq(DsvBridge.partitionedFile(pv, abs, 0L, 0L, size))
      else (0L until size by maxSplit).map(start =>
        DsvBridge.partitionedFile(pv, abs, start, math.min(maxSplit, size - start), size))
    }
    DsvBridge.filePartitions(spark, splits.sortBy(-_.length), maxSplit)
  }

  /** Path segments → typed partition values, in the PRUNED partition
    * schema's order. LEGACY cast semantics: a malformed segment reads
    * NULL rather than failing the scan (values are Spark-written, so
    * this is purely defensive). */
  private def partitionValuesOf(rel: String): InternalRow =
    if (emittedPartSchema.isEmpty) InternalRow.empty
    else {
      val raw = GraftPartitionEval.rawValues(rel)
      val values: Array[Any] = readPartitionSchemaL.fields.map { f =>
        raw.get(lc(physName(f.name))).flatten
          .map(GraftPartitionEval.catalystValue(spark, _, f.dataType)).orNull
      }
      val meta: Array[Any] = readMetaSchema.fields.map { f =>
        if (f.name.equalsIgnoreCase(GraftMetaColumns.File.name))
          UTF8String.fromString(rel): Any
        else java.lang.Long.valueOf(addVersion.getOrElse(rel, snap.version)): Any
      }
      new GenericInternalRow(values ++ meta)
    }

  // deletion marks and row positions need the row-based reader; only
  // marks on the pushed-pruned files count (runtime filters keep a
  // subset of them), so a mark elsewhere leaves this scan columnar
  private lazy val rowBased: Boolean = rowIndex.isDefined ||
    pushedPlan._1.exists(f => snap.dv.contains(f) || snap.dvp.contains(f))

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (pushedAgg.isDefined || rowBased) Scan.ColumnarSupportMode.UNSUPPORTED
    else Scan.ColumnarSupportMode.PARTITION_DEFINED

  override def createReaderFactory(): PartitionReaderFactory =
    if (pushedAgg.isDefined) GraftAggReaderFactory()
    else GraftReorderReaderFactory.wrap(
      if (!rowBased)
        DsvBridge.parquetReaderFactory(spark, dataSchemaP, readDataSchemaP,
          emittedPartSchema, GraftFilters.forParquet(pushedV1, physName,
            dataSchemaP.fieldNames.map(lc).toSet))
      else {
        // restrict marks to live files and project keys to bare leaves
        // (the reader probes by leaf); sidecar dirs resolve to absolute
        // paths the executors read directly
        val live = snap.files.toSet
        val inline = snap.dv.collect { case (f, rows) if live(f) =>
          TxSnapshot.leafOf(f) -> rows.toArray
        }
        val sidecars = snap.dvp.collect { case (f, dirs) if live(f) =>
          TxSnapshot.leafOf(f) -> dirs.map(d => LogStore.sidecarPath(path, d).toString)
        }
        DsvBridge.dvReaderFactory(spark, dataSchemaP, readDataSchemaP,
          emittedPartSchema, inline, sidecars, keepRowIndex = rowIndex.isDefined)
      },
      emittedSchema, required)

  /** Size/row estimates from the log's `#size`/`#rows` facts over the
    * PUSHED-pruned file set — what lets a filtered graft table qualify
    * as the broadcast side of a join without any file IO. */
  override def estimateStatistics(): Statistics = if (pushedAgg.isDefined) new Statistics {
    private val n = pushedAgg.get._2.size
    override val sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(256L * n)
    override val numRows: java.util.OptionalLong = java.util.OptionalLong.of(n.toLong)
  } else new Statistics {
    private val (pushedKept, _, sizes) = pushedPlan
    // scaled to the columns read, as Spark's own file scans estimate, so
    // a key-only read of a table weighs what it costs in a join
    override val sizeInBytes: java.util.OptionalLong = java.util.OptionalLong.of(
      if (table.logical.isEmpty) sizes.valuesIterator.sum
      else (BigInt(sizes.valuesIterator.sum) * required.defaultSize / table.logical.defaultSize).toLong)
    override val numRows: java.util.OptionalLong =
      TxStats.fileRowTotal(snap, pushedKept) match {
        // inline dv marks are exact deletions — but only marks ON THE
        // KEPT FILES subtract (marks on pruned files would undercount,
        // even below zero); parquet-vectored marks are not counted
        // driver-side — report no estimate rather than an overcount
        case Some(n) if snap.dvp.isEmpty =>
          val keptSet = pushedKept.toSet
          java.util.OptionalLong.of(n - snap.dv.iterator
            .collect { case (f, rows) if keptSet(f) => rows.size.toLong }.sum)
        case _ => java.util.OptionalLong.empty()
      }
  }

  override def description(): String =
    s"graft $path v${snap.version} [${pushedV1.mkString(", ")}]" +
      pushedAgg.fold("")(_ => " [aggregates from log facts]")
}

object GraftScan {

  /** What one scan planned; an aggregate answered from log facts keeps
    * no file. */
  final case class Planned(
      version: Long, kept: Seq[String], skipped: Seq[String], runtimeFilterCount: Int,
      runtimeFilters: Seq[String], aggregatePushed: Boolean)

  private object Plans extends AdaptiveSparkPlanHelper

  private def metrics: Seq[GraftScanMetric] =
    Seq(new GraftFilesKept, new GraftFilesSkipped, new GraftRuntimeFilters, new GraftAggregatePushed)
  private final case class Value(name: String, value: Long) extends CustomTaskMetric

  /** The record of every graft scan in `df`'s executed plan; fails when
    * there is none. Runtime filters arrive only when `df` itself runs:
    * run `df.collect()` first, as `count()` and `head()` plan another
    * Dataset. */
  def planned(df: DataFrame): Seq[Planned] = {
    val found = named(df.queryExecution).map(_._2)
    require(found.nonEmpty,
      s"graft: no graft scan in the executed plan:\n${df.queryExecution.executedPlan}")
    found
  }

  /** [[planned]] with the name parts of each scan's relation (namespace
    * and name; its path when it has none), and empty for a plan without
    * a graft scan. */
  def named(qe: QueryExecution): Seq[(Seq[String], Planned)] = {
    val ids = qe.optimizedPlan.collectWithSubqueries {
      case r: DataSourceV2ScanRelation => (r.scan, r.relation.identifier)
    }
    Plans.collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b.scan }
      .collect { case g: GraftScan => g }.distinct.map { g =>
        ids.collectFirst { case (s, Some(id)) if s eq g => id.namespace.toSeq :+ id.name }
          .getOrElse(Seq(g.path)) -> g.planned
      }
  }
}

/** The scan's driver metrics, each a class without constructor
  * arguments: the SQL status store instantiates one by name. */
sealed abstract class GraftScanMetric(key: String, text: String, val of: GraftScan.Planned => Long)
  extends CustomSumMetric {
  override def name(): String = key
  override def description(): String = text
}
final class GraftFilesKept
  extends GraftScanMetric("filesKept", "files kept by log pruning", _.kept.size.toLong)
final class GraftFilesSkipped
  extends GraftScanMetric("filesSkipped", "files skipped by log pruning", _.skipped.size.toLong)
final class GraftRuntimeFilters
  extends GraftScanMetric("runtimeFilters", "runtime filters applied", _.runtimeFilterCount.toLong)
final class GraftAggregatePushed extends GraftScanMetric(
  "aggregatePushed", "aggregate answered from log facts", p => if (p.aggregatePushed) 1L else 0L)

/** Permutes a reader factory's emitted column order (data-first/
  * partition-last, the parquet layout) back to the scan's DECLARED
  * order, so reads of a partitioned table keep the declared order
  * (VERDICT r16 #5). Row path: one codegen'd projection per reader.
  * Columnar path: the batch's column-vector array is permuted — a
  * per-batch object allocation, zero data copies, vectorization
  * preserved. Identity orders skip the wrapper entirely ([[wrap]]). */
private[sources] final case class GraftReorderReaderFactory(
    inner: PartitionReaderFactory,
    from: StructType,
    to: StructType) extends PartitionReaderFactory {

  private val perm: Array[Int] = {
    val idx = from.fieldNames.zipWithIndex
      .map { case (n, i) => n.toLowerCase(Locale.ROOT) -> i }.toMap
    to.fieldNames.map(n => idx(n.toLowerCase(Locale.ROOT)))
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(partition)
    new PartitionReader[InternalRow] {
      private val project = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(perm.map(i => org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, from.fields(i).dataType, nullable = true)))
      override def next(): Boolean = in.next()
      override def get(): InternalRow = project(in.get())
      override def close(): Unit = in.close()
    }
  }

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val in = inner.createColumnarReader(partition)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = in.get()
        val vecs = perm.map(b.column)
        new org.apache.spark.sql.vectorized.ColumnarBatch(vecs, b.numRows())
      }
      // the inner reader owns the vectors; closing it releases them
      override def close(): Unit = in.close()
    }
  }

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)
}

private[sources] object GraftReorderReaderFactory {
  def wrap(
      inner: PartitionReaderFactory,
      emitted: StructType,
      declared: StructType): PartitionReaderFactory =
    if (emitted.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSeq ==
        declared.fieldNames.map(_.toLowerCase(Locale.ROOT)).toSeq) inner
    else GraftReorderReaderFactory(inner, emitted, declared)
}

/** Pre-computed aggregate rows (one per group; one total when
  * ungrouped), shipped as the scan's only partition — the values are
  * LOG FACTS, not data (see [[GraftAggregates]]). */
private[sources] final case class GraftAggPartition(rows: Seq[Seq[Any]]) extends InputPartition

private[sources] final case class GraftAggReaderFactory()
  extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[GraftAggPartition].rows.iterator
      private var row: InternalRow = _
      override def next(): Boolean =
        if (!it.hasNext) false else { row = new GenericInternalRow(it.next().toArray); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
}

/** v1 `sources.Filter` → catalyst expressions for the log's stats walk
  * ([[TxStats.pruneSnapFiles]]), plus the physical-name rewrite for
  * parquet row-group pushdown. Translation is PRUNING-sound, never
  * complete: an untranslatable filter prunes nothing (its files are
  * kept), and Spark re-applies every filter above the scan. */
private[sources] object GraftFilters {

  private def attr(name: String): Expression = UnresolvedAttribute(Seq(name))
  private def litOf(v: Any): Option[Literal] =
    if (v == null) None else scala.util.Try(Literal(v)).toOption

  def toCatalyst(f: Filter): Option[Expression] = f match {
    case sources.EqualTo(a, v) => litOf(v).map(EqualTo(attr(a), _))
    case sources.GreaterThan(a, v) => litOf(v).map(GreaterThan(attr(a), _))
    case sources.GreaterThanOrEqual(a, v) => litOf(v).map(GreaterThanOrEqual(attr(a), _))
    case sources.LessThan(a, v) => litOf(v).map(LessThan(attr(a), _))
    case sources.LessThanOrEqual(a, v) => litOf(v).map(LessThanOrEqual(attr(a), _))
    case sources.In(a, vs) if vs.nonEmpty =>
      val ls = vs.toSeq.map(litOf)
      if (ls.exists(_.isEmpty)) None else Some(In(attr(a), ls.map(_.get)))
    // IsNull/IsNotNull translate for the null-count walk (files whose
    // logged null facts refute them skip; absent facts keep the file)
    case sources.IsNull(a) => Some(IsNull(attr(a)))
    case sources.IsNotNull(a) => Some(IsNotNull(attr(a)))
    // a prefix predicate (`LIKE 'p%'`) translates for the string-range
    // walk: truncate-to-prefix-length endpoint compare refutes soundly
    // (mayMatch's startsWithSat); non-ASCII prefixes never prune
    case sources.StringStartsWith(a, v) if v != null && v.nonEmpty && v.forall(_ < 128) =>
      litOf(v).map(org.apache.spark.sql.catalyst.expressions.StartsWith(attr(a), _))
    case sources.And(l, r) => (toCatalyst(l), toCatalyst(r)) match {
      case (Some(a), Some(b)) => Some(And(a, b))
      // one translatable conjunct alone is still sound: refuting it
      // refutes the conjunction
      case (one, other) => one.orElse(other)
    }
    case sources.Or(l, r) =>
      for { a <- toCatalyst(l); b <- toCatalyst(r) } yield Or(a, b)
    case _ => None
  }

  /** Filters for the parquet reader: attribute names rewritten
    * logical → physical, and any filter touching a column that is not
    * in the FILE (partition columns live in paths) dropped whole. */
  def forParquet(
      filters: Array[Filter],
      physName: String => String,
      dataColsLc: Set[String]): Seq[Filter] = {
    def ok(a: String): Option[String] = {
      val p = physName(a)
      if (dataColsLc(p.toLowerCase(Locale.ROOT))) Some(p) else None
    }
    def rename(f: Filter): Option[Filter] = f match {
      case sources.EqualTo(a, v) => ok(a).map(sources.EqualTo(_, v))
      case sources.EqualNullSafe(a, v) => ok(a).map(sources.EqualNullSafe(_, v))
      case sources.GreaterThan(a, v) => ok(a).map(sources.GreaterThan(_, v))
      case sources.GreaterThanOrEqual(a, v) => ok(a).map(sources.GreaterThanOrEqual(_, v))
      case sources.LessThan(a, v) => ok(a).map(sources.LessThan(_, v))
      case sources.LessThanOrEqual(a, v) => ok(a).map(sources.LessThanOrEqual(_, v))
      case sources.In(a, vs) => ok(a).map(sources.In(_, vs))
      case sources.IsNull(a) => ok(a).map(sources.IsNull(_))
      case sources.IsNotNull(a) => ok(a).map(sources.IsNotNull(_))
      case sources.StringStartsWith(a, v) => ok(a).map(sources.StringStartsWith(_, v))
      case sources.StringEndsWith(a, v) => ok(a).map(sources.StringEndsWith(_, v))
      case sources.StringContains(a, v) => ok(a).map(sources.StringContains(_, v))
      case sources.And(l, r) => (rename(l), rename(r)) match {
        case (Some(a), Some(b)) => Some(sources.And(a, b))
        case (one, other) => one.orElse(other)
      }
      case sources.Or(l, r) =>
        for { a <- rename(l); b <- rename(r) } yield sources.Or(a, b)
      // NOT is deliberately not forwarded: renaming may WEAKEN a child
      // (And keeps one side), and Not(weakened) is not implied by the
      // original — a row group it refutes could hold qualifying rows
      case _ => None
    }
    filters.flatMap(rename).toSeq
  }
}
