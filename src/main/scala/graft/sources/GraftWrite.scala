package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}

/** The NATIVE v2 WRITE path — `df.write.format("graft")` (and
  * `INSERT INTO` over a `USING graft` catalog entry) lands through this
  * builder as ONE transactional commit:
  *
  *   - the analyzer's mode calls (`truncate` for SaveMode.Overwrite /
  *     INSERT OVERWRITE, `overwrite(filters)` for a filter-scoped
  *     overwrite such as a static `INSERT OVERWRITE … PARTITION (p='x')`,
  *     `overwriteDynamicPartitions` under
  *     `spark.sql.sources.partitionOverwriteMode=dynamic`) are captured
  *     here and carried into the write;
  *   - `build()` returns a [[V1Write]] whose `InsertableRelation`
  *     IS the TxStore API — [[TxStore.append]], [[TxStore.overwrite]],
  *     [[TxStore.replaceWhere]], [[TxStore.appendOnce]] — so every
  *     staged-files/one-commit guarantee (stats + null + bloom
  *     harvest, hive partition layout, constraint gates, optimistic
  *     commit races, exactly-once txn stamps) holds BY IDENTITY with
  *     the API twins, not by re-implementation. This is the shape
  *     Delta ships (WriteIntoDeltaBuilder → V1Write): a distributed
  *     BatchWrite would re-derive the stage machinery per task and
  *     then still need the same single driver-side commit.
  *
  * Write options (all optional):
  *   - `partitionBy` — comma-separated LOGICAL columns; establishes
  *     hive layout on a creating write, must restate the table's own
  *     on later appends (TxStore.append's rule), re-layouts on
  *     overwrite. A bare overwrite PRESERVES the current layout (the
  *     INSERT OVERWRITE contract).
  *   - `replaceWhere` — predicate SQL; with SaveMode.Overwrite scopes
  *     the replacement to matching partitions ([[TxStore.replaceWhere]]
  *     semantics: partition-only predicate, batch must lie inside).
  *   - `txnAppId` + `txnVersion` — exactly-once append stamp
  *     ([[TxStore.appendOnce]]): redelivering the same pair is a
  *     committed no-op.
  *
  * Reference: the attribution pipeline's loaders persist every stage
  * output (cj_builder.py:112-120, channel_reporter.py:98-120); this
  * surface is their `to_parquet` re-expressed as transactional writes. */
final class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {

  private var truncateAll, dynamic = false
  private var overwriteBy: Option[Array[Filter]] = None

  override def overwriteDynamicPartitions(): WriteBuilder = { dynamic = true; this }

  override def truncate(): WriteBuilder = { truncateAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[sources.AlwaysTrue]))
      truncateAll = true
    else overwriteBy = Some(filters)
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      // the `overwrite` flag is always false here — the intent was
      // captured by the builder calls above (Spark's V1 fallback execs
      // pass the mode through the builder, not this flag)
      override def insert(data: DataFrame, overwrite: Boolean): Unit =
        GraftWrites.insert(table, info, truncateAll, dynamic, overwriteBy, data)
    }
    override def toString: String =
      s"GraftWrite(${table.path}, truncate=$truncateAll, dynamic=$dynamic, " +
        s"overwriteBy=${overwriteBy.map(_.mkString(", ")).getOrElse("-")})"
  }
}

private[sources] object GraftWrites {

  def insert(
      table: GraftTable,
      info: LogicalWriteInfo,
      truncateAll: Boolean,
      dynamic: Boolean,
      overwriteBy: Option[Array[Filter]],
      data: DataFrame): Unit = {
    val opts = info.options
    def opt(k: String): Option[String] = Option(opts.get(k))
    val path = table.path
    // The builder held ACCEPT_ANY_SCHEMA because the table did not
    // exist at RESOLUTION time; if a concurrent writer created it
    // since, the analyzer's byName schema gate was silently bypassed —
    // re-impose the name contract here before committing (ADVICE r16).
    // TxStore.append's own evolution handles types; the hole is NAMES
    // landing as silent evolution without a mergeSchema opt-in.
    if (!table.exists && !table.mergeSchema && TxStore.isTable(data.sparkSession, path))
      TxStore.logicalSchema(TxStore.snapshot(data.sparkSession, path)).foreach { cur =>
        def lcs(ns: Seq[String]) = ns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        require(lcs(data.columns.toSeq) == lcs(cur.fieldNames.toSeq),
          s"graft: the table at $path was created concurrently with columns " +
            s"(${cur.fieldNames.mkString(", ")}) — this creating write's columns " +
            s"(${data.columns.mkString(", ")}) no longer match by name; retry the " +
            "write (the analyzer will resolve byName) or set " +
            "option(\"mergeSchema\", \"true\") to evolve explicitly")
      }
    // partitionBy arrives as the writer option (documented surface) or,
    // when a future Spark path serializes DataFrameWriter.partitionBy
    // through options, as the __partition_columns JSON array. ABSENT
    // and EMPTY differ on overwrite: absent preserves the table's
    // layout, an explicit empty list re-layouts flat.
    val partitionByOpt: Option[Seq[String]] =
      opt("partitionBy")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .orElse(opt("__partition_columns").map(parseStringArray))
    // a creating write takes the layout a CTAS asked for
    val partitionBy: Seq[String] =
      partitionByOpt.getOrElse(if (table.exists) Nil else table.partitionLogical)
    val replaceWhere = opt("replaceWhere")
    val txn = (opt("txnAppId"), opt("txnVersion"))

    // a region-scoped replacement can never RE-LAYOUT the table — a
    // partitionBy option alongside replaceWhere must be absent or
    // restate the current layout (the append branch's strict rule;
    // silently ignoring it would let a user believe they re-laid-out)
    def requireNoRelayout(): Unit = partitionByOpt.foreach { req =>
      val cur = table.partitionLogical
      require(req.map(_.toLowerCase) == cur.map(_.toLowerCase),
        s"graft: replaceWhere cannot re-layout — partitionBy (${req.mkString(", ")}) " +
          s"must be absent or restate the table's layout (${cur.mkString(", ")})")
    }

    overwriteBy match {
      case Some(filters) =>
        require(replaceWhere.isEmpty,
          "graft: give either overwrite filters or option replaceWhere, not both")
        requireNoRelayout()
        // EXACT translation or refuse loudly — a replaceWhere region
        // must be the filter's precise meaning (the pruning-sound
        // partial translation the scan uses is NOT acceptable here)
        TxStore.replaceWhere(data, path, filters.map(exactColumn).reduce(_ && _)): Unit
      case None if dynamic =>
        require(replaceWhere.isEmpty,
          "graft: give either a dynamic partition overwrite or option replaceWhere, not both")
        requireNoRelayout()
        val parts = table.partitionLogical
        if (parts.isEmpty)
          // an unpartitioned table is one partition: the batch replaces it
          TxStore.overwrite(data, path): Unit
        else {
          // the batch replaces the partitions it holds rows for, one
          // region per distinct value tuple, so an empty batch commits
          // nothing; persisted so the regions and the staged rows come
          // from one evaluation of the batch
          data.persist()
          try {
            val regions = data.select(parts.map(c): _*).distinct().collect()
            if (regions.nonEmpty)
              TxStore.replaceWhere(data, path, regions.map { r =>
                parts.indices.map(i => c(parts(i)) <=> lit(r.get(i))).reduce(_ && _)
              }.reduce(_ || _)): Unit
          } finally data.unpersist(): Unit
        }
      case None if truncateAll =>
        replaceWhere match {
          case Some(cond) =>
            requireNoRelayout()
            TxStore.replaceWhere(data, path, expr(cond)): Unit
          case None =>
            // layout preserved unless explicitly restated — overwrite
            // REPLACES the table, so a given partitionBy re-layouts
            // (an explicit empty list re-layouts FLAT)
            val parts = partitionByOpt.getOrElse(table.partitionLogical)
            TxStore.overwrite(data, path, partitionBy = parts): Unit
        }
      case None =>
        require(replaceWhere.isEmpty,
          "graft: option replaceWhere requires SaveMode.Overwrite")
        txn match {
          case (Some(app), Some(v)) =>
            val ver =
              try v.trim.toLong
              catch { case _: NumberFormatException => throw new IllegalArgumentException(
                s"graft: txnVersion must be a long, got '$v'") }
            TxStore.appendOnce(data, path, app, ver, partitionBy = partitionBy): Unit
          case (None, None) =>
            TxStore.append(data, path, partitionBy = partitionBy): Unit
          case _ => throw new IllegalArgumentException(
            "graft: txnAppId and txnVersion must be given together")
        }
    }
  }

  private def parseStringArray(s: String): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(s) match {
      case JArray(items) => items.collect { case JString(v) => v }
      case _ => Nil
    }
  }

  private def c(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** COMPLETE v1 Filter → Column translation for filter-scoped
    * overwrites. Unlike [[GraftFilters.toCatalyst]] (pruning-sound,
    * deliberately partial), a region predicate must mean exactly what
    * the filter means — an untranslatable filter refuses the write. */
  def exactColumn(f: Filter): Column = f match {
    case sources.EqualTo(a, v) => c(a) === lit(v)
    case sources.EqualNullSafe(a, v) => c(a) <=> lit(v)
    case sources.GreaterThan(a, v) => c(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => c(a) >= lit(v)
    case sources.LessThan(a, v) => c(a) < lit(v)
    case sources.LessThanOrEqual(a, v) => c(a) <= lit(v)
    case sources.In(a, vs) => c(a).isin(vs.toIndexedSeq: _*)
    case sources.IsNull(a) => c(a).isNull
    case sources.IsNotNull(a) => c(a).isNotNull
    case sources.StringStartsWith(a, v) => c(a).startsWith(v)
    case sources.StringEndsWith(a, v) => c(a).endsWith(v)
    case sources.StringContains(a, v) => c(a).contains(v)
    case sources.And(l, r) => exactColumn(l) && exactColumn(r)
    case sources.Or(l, r) => exactColumn(l) || exactColumn(r)
    case sources.Not(x) => !exactColumn(x)
    case _: sources.AlwaysTrue => lit(true)
    case _: sources.AlwaysFalse => lit(false)
    case other => throw new UnsupportedOperationException(
      s"graft: cannot overwrite by filter $other — " +
        "use option(\"replaceWhere\", <predicate SQL>) instead")
  }
}
