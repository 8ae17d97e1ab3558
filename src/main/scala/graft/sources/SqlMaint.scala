package graft.sources

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Maintenance SQL against TxStore tables — the statements a lake
  * operator runs nightly, none of which Spark's grammar knows (Delta
  * adds them through a parser extension; this engine adds them through
  * a dispatch ahead of Spark's parser, so the one `--step sql` surface
  * carries reads, DML AND maintenance):
  *
  *   - `OPTIMIZE v [WHERE <partition-pred>] [ZORDER BY (c1[, c2…])]`
  *     → [[TxStore.compactSmallFiles]] (bin-packing, Delta's plain
  *     OPTIMIZE) or [[TxStore.compactZOrder]] when ZORDER BY is given;
  *     WHERE scopes either to matching partitions (the partition-only
  *     rule those APIs already enforce).
  *   - `VACUUM v [RETAIN n VERSIONS|HOURS] [GRACE n MS] [DRY RUN]` →
  *     [[TxStore.vacuum]] / [[TxStore.vacuumPreview]]. The engine's
  *     native retention unit is VERSIONS (the log is the clock);
  *     Delta's wall-clock `RETAIN n HOURS` form resolves to a version
  *     count against commit-file mtimes first
  *     ([[TxStore.retainVersionsForWindow]] — the versionAtTimestamp
  *     clock), so both forms drive ONE victim computation and
  *     `TIMESTAMP AS OF now−window` keeps resolving after the reap;
  *     GRACE exposes the age-grace guard for
  *     operators who just lowered retention and want the reap now (the
  *     same parameter the Scala API takes); DRY RUN answers the
  *     DATA-file victim list without deleting — preview and reap share
  *     one computation (the reap's count additionally includes log and
  *     sidecar debris, which has no preview value to an operator
  *     sizing a reclaim).
  *   - `SHOW PARTITIONS v` → the table's live partition directories as
  *     a frame (one string column per partition column, logical names
  *     under column mapping, hive %XX escapes decoded) — derived from
  *     the COMMIT LOG's file names, zero directory listings.
  *   - `SHOW TBLPROPERTIES v` → the table's property set as a
  *     (key, value) frame — the log's latest-wins property state
  *     (set/unset via `ALTER TABLE … [UN]SET TBLPROPERTIES`, which
  *     plans through the catalog's `alterTable`).
  *   - `RESTORE [TABLE] v TO VERSION AS OF n | TO TIMESTAMP AS OF <expr>`
  *     → [[TxStore.restore]] (a NEW commit re-adding the target
  *     version's live set — history is append-only, so the restore
  *     itself is undoable).
  *   - `DESCRIBE|DESC HISTORY v` → [[TxStore.historyFrame]] (version,
  *     commit-file mtime, op, files added/removed — the mtime is the
  *     clock `TIMESTAMP AS OF` resolves against, so the output feeds
  *     straight back into time travel).
  *   - `DESCRIBE|DESC DETAIL v` → one row of table facts straight from
  *     the snapshot + log metadata: location, current version, file
  *     count, total live bytes, partition columns, constraint count,
  *     whether column mapping is active. The size comes from the log's
  *     own file listing — one `getFileStatus` per live file, no data
  *     IO (Delta's DESCRIBE DETAIL shape).
  *   - `CREATE TABLE '/dest' SHALLOW CLONE v` → [[TxStore.cloneTable]]
  *     (the source's snapshot as v1 of a fresh table — hard links, no
  *     data rewrite; Delta's SHALLOW CLONE). Dest is a quoted PATH.
  *   - `CONVERT TO TX '/path'` → [[TxStore.convert]] (adopt an existing
  *     plain-parquet directory in place — renames, footer stats, one
  *     v1 commit; zero data IO). Takes a quoted PATH, not a view: the
  *     table does not exist to register until the convert lands.
  *
  * Each statement answers a SMALL summary frame (O(1) rows, or
  * O(retained commits) for DESCRIBE HISTORY) — never table data; the
  * CLI lands it as the step artifact. Targets must be current `--tx`
  * names or graft-catalog names: a time-travel name (`@vN`) is
  * read-only and never enters the addressable set, same rule as DML.
  * Refusals are loud, never silent no-ops. */
object SqlMaint {

  /** Executed maintenance statement: kind, target view + path, the
    * committed version (None = nothing qualified / metadata-only
    * statement), and the summary frame to land as the step result. */
  final case class Result(
      op: String, view: String, path: String, version: Option[Long], df: DataFrame)

  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(\S+)\s*(.*?)\s*""".r
  private val ZOrderRe = """(?is)(.*?)\bZORDER\s+BY\s+(.+)""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\S+)\s*(?:\bRETAIN\s+(\d+)\s+(VERSIONS|HOURS)\b)?\s*(?:\bGRACE\s+(\d+)\s+MS\b)?\s*(DRY\s+RUN)?\s*""".r
  private val ShowPartsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+(\S+)\s*""".r
  private val ShowPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+(\S+)\s*""".r
  private val RestoreVersionRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RestoreTimestampRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+(.+?)\s*""".r
  private val HistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+(\S+)\s*""".r
  private val DetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+(\S+)\s*""".r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+TX\s+'([^']+)'\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+'([^']+)'\s+SHALLOW\s+CLONE\s+(\S+)\s*""".r

  /** If `text` is a maintenance statement, execute it against the
    * `--tx`-registered table it targets and return Some(result);
    * None = not maintenance (DML / plain-read dispatch applies). */
  def maybeExecute(
      spark: SparkSession, text: String, tx: Map[String, String]): Option[Result] = {
    val t = text.trim.stripSuffix(";").trim
    val head = t.split("\\s+", 2)(0).toUpperCase(Locale.ROOT)
    val isHistory = HistoryRe.pattern.matcher(t).matches() ||
      DetailRe.pattern.matcher(t).matches()
    // SHOW has other Spark-grammar forms (SHOW TABLES…) — intercept
    // only the exact SHOW PARTITIONS / SHOW TBLPROPERTIES shapes, leave
    // the rest to Catalyst
    val isShowParts = ShowPartsRe.pattern.matcher(t).matches() ||
      ShowPropsRe.pattern.matcher(t).matches()
    // CREATE TABLE is Spark's (CTAS included) — intercept only the
    // exact SHALLOW CLONE shape, let everything else fall through
    val isClone = CloneRe.pattern.matcher(t).matches()
    if (!Set("OPTIMIZE", "VACUUM", "RESTORE", "CONVERT").contains(head) &&
      !isHistory && !isShowParts && !isClone)
      return None

    // a --tx name (case-insensitive), else a catalog-qualified name
    // resolved to the SAME path the catalog plans against — OPTIMIZE/
    // VACUUM/RESTORE/HISTORY/… address graft.db.t like any Delta user
    // would address their catalog
    def resolve(view: String): (String, String) = {
      val v = view.trim
      tx.find(_._1.equalsIgnoreCase(v))
        .orElse(GraftCatalog.resolvePath(spark,
          v.split('.').toSeq.map(_.trim).filter(_.nonEmpty)).map((v, _)))
        .getOrElse(refuse(s"'$v' is neither a --tx-registered table nor a graft-catalog " +
          "table (time-travel names are read-only); registered: " +
          (if (tx.isEmpty) "none" else tx.keys.toSeq.sorted.mkString(", "))))
    }
    def one(cols: (String, Column)*): DataFrame =
      cols.foldLeft(spark.range(1).toDF())((df, c) => df.withColumn(c._1, c._2)).drop("id")
    def verCol(v: Option[Long]): Column =
      v.map(lit(_)).getOrElse(lit(null).cast("long"))

    Some(t match {
      case OptimizeRe(viewRaw, tail) =>
        val (view, path) = resolve(viewRaw)
        // split WHERE from ZORDER BY before parsing either — the
        // predicate text must not swallow the clause keyword
        val (beforeZ, zCols) = tail match {
          case ZOrderRe(pre, colsRaw) =>
            val inner = colsRaw.trim.stripSuffix(")").stripPrefix("(")
            val cols = inner.split(',').map(_.trim.stripPrefix("`").stripSuffix("`"))
              .filter(_.nonEmpty).toSeq
            if (cols.isEmpty) refuse("ZORDER BY needs at least one column")
            (pre.trim, cols)
          case other => (other.trim, Nil)
        }
        val where: Option[Column] = beforeZ match {
          case "" => None
          case w if w.toUpperCase(Locale.ROOT).startsWith("WHERE ") =>
            Some(expr(w.substring(6)))
          case other => refuse(s"OPTIMIZE: unrecognized clause '$other' " +
            "(expected [WHERE <partition-pred>] [ZORDER BY (cols)])")
        }
        // sizing rides session config (the Delta idiom — OPTIMIZE takes
        // no size literals; the lake's unit size is an operations
        // setting, not a per-statement choice)
        val committed =
          if (zCols.nonEmpty) TxStore.compactZOrder(spark, path, zCols, where = where)
          else TxStore.compactSmallFiles(spark, path,
            targetBytes = spark.conf.getOption("graft.optimize.targetBytes")
              .map(_.toLong).getOrElse(128L << 20),
            minBytes = spark.conf.getOption("graft.optimize.minBytes")
              .map(_.toLong).getOrElse(64L << 20),
            where = where)
        Result("optimize", view, path, committed,
          one("op" -> lit(if (zCols.nonEmpty) "optimize-zorder" else "optimize"),
            "table" -> lit(view), "version" -> verCol(committed),
            "rewrote" -> lit(committed.isDefined)))

      case VacuumRe(viewRaw, retain, unit, grace, dry) =>
        val (view, path) = resolve(viewRaw)
        // a bare VACUUM honors the TABLE'S OWN retention policy when one
        // is declared as a property (Delta's deletedFileRetentionDuration
        // idiom): `graft.vacuum.retainVersions` wins over
        // `graft.vacuum.retainHours`; an explicit RETAIN clause wins over
        // both; default 2 versions
        def propDefault: Option[Int] = {
          val props = TxStore.tableProperties(spark, path)
          def get(k: String) = props.collectFirst {
            case (n, v) if n.equalsIgnoreCase(k) => v
          }
          def asInt(k: String, v: String): Int =
            try v.trim.toInt catch {
              case _: NumberFormatException =>
                refuse(s"table property $k must be an integer, got '$v'")
            }
          get("graft.vacuum.retainVersions").map(asInt("graft.vacuum.retainVersions", _))
            .orElse(get("graft.vacuum.retainHours").map(v =>
              TxStore.retainVersionsForWindow(spark, path,
                asInt("graft.vacuum.retainHours", v).toLong * 3600000L)))
        }
        val retainV = Option(retain).map(_.toInt) match {
          case Some(n) if unit != null && unit.equalsIgnoreCase("HOURS") =>
            TxStore.retainVersionsForWindow(spark, path, n.toLong * 3600000L)
          case Some(n) => n
          case None => propDefault.getOrElse(2)
        }
        val graceMs = Option(grace).map(_.toLong).getOrElse(TxStore.DefaultAgeGraceMs)
        if (dry != null) {
          val victims = TxStore.vacuumPreview(spark, path, retainV, graceMs)
          Result("vacuum-dry-run", view, path, None,
            spark.createDataFrame(
              victims.sorted.map(org.apache.spark.sql.Row(_)).asJava,
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField(
                  "file", org.apache.spark.sql.types.StringType, nullable = false)))))
        } else {
          val deleted = TxStore.vacuum(spark, path, retainV, graceMs)
          Result("vacuum", view, path, None,
            one("op" -> lit("vacuum"), "table" -> lit(view),
              "files_deleted" -> lit(deleted.toLong)))
        }

      // Delta's CREATE TABLE … SHALLOW CLONE: publish the source's
      // current snapshot as v1 of a fresh table at the quoted path —
      // hard links where the filesystem allows, never a data rewrite;
      // stats/DVs/constraints/mapping/properties restate through the
      // checkpoint shape (TxStore.cloneTable). The dest is a PATH (the
      // CONVERT rule): the table does not exist to register until the
      // clone lands.
      case CloneRe(destPath, viewRaw) =>
        val (view, path) = resolve(viewRaw)
        val v = TxStore.cloneTable(spark, path, destPath)
        Result("shallow-clone", view, path, Some(v),
          one("op" -> lit("shallow-clone"), "source" -> lit(view),
            "dest" -> lit(destPath), "version" -> lit(v)))

      case ShowPropsRe(viewRaw) =>
        val (view, path) = resolve(viewRaw)
        val props = TxStore.tableProperties(spark, path)
        Result("show-tblproperties", view, path, None,
          spark.createDataFrame(
            props.map { case (k, v) => org.apache.spark.sql.Row(k, v) }.asJava,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(
                "key", org.apache.spark.sql.types.StringType, nullable = false),
              org.apache.spark.sql.types.StructField(
                "value", org.apache.spark.sql.types.StringType, nullable = false)))))

      case RestoreVersionRe(viewRaw, v) =>
        val (view, path) = resolve(viewRaw)
        val target = v.toLong
        val committed = TxStore.restore(spark, path, target)
        Result("restore", view, path, Some(committed),
          one("op" -> lit("restore"), "table" -> lit(view),
            "restored_to" -> lit(target), "version" -> lit(committed)))

      case RestoreTimestampRe(viewRaw, tsExpr) =>
        val (view, path) = resolve(viewRaw)
        // evaluate the expression through the session (a literal, date
        // arithmetic — whatever casts to timestamp), then the latest
        // version at or before it by commit-file mtime — the clock a
        // catalog's TIMESTAMP AS OF resolves against
        val ts = spark.range(1).select(expr(tsExpr).cast("timestamp")).head.getTimestamp(0)
        if (ts == null) refuse("RESTORE: TIMESTAMP AS OF expression evaluated to NULL")
        val target = TxStore.versionAtTimestamp(spark, path, ts.getTime)
        val committed = TxStore.restore(spark, path, target)
        Result("restore", view, path, Some(committed),
          one("op" -> lit("restore"), "table" -> lit(view),
            "restored_to" -> lit(target), "version" -> lit(committed)))

      case HistoryRe(viewRaw) =>
        val (view, path) = resolve(viewRaw)
        Result("describe-history", view, path, None, TxStore.historyFrame(spark, path))

      case DetailRe(viewRaw) =>
        val (view, path) = resolve(viewRaw)
        Result("describe-detail", view, path, None, TxStore.tableDetail(spark, path))

      case ShowPartsRe(viewRaw) =>
        val (view, path) = resolve(viewRaw)
        val snap = TxStore.snapshot(spark, path)
        require(snap.partitioning.nonEmpty,
          s"sql maintenance: SHOW PARTITIONS — table '$view' is not partitioned")
        // logical names under column mapping (partitioning is physical)
        val logical = snap.partitioning.map(p =>
          snap.mapping.find(_._2 == p).map(_._1).getOrElse(p))
        val dirs = snap.files
          .map(fl => fl.substring(0, fl.lastIndexOf('/'))).distinct.sorted
        val rows = dirs.map { d =>
          org.apache.spark.sql.Row.fromSeq(d.split('/').toSeq.map { seg =>
            TxStats.unescapePathName(seg.substring(seg.indexOf('=') + 1))
          })
        }
        Result("show-partitions", view, path, None,
          spark.createDataFrame(rows.asJava,
            org.apache.spark.sql.types.StructType(logical.map(
              org.apache.spark.sql.types.StructField(
                _, org.apache.spark.sql.types.StringType, nullable = false)))))

      case ConvertRe(pathRaw) =>
        val path = pathRaw.trim.stripSuffix("/")
        val committed = TxStore.convert(spark, path)
        Result("convert", path, path, Some(committed),
          one("op" -> lit("convert"), "location" -> lit(path),
            "version" -> lit(committed),
            "n_files" -> lit(TxStore.snapshot(spark, path).files.size.toLong)))

      case other =>
        refuse(s"cannot parse maintenance statement: $other")
    })
  }

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(s"sql maintenance: $msg")
}
