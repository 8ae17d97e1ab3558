package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{ResolvedTable, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.execution.command.RunnableCommand
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The maintenance statements Spark's grammar lacks, parsed ahead of
  * it. This is Delta's shape (Armbrust et al., "Delta Lake", VLDB
  * 2020): each statement becomes a [[GraftMaintenance]] command whose
  * table is an `UnresolvedTable`, so Spark's analyzer resolves `--tx`
  * names ([[TxCatalog]]) and `graft.db.t` names ([[GraftCatalog]]) the
  * way it resolves a SELECT:
  *
  *   - `OPTIMIZE t [WHERE <partition-pred>] [ZORDER BY (c, …)]`;
  *   - `VACUUM t [RETAIN n VERSIONS|HOURS] [GRACE n MS] [DRY RUN]`;
  *   - `RESTORE [TABLE] t TO VERSION AS OF n | TO TIMESTAMP AS OF <expr>`;
  *   - `DESC[RIBE] HISTORY|DETAIL t` (Spark would read this as a
  *     column of a table named HISTORY);
  *   - `CONVERT TO TX '/path'`;
  *   - `CREATE TABLE '/dest' SHALLOW CLONE t`.
  *
  * Leading whitespace and comments and a trailing `;` are skipped.
  * Names go through the delegate's identifier parser (backquotes,
  * `db.t`), the predicate and the timestamp through its expression
  * parser. Every other statement is the delegate's, parameters
  * included. Registered by [[graft.functions.GraftExtensions]]; a
  * session takes a parser only when it is built, so
  * [[GraftSqlParser.sql]] runs the statements on any other. */
final class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftMaintenance._

  override def parsePlan(sqlText: String): LogicalPlan =
    maintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String, params: ParameterContext): LogicalPlan =
    maintenance(sqlText).getOrElse(delegate.parsePlanWithParameters(sqlText, params))
  override def parseExpression(t: String): Expression = delegate.parseExpression(t)
  override def parseTableIdentifier(t: String): TableIdentifier = delegate.parseTableIdentifier(t)
  override def parseFunctionIdentifier(t: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(t)
  override def parseMultipartIdentifier(t: String): Seq[String] = delegate.parseMultipartIdentifier(t)
  override def parseQuery(t: String): LogicalPlan = delegate.parseQuery(t)
  override def parseRoutineParam(t: String): StructType = delegate.parseRoutineParam(t)
  override def parseTableSchema(t: String): StructType = delegate.parseTableSchema(t)
  override def parseDataType(t: String): DataType = delegate.parseDataType(t)

  private def maintenance(sqlText: String): Option[LogicalPlan] = {
    val in = new Scanner(sqlText)
    var form = ""
    var name = ""
    def bad(): Nothing = refuse(s"unrecognized clause '${in.rest()}' (expected $form)")
    def table(command: String) = {
      val parts = parseMultipartIdentifier(in.name())
      name = QuotingUtils.quoted(parts.toArray)
      Some(UnresolvedTable(parts, command))
    }
    def column(text: String) = ColumnBridge.column(parseExpression(text))
    val parsed: Option[(Op, Option[LogicalPlan])] =
      if (in.kw("OPTIMIZE")) {
        form = "OPTIMIZE t [WHERE <partition-pred>] [ZORDER BY (c, …)]"
        val t = table("OPTIMIZE")
        val where = if (in.kw("WHERE")) Some(column(in.upTo("ZORDER"))) else None
        val zOrder = if (!in.kw("ZORDER", "BY")) Nil else {
          val cols = in.rest().stripPrefix("(").stripSuffix(")").split(',').map(_.trim)
          if (cols.forall(_.isEmpty)) refuse("ZORDER BY needs at least one column")
          cols.toSeq.map(parseMultipartIdentifier(_).mkString("."))
        }
        Some(Optimize(where, zOrder) -> t)
      } else if (in.kw("VACUUM")) {
        form = "VACUUM t [RETAIN n VERSIONS|HOURS] [GRACE n MS] [DRY RUN]"
        val t = table("VACUUM")
        val retain = if (!in.kw("RETAIN")) None else in.number().map(n =>
          if (in.kw("VERSIONS")) Left(n) else if (in.kw("HOURS")) Right(n) else bad()).orElse(bad())
        val grace = if (!in.kw("GRACE")) None else in.number().filter(_ => in.kw("MS")).orElse(bad())
        Some(Vacuum(retain, grace, dryRun = in.kw("DRY", "RUN")) -> t)
      } else if (in.kw("RESTORE")) {
        form = "RESTORE [TABLE] t TO VERSION AS OF n | TO TIMESTAMP AS OF <expr>"
        in.kw("TABLE")
        val t = table("RESTORE")
        val to =
          if (in.kw("TO", "VERSION", "AS", "OF")) Left(in.number().getOrElse(bad()))
          else if (in.kw("TO", "TIMESTAMP", "AS", "OF")) Right(column(in.rest()))
          else bad()
        Some(Restore(to) -> t)
      } else if (in.kw("DESC") || in.kw("DESCRIBE")) {
        form = "DESC[RIBE] HISTORY|DETAIL t"
        val op = if (in.kw("HISTORY")) Some(History) else if (in.kw("DETAIL")) Some(Detail) else None
        // `DESCRIBE HISTORY` alone describes a table named HISTORY, and
        // `DESCRIBE history.t` a table in a database named history
        op.filterNot(_ => in.atEnd || in.peek.contains(".")).map(_ -> table("DESCRIBE"))
      } else if (in.kw("CONVERT", "TO", "TX")) {
        form = "CONVERT TO TX '/path'"
        name = in.quoted().getOrElse(bad()).trim.stripSuffix("/")
        Some(Convert(name) -> None)
      } else if (in.kw("CREATE", "TABLE")) {
        // every other CREATE TABLE (CTAS included) is Spark's
        in.quoted().map { dest =>
          form = "CREATE TABLE '/dest' SHALLOW CLONE t"
          if (!in.kw("SHALLOW", "CLONE")) bad()
          Clone(dest) -> table("SHALLOW CLONE")
        }
      } else None
    parsed.map { case (op, t) =>
      if (!in.atEnd) bad()
      GraftMaintenance(op, t, name)
    }
  }
}

object GraftSqlParser {

  /** Run one statement on `spark`, maintenance statements included. A
    * session built with [[graft.functions.GraftExtensions]] parses them
    * itself. On any other (a caller's own session, given graft's
    * functions and planner hooks by `GraftSession.tune`) a graft parser
    * around the session's own parses them, and they run as `spark.sql`
    * runs a command; every other statement is `spark.sql`'s. */
  def sql(spark: SparkSession, text: String): DataFrame = spark.sessionState.sqlParser match {
    case _: GraftSqlParser => spark.sql(text)
    case p => new GraftSqlParser(p).maintenance(text)
      .fold(spark.sql(text))(ColumnBridge.dataFrame(spark, _))
  }
}

/** The tokens of one statement past its leading whitespace and
  * comments, without its trailing `;`: words, quoted text and single
  * symbols, each with its place in the text. Tokens are read as asked
  * for, so a statement that is not graft's costs one token. */
private final class Scanner(sqlText: String) {
  private val s = Scanner.Leading.replaceFirstIn(sqlText, "").trim.stripSuffix(";").trim
  private val tokens = Scanner.Token.findAllMatchIn(s).to(LazyList)
  private var k = 0
  private def at(j: Int) = tokens.lift(j).map(_.matched)
  private def from = if (atEnd) s.length else tokens(k).start

  def atEnd: Boolean = tokens.lengthCompare(k) <= 0

  /** The next token, not consumed. */
  def peek: Option[String] = at(k)

  /** Consume `words` (case-insensitive) if they come next. */
  def kw(words: String*): Boolean = {
    val hit = words.indices.forall(j => at(k + j).exists(_.equalsIgnoreCase(words(j))))
    if (hit) k += words.size
    hit
  }

  /** The text of a dotted name. */
  def name(): String = {
    val start = from
    k += 1
    while (at(k).contains(".")) k += 2
    s.substring(start, if (tokens.lengthCompare(k) < 0) s.length else tokens(k - 1).end)
  }

  def number(): Option[Long] = at(k).filter(_.forall(_.isDigit)).map { n => k += 1; n.toLong }

  def quoted(): Option[String] =
    at(k).filter(_.startsWith("'")).map { q => k += 1; q.substring(1, q.length - 1) }

  /** The text up to the word `w` (outside quotes), or to the end. */
  def upTo(w: String): String = {
    val start = from
    while (!atEnd && !at(k).exists(_.equalsIgnoreCase(w))) k += 1
    s.substring(start, from)
  }

  def rest(): String = try s.substring(from) finally k = tokens.size
}

private object Scanner {
  private val Leading = """\A(?:\s+|--[^\n]*|/\*(?s:.*?)\*/)*""".r
  private val Token = """`(?:[^`]|``)*`|'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"|\w+|\S""".r
}

/** One maintenance statement. `table` (none for CONVERT) starts as the
  * `UnresolvedTable` that Spark's analyzer resolves through the
  * catalog; `name` is the table's name as written (CONVERT's path),
  * which the summary rows and the sql step report. `run` refuses a
  * table that is not a graft table, and every statement but DESCRIBE
  * refuses a name pinned to a version (`--tx t=/p@vN`). Each answers a small summary (one row, or one per
  * retained commit for DESCRIBE HISTORY), never table data. A Spark
  * `RunnableCommand`, so Spark plans it like its own commands and
  * `spark.sql` runs it at once. */
case class GraftMaintenance(op: GraftMaintenance.Op, table: Option[LogicalPlan], name: String)
    extends RunnableCommand {
  import GraftMaintenance._

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType.fromDDL(op.schema))
  override def children: Seq[LogicalPlan] = table.toSeq
  override protected def withNewChildrenInternal(c: IndexedSeq[LogicalPlan]): LogicalPlan =
    copy(table = c.headOption)

  /** The graft table the statement names, once the analyzer resolved it. */
  private lazy val t: GraftTable = table match {
    case Some(ResolvedTable(_, _, t: GraftTable, _)) =>
      if (!t.writable && op != History && op != Detail) refuse(s"${op.name} needs the current " +
        s"table, but '$name' is pinned to v${t.snap.version} — time-travel names are read-only")
      t
    case Some(r: ResolvedTable) => refuse(s"${r.name} is not a graft table")
    case other => refuse(s"${op.name}: no table resolved in $other")
  }

  override def run(spark: SparkSession): Seq[Row] = op match {
    case Optimize(where, zOrder) =>
      // sizing rides session config (the Delta idiom: OPTIMIZE takes
      // no size literals; a lake's file size is an operations setting)
      def conf(k: String, default: Long) = spark.conf.getOption(k).fold(default)(_.toLong)
      val committed =
        if (zOrder.nonEmpty) TxStore.compactZOrder(spark, t.path, zOrder, where = where)
        else TxStore.compactSmallFiles(spark, t.path, where = where,
          targetBytes = conf("graft.optimize.targetBytes", 128L << 20),
          minBytes = conf("graft.optimize.minBytes", 64L << 20))
      Seq(Row(if (zOrder.nonEmpty) "optimize-zorder" else "optimize", name,
        committed.map(Long.box).orNull, committed.isDefined))

    case Vacuum(retain, grace, dryRun) =>
      // the native retention unit is VERSIONS (the log is the clock);
      // HOURS resolves to a version count on commit-file mtimes, so
      // both forms drive one victim computation
      def hours(h: Long) = TxStore.retainVersionsForWindow(spark, t.path, h * 3600000L)
      // a bare VACUUM honours the table's own retention property
      // (Delta's deletedFileRetentionDuration idiom): retainVersions
      // wins over retainHours, an explicit RETAIN over both; default 2
      def property(k: String) = t.snap.properties.collectFirst {
        case (n, v) if n.equalsIgnoreCase(k) =>
          v.trim.toIntOption.getOrElse(refuse(s"table property $k must be an integer, got '$v'"))
      }
      val retainV = retain.map(_.fold(_.toInt, hours))
        .orElse(property("graft.vacuum.retainVersions"))
        .orElse(property("graft.vacuum.retainHours").map(hours(_)))
        .getOrElse(2)
      // GRACE lowers the age guard for an operator who just cut
      // retention; DRY RUN answers the data-file victims the reap's
      // own computation finds, without deleting
      val graceMs = grace.getOrElse(TxStore.DefaultAgeGraceMs)
      if (dryRun) TxStore.vacuumPreview(spark, t.path, retainV, graceMs).sorted.map(Row(_))
      else Seq(Row("vacuum", name, TxStore.vacuum(spark, t.path, retainV, graceMs).toLong))

    case Restore(to) =>
      // a timestamp evaluates through the session (a literal, date
      // arithmetic), then resolves to the latest version at or
      // before it by commit-file mtime, the clock TIMESTAMP AS OF reads
      val version = to.fold(identity, ts => {
        val at = spark.range(1).select(ts.cast("timestamp")).head().getTimestamp(0)
        if (at == null) refuse("RESTORE: TIMESTAMP AS OF expression evaluated to NULL")
        TxStore.versionAtTimestamp(spark, t.path, at.getTime)
      })
      Seq(Row("restore", name, version, TxStore.restore(spark, t.path, version)))

    case History => TxStore.historyFrame(spark, t.path).collect().toSeq
    case Detail => TxStore.tableDetail(spark, t.path).collect().toSeq

    case Convert(path) =>
      val v = TxStore.convert(spark, path)
      Seq(Row("convert", path, v, TxStore.snapshot(spark, path).files.size.toLong))

    case Clone(dest) =>
      // the source's current snapshot as v1 of a fresh table at the
      // quoted path: hard links, no data rewrite (Delta's SHALLOW CLONE)
      Seq(Row("shallow-clone", name, dest, TxStore.cloneTable(spark, t.path, dest)))
  }

  /** What the sql step reports: the statement's kind, its table, and
    * the version it committed, read from its `summary` rows (OPTIMIZE's
    * is null when it rewrote nothing). */
  def written(summary: DataFrame): TxCatalog.Written = TxCatalog.Written(op.name, name,
    Some(op).collect { case _: Optimize | _: Restore | _: Convert | _: Clone => summary.head() }
      .flatMap(r => Option(r.getAs[java.lang.Long]("version"))).map(_.longValue))
}

object GraftMaintenance {

  /** A statement kind: its name in the sql step's report, and the DDL
    * of its summary rows. */
  sealed abstract class Op(val name: String, val schema: String)
  final case class Optimize(where: Option[Column], zOrder: Seq[String])
    extends Op("optimize", "op STRING, `table` STRING, version BIGINT, rewrote BOOLEAN")
  /** `retain`: Left(versions) or Right(hours). */
  final case class Vacuum(retain: Option[Either[Long, Long]], graceMs: Option[Long], dryRun: Boolean)
    extends Op(if (dryRun) "vacuum-dry-run" else "vacuum",
      if (dryRun) "file STRING" else "op STRING, `table` STRING, files_deleted BIGINT")
  /** `to`: Left(version) or Right(timestamp). */
  final case class Restore(to: Either[Long, Column])
    extends Op("restore", "op STRING, `table` STRING, restored_to BIGINT, version BIGINT")
  case object History extends Op("describe-history",
    "version BIGINT, ts TIMESTAMP, op STRING, n_add BIGINT, n_remove BIGINT")
  case object Detail extends Op("describe-detail", "location STRING, version BIGINT, " +
    "num_files BIGINT, size_bytes BIGINT, partition_columns STRING, num_constraints BIGINT, " +
    "column_mapping BOOLEAN, properties STRING")
  final case class Convert(path: String)
    extends Op("convert", "op STRING, location STRING, version BIGINT, n_files BIGINT")
  final case class Clone(dest: String)
    extends Op("shallow-clone", "op STRING, source STRING, dest STRING, version BIGINT")

  private[sources] def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(s"sql maintenance: $msg")
}
