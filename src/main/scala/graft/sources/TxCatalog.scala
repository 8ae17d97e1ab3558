package graft.sources

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{ResolvedTable, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AlterTableCommand, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.connector.catalog.{DelegatingCatalogExtension, Identifier, Table, TableCatalog, TableCatalogCapability, TableChange, TableInfo}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The sql step's session catalog: each `--tx name=path[@vN]`
  * registration is a table of this name → path map, loaded, time
  * traveled and altered by [[PathCatalog]] exactly like a
  * [[GraftCatalog]] table, and every other name goes to Spark's own
  * session catalog as it would without `--tx` (metastore tables,
  * `CREATE TABLE … USING parquet`, `db.table`). A name pinned with
  * `@vN` loads that version read-only. [[TxCatalog.session]] installs
  * it as `spark_catalog` and passes the map as catalog options
  * (`path.<name>`, `version.<name>`). A `--tx` name matches
  * case-insensitively, unqualified or in the default database, and
  * shadows a metastore table of the same name; it cannot be dropped or
  * renamed, and it is created only by CTAS when its path holds no table
  * yet. */
final class TxCatalog extends DelegatingCatalogExtension with PathCatalog {

  private var tables: Map[String, (String, Option[Long])] = Map.empty

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    tables = options.asScala.collect { case (k, p) if k.startsWith("path.") =>
      val n = k.stripPrefix("path.")
      n -> ((p, Option(options.get(s"version.$n")).map(_.toLong)))
    }.toMap

  override protected def locate(ident: Identifier): Option[(String, Option[Long])] =
    if (ident.namespace.isEmpty || lc(ident.namespace) == lc(defaultNamespace()))
      tables.get(ident.name.toLowerCase(Locale.ROOT))
    else None

  private def lc(ns: Array[String]): Seq[String] = ns.toSeq.map(_.toLowerCase(Locale.ROOT))

  private[sources] def owns(ident: Identifier): Boolean = locate(ident).isDefined

  override def capabilities(): java.util.Set[TableCatalogCapability] = {
    val c = java.util.EnumSet.noneOf(classOf[TableCatalogCapability])
    c.addAll(super[DelegatingCatalogExtension].capabilities())
    c.addAll(super[PathCatalog].capabilities())
    c
  }

  override def loadTable(ident: Identifier): Table =
    if (owns(ident)) super[PathCatalog].loadTable(ident)
    else super[DelegatingCatalogExtension].loadTable(ident)

  override def loadTable(ident: Identifier, version: String): Table =
    if (owns(ident)) super[PathCatalog].loadTable(ident, version)
    else super[DelegatingCatalogExtension].loadTable(ident, version)

  override def loadTable(ident: Identifier, timestamp: Long): Table =
    if (owns(ident)) super[PathCatalog].loadTable(ident, timestamp)
    else super[DelegatingCatalogExtension].loadTable(ident, timestamp)

  override def tableExists(ident: Identifier): Boolean =
    if (owns(ident)) super[PathCatalog].tableExists(ident)
    else super[DelegatingCatalogExtension].tableExists(ident)

  override def invalidateTable(ident: Identifier): Unit =
    if (!owns(ident)) super[DelegatingCatalogExtension].invalidateTable(ident)

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    if (owns(ident)) super[PathCatalog].alterTable(ident, changes: _*)
    else super[DelegatingCatalogExtension].alterTable(ident, changes: _*)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val own =
      if (lc(namespace) != lc(defaultNamespace())) Array.empty[Identifier]
      else tables.keys.toArray.sorted.map(n => Identifier.of(namespace, n))
    own ++ super[DelegatingCatalogExtension].listTables(namespace)
      .filterNot(i => owns(i))
  }

  /** A `--tx` name whose path holds no table yet is created by CTAS,
    * `CREATE TABLE name USING graft [PARTITIONED BY (…)] AS SELECT …`:
    * the table returned is CREATABLE, so the query's write is the
    * table's first commit (v1 holds the rows, under the requested
    * layout). A non-empty path that is not a table refuses; an existing
    * table never gets here (`tableExists`, so IF NOT EXISTS no-ops).
    * [[GraftDml]] refuses a plain CREATE TABLE on a `--tx` name, which
    * would otherwise create nothing. Other names go to Spark's session
    * catalog. Declaring table-constraint support (for ALTER … ADD
    * CONSTRAINT on `--tx` names) routes `CREATE TABLE … CONSTRAINT`
    * here too; refuse it rather than create the table without its
    * constraints. */
  override def createTable(ident: Identifier, info: TableInfo): Table = {
    if (info.constraints.nonEmpty) throw new UnsupportedOperationException(
      "CREATE TABLE … CONSTRAINT is not supported in the sql step")
    locate(ident) match {
      case None => super[DelegatingCatalogExtension].createTable(
        ident, info.columns, info.partitions, info.properties)
      case Some((path, _)) =>
        Option(info.properties.get(TableCatalog.PROP_PROVIDER)).foreach(p =>
          require(p.equalsIgnoreCase("graft"), s"CREATE TABLE ${ident.name}: a --tx name is " +
            s"a graft table (USING graft), got provider '$p'"))
        require(TxStore.isEmptyLocation(spark, path),
          s"CREATE TABLE ${ident.name}: $path exists and is not empty")
        val snap = TxStore.snapshot(spark, path)
        new GraftTable(spark, path, snap.copy(partitioning = identityColumns(info.partitions)),
          exists = false)
    }
  }

  override def dropTable(ident: Identifier): Boolean =
    if (owns(ident)) refuse("DROP TABLE")
    else super[DelegatingCatalogExtension].dropTable(ident)

  override def purgeTable(ident: Identifier): Boolean =
    if (owns(ident)) refuse("DROP TABLE")
    else super[DelegatingCatalogExtension].purgeTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    if (owns(oldIdent) || owns(newIdent)) refuse("RENAME TABLE")
    else super[DelegatingCatalogExtension].renameTable(oldIdent, newIdent)

  private def refuse(what: String): Nothing = throw new UnsupportedOperationException(
    s"$what: --tx names map to existing tables; $what is not supported on them")
}

object TxCatalog {

  /** One `--tx` registration; `version` is the `@vN` pin (read-only). */
  final case class Entry(name: String, path: String, version: Option[Long])

  /** Parse `--tx name=path[,name=path…]`. A `@v<N>` path suffix pins
    * version N, but only when the prefix is a real table: a literal path
    * whose last component ends in `@v2` stays itself, a trailing `/`
    * escapes to the literal path (`path@v2/`), and the LAST `@v` splits
    * (`/data@vault/tbl@v3` is version 3 of `/data@vault/tbl`). */
  def parse(spark: SparkSession, spec: String): Seq[Entry] =
    spec.split(',').toSeq.map { pair =>
      val i = pair.indexOf('=')
      require(i > 0, s"--tx expects name=path pairs, got '$pair'")
      val (name, path) = (pair.substring(0, i), pair.substring(i + 1))
      require(!name.contains('.'), s"--tx name '$name' must be a single-part name")
      val at = path.lastIndexOf("@v")
      val v = if (at > 0) path.substring(at + 2) else ""
      if (v.nonEmpty && v.forall(_.isDigit) && TxStore.isTable(spark, path.substring(0, at)))
        Entry(name, path.substring(0, at), Some(v.toLong))
      else Entry(name, path.stripSuffix("/"), None)
    }

  /** A fresh session whose session catalog resolves `entries` by name
    * ahead of the metastore. The caller's session keeps its own
    * catalog and temp views; the new one carries the caller's runtime
    * SQL settings (bar a session-catalog implementation of its own,
    * which [[TxCatalog]] replaces) and the caller's extensions, so it
    * parses maintenance SQL when the caller was built with graft's
    * ([[GraftSqlParser.sql]] runs it on any other). `register` gives a
    * session built without them graft's functions and planner hooks. */
  def session(spark: SparkSession, entries: Seq[Entry]): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") && !SQLConf.isStaticConfigKey(k) &&
          !s.conf.getOption(k).contains(v))
        s.conf.set(k, v)
    }
    // set before anything in `s` loads its session catalog
    val prefix = SQLConf.V2_SESSION_CATALOG_IMPLEMENTATION.key
    s.conf.set(prefix, classOf[TxCatalog].getName)
    entries.foreach { e =>
      s.conf.set(s"$prefix.path.${e.name}", e.path)
      e.version.foreach(v => s.conf.set(s"$prefix.version.${e.name}", v.toString))
    }
    graft.functions.GraftExtensions.register(s)
    s
  }

  /** A write or maintenance statement the sql step reports: what it
    * did, the table's name, and the version it committed (None = it
    * committed nothing). */
  final case class Written(op: String, name: String, version: Option[Long])

  /** What a `spark.sql` statement lands as its artifact. A DELETE,
    * UPDATE, MERGE or INSERT on a graft table lands the rows its
    * commits changed: the change feed since the version pinned in the
    * statement's relation, O(changes), never the table. An ALTER on a
    * graft table lands the history rows of the commits it made (none
    * when IF [NOT] EXISTS matched nothing). A maintenance statement
    * ([[GraftMaintenance]]) lands its summary rows. Anything else lands
    * its own result. */
  def artifact(df: DataFrame): (DataFrame, Option[Written]) = {
    val spark = df.sparkSession
    def graft(plan: LogicalPlan): Option[GraftTable] = plan.collectFirst {
      case ResolvedTable(_, _, t: GraftTable, _) => t
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        r.table.asInstanceOf[GraftTable]
    }
    df.queryExecution.analyzed match {
      case m: GraftMaintenance => (df, Some(m.written(df)))
      // ADD CONSTRAINT … CHECK stays AddCheckConstraint over the relation
      case plan @ (_: AlterTableCommand | _: AddCheckConstraint) =>
        (graft(plan).fold(df) { t =>
          TxStore.historyFrame(spark, t.path).where(col("version") > t.snap.version)
        }, None)
      case plan =>
        val write = plan match {
          case d: DeleteFromTable => Some("delete" -> d.table)
          case u: UpdateTable => Some("update" -> u.table)
          case m: MergeIntoTable => Some("merge" -> m.targetTable)
          case w: V2WriteCommand => Some("insert" -> w.table)
          case _ => None
        }
        // the target's name as written, as maintenance reports it: the
        // first relation of a parsed DELETE, UPDATE or MERGE; INSERT's
        // target is not a child of its plan
        val name = (df.queryExecution.logical match {
          case i: InsertIntoStatement => i.table
          case parsed => parsed
        }).collectFirst { case u: UnresolvedRelation => u.tableName }
        write.flatMap { case (op, table) => graft(table).filter(_.exists).map { t =>
          val (latest, changes) = TxStore.readChangesSince(spark, t.path, t.snap.version)
          (changes, Some(Written(op, name.getOrElse(t.path), Some(latest).filter(_ > t.snap.version))))
        } }.getOrElse((df, None))
    }
  }
}
