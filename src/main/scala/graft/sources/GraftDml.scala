package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{ResolvedIdentifier, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.write.V1Write
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation, LeafV2CommandExec, OverwriteByExpressionExecV1, V2CommandExec}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.Column

/** SQL writes on graft tables, planned by Spark. The analyzer resolves
  * every statement (names, aliases, `SET *`, types); this strategy then
  * runs the resolved `DELETE`, `UPDATE` and `MERGE` on the TxStore
  * rewrite core, the shape Delta ships (Armbrust et al., "Delta Lake",
  * VLDB 2020):
  *
  *   - `DELETE FROM t [WHERE c]` → [[TxStore.delete]] (a predicate over
  *     partition columns only is a remove-only commit); no condition →
  *     [[TxStore.truncate]];
  *   - `UPDATE t SET c = e, … [WHERE c]` → [[TxStore.update]];
  *   - `MERGE INTO t USING s ON t.k = s.k [AND …] WHEN …` →
  *     [[TxStore.mergeClauses]], the clauses in statement order. `ON`
  *     must be a conjunction of same-name target = source equalities,
  *     because TxStore merges are keyed.
  *
  * Expressions translate by attribute identity: a target attribute
  * becomes `t.<name>` (bare `<name>` for DELETE and UPDATE, whose
  * predicates run over the table's own frame) and a source attribute
  * `s.<name>`, the aliases [[TxStore.mergeClauses]] resolves.
  *
  * The strategy also plans `INSERT OVERWRITE … PARTITION` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic` through the
  * table's V1 write ([[GraftWriteBuilder]]), since Spark has no V1
  * fallback of its own for dynamic overwrite, and refuses a plain
  * `CREATE TABLE` on a `--tx` name (only CTAS creates one, so its first
  * commit holds the rows). Registered by
  * [[graft.functions.GraftExtensions]]. */
object GraftDml extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(Target(t), cond) =>
      GraftDmlExec(t.path, spark =>
        if (cond == Literal.TrueLiteral) TxStore.truncate(spark, t.path)
        else TxStore.delete(spark, t.path, column(cond)(a => Seq(a.name)))) :: Nil
    case UpdateTable(Target(t), assignments, cond) =>
      val set = assignmentMap(assignments, "UPDATE SET")(column(_)(a => Seq(a.name)))
      val pred = cond.fold(lit(true))(column(_)(a => Seq(a.name)))
      GraftDmlExec(t.path, TxStore.update(_, t.path, pred, set)) :: Nil
    case m @ MergeIntoTable(Target(t), _, _, _, _, _, _) => merge(m, t) :: Nil
    case OverwritePartitionsDynamic(Target(t), query, _, _, Some(w: V1Write)) =>
      OverwriteByExpressionExecV1(t, query, () => (), w) :: Nil
    case CreateTable(ResolvedIdentifier(c: TxCatalog, ident), _, _, _, _) if c.owns(ident) =>
      refuse(s"CREATE TABLE ${ident.name}: a --tx name is created by CREATE TABLE " +
        s"${ident.name} USING graft [PARTITIONED BY (…)] AS SELECT …, whose first commit holds its rows")
    case _ => Nil
  }

  /** The writable graft table a write targets (the optimizer may have
    * turned its relation into a scan relation). */
  private object Target {
    def unapply(plan: LogicalPlan): Option[GraftTable] = (plan match {
      case r: DataSourceV2Relation => Some(r.table)
      case s: DataSourceV2ScanRelation => Some(s.relation.table)
      case _ => None
    }).collect { case t: GraftTable =>
      require(t.writable, s"graft: ${t.path} @v${t.snap.version} is a historical snapshot — read-only")
      t
    }
  }

  private def refuse(msg: String): Nothing = throw new IllegalArgumentException(s"sql dml: $msg")

  /** `e` as a Column whose attributes resolve by the names `name` gives. */
  private def column(e: Expression)(name: Attribute => Seq[String]): Column =
    ColumnBridge.column(e.transform { case a: Attribute => UnresolvedAttribute(name(a)) })

  /** One SET / VALUES list → (target column name → value). Spark aligns
    * assignments only for tables with row-level operations, so a
    * duplicate target (which a map would silently collapse to its last
    * value) is refused here. */
  private def assignmentMap(as: Seq[Assignment], what: String)(
      value: Expression => Column): Map[String, Column] = {
    val keys = as.map {
      case Assignment(k: Attribute, _) => k
      case a => refuse(s"unsupported $what target ${a.key.sql}")
    }
    val dup = keys.groupBy(_.exprId).collect { case (_, ks) if ks.size > 1 => ks.head.name }
    if (dup.nonEmpty) refuse(s"duplicate $what target(s): ${dup.mkString(", ")}")
    keys.map(_.name).zip(as.map(a => value(a.value))).toMap
  }

  private def merge(m: MergeIntoTable, t: GraftTable): SparkPlan = {
    import TxStore.MergeClause._
    if (m.withSchemaEvolution) refuse("MERGE WITH SCHEMA EVOLUTION is not supported")
    val (target, source) = (m.targetTable.outputSet, m.sourceTable.outputSet)
    def attr(e: Expression): Option[Attribute] = e match {
      case a: Attribute => Some(a)
      case c: Cast => attr(c.child)
      case _ => None
    }
    val keys = splitConjunctivePredicates(m.mergeCondition).map { c =>
      (c match {
        case EqualTo(l, r) => attr(l).zip(attr(r))
        case _ => None
      }).collect {
        case (a, b) if a.name.equalsIgnoreCase(b.name) &&
            (target.contains(a) && source.contains(b) || target.contains(b) && source.contains(a)) =>
          a.name
      }.getOrElse(refuse(s"unsupported MERGE ON term '${c.sql}' — TxStore merges are keyed: " +
        "ON must be a conjunction of TARGET column = same-name source column equalities"))
    }
    def ts(e: Expression): Column =
      column(e)(a => Seq(if (target.contains(a)) "t" else "s", a.name))
    def cond(c: Option[Expression]) = c.filterNot(_ == Literal.TrueLiteral).map(ts)
    def set(as: Seq[Assignment], what: String) = assignmentMap(as, what)(ts)
    val clauses: Seq[TxStore.MergeClause] = m.matchedActions.map {
      case UpdateAction(c, as, _) => MatchedUpdate(cond(c), Some(set(as, "UPDATE SET")))
      case DeleteAction(c) => MatchedDelete(cond(c))
      case other => refuse(s"unsupported WHEN MATCHED action $other")
    } ++ m.notMatchedActions.map {
      case InsertAction(c, as) => NotMatchedInsert(cond(c), Some(set(as, "INSERT")))
      case other => refuse(s"unsupported WHEN NOT MATCHED action $other")
    } ++ m.notMatchedBySourceActions.map {
      case UpdateAction(c, as, _) => NotMatchedBySourceUpdate(cond(c), set(as, "UPDATE SET"))
      case DeleteAction(c) => NotMatchedBySourceDelete(cond(c))
      case other => refuse(s"unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    val sourcePlan = m.sourceTable
    GraftDmlExec(t.path, spark => TxStore.mergeClauses(
      spark, t.path, ColumnBridge.dataFrame(spark, sourcePlan), keys, clauses))
  }
}

/** One SQL write on the graft table at `path`: `write` runs its TxStore
  * op, which commits (or matches nothing) on its own. */
case class GraftDmlExec(path: String, write: SparkSession => Any)
    extends V2CommandExec with LeafV2CommandExec {
  override def output: Seq[Attribute] = Nil
  override protected def run(): Seq[InternalRow] = { write(session); Nil }
  override def simpleString(maxFields: Int): String = s"GraftDmlExec $path"
}
