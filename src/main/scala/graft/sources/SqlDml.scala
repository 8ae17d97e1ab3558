package graft.sources

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.{Column, SparkSession}

/** SQL DML (DELETE / UPDATE / MERGE) against TxStore tables — the write
  * half of the SQL entry point (`--step sql --tx name=path`).
  *
  * Catalyst PARSES these statements but executes UPDATE, MERGE and
  * row-level DELETE only on v2 tables with row-level operations, which
  * graft tables do not offer (their native DELETE is metadata-only) —
  * so the statement is parsed with Spark's own SQL parser and the
  * resulting logical plan
  * is translated to the TxStore API: `DeleteFromTable` →
  * [[TxStore.delete]], `UpdateTable` → [[TxStore.update]],
  * `MergeIntoTable` → [[TxStore.mergeConditional]]. The text a Delta
  * user writes daily runs unchanged against the commit log; everything
  * downstream (snapshot isolation, conflict detection, partition
  * fast paths, CDC) is the same code path the Scala API exercises.
  *
  * Reference: the challenge's user surface is SQL text
  * (cj_builder.py:36-42, channel_reporter.py:33-93); this closes the
  * write half the reference delegates to SQLite's engine.
  *
  * Supported shapes (refusals are loud, never silent no-ops):
  *   - `INSERT INTO v [PARTITION (p='x')] SELECT …|VALUES …` → append
  *     (by position; `BY NAME` opts into name matching)
  *   - `INSERT OVERWRITE v SELECT …` → overwrite (layout preserved)
  *   - `INSERT OVERWRITE v PARTITION (p='x'|p) SELECT …` → replaceWhere
  *     (static values pin their column; a dynamic column's region is
  *     the batch's own distinct values — dynamic partition overwrite)
  *   - `DELETE FROM v [WHERE …]`
  *   - `UPDATE v SET c = expr[, …] [WHERE …]`
  *   - `MERGE INTO v [AS t] USING src|(subquery) [AS s] ON t.k = s.k [AND …]
  *      [WHEN MATCHED [AND c] THEN UPDATE SET * | SET col = expr[, …]]
  *      [WHEN MATCHED [AND c] THEN DELETE]
  *      [WHEN NOT MATCHED [AND c] THEN INSERT * | (cols) VALUES (…)]
  *      [WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET … | DELETE]`
  *     — the ON clause must be a conjunction of same-name target=source
  *     equalities (TxStore merges are keyed); clauses dispatch in
  *     statement order per group ([[TxStore.mergeClauses]]); BY SOURCE
  *     clauses see the target row only.
  *   - `CREATE TABLE [IF NOT EXISTS] name LOCATION '/p'
  *      [PARTITIONED BY (cols)] AS SELECT …` → a fresh table's v1
  *     commit (refuses non-empty locations — the cloneTable rule); any
  *     other CTAS is not taken and runs through `spark.sql`
  */
object SqlDml {

  /** The `(name, path)` of the one CTAS form this translator owns: a
    * single-part name with a LOCATION and no provider other than graft.
    * Every other CTAS — a qualified name, no LOCATION, `USING parquet` —
    * is Spark's to run (`graft.db.t USING graft` through the graft
    * catalog, `default.t` through the session catalog). */
  private def txCtas(c: CreateTableAsSelect): Option[(String, String)] = {
    val (location, provider) = c.tableSpec match {
      case t: TableSpec => (t.location, t.provider)
      case t: UnresolvedTableSpec => (t.location, t.provider) // the parse-stage form
      case _ => (None, None)
    }
    (c.name, location) match {
      case (u: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier, Some(path))
          if u.nameParts.length == 1 && provider.forall(_.equalsIgnoreCase("graft")) =>
        Some((u.nameParts.head, path))
      case _ => None
    }
  }

  /** Executed DML: the statement kind, the view name it hit, the
    * table path, and the committed version (None = matched nothing,
    * no commit written). */
  final case class Result(op: String, view: String, path: String, version: Option[Long])

  /** If `text` parses to a DML statement, translate and EXECUTE it
    * against the `--tx`-registered table it targets, returning
    * Some(result); None = not DML (the plain read path applies). DML
    * against a table NOT registered via --tx refuses loudly — falling
    * through to Catalyst would produce its opaque unsupported-plan
    * error after this translator exists. */
  def maybeExecute(
      spark: SparkSession, text: String, tx: Map[String, String]): Option[Result] = {
    val plan =
      try spark.sessionState.sqlParser.parsePlan(text)
      catch { case _: Exception => return None } // not parseable as a single plan
    plan match {
      case DeleteFromTable(table, cond) =>
        val (view, alias, path) = target("DELETE", table, tx)
        val pred = ColumnBridge.column(unqualify(cond, view, alias))
        Some(Result("delete", view, path, TxStore.delete(spark, path, pred)))

      case UpdateTable(table, assignments, cond) =>
        val (view, alias, path) = target("UPDATE", table, tx)
        val pairs = assignments.map { a =>
          val name = a.key match {
            case u: UnresolvedAttribute => stripQualifier(u, view, alias).nameParts.mkString(".")
            case other => refuse(s"unsupported UPDATE SET target ${other.sql}")
          }
          name -> ColumnBridge.column(unqualify(a.value, view, alias))
        }
        requireNoDuplicateTargets(spark, pairs.map(_._1), "UPDATE SET")
        val set: Map[String, Column] = pairs.toMap
        val pred = cond.map(c => ColumnBridge.column(unqualify(c, view, alias)))
          .getOrElse(lit(true))
        Some(Result("update", view, path, TxStore.update(spark, path, pred, set)))

      case m: MergeIntoTable =>
        val (view, alias, path) = target("MERGE", m.targetTable, tx)
        val srcAlias = aliasOf(m.sourceTable)
        val source = ColumnBridge.dataFrame(spark, m.sourceTable)
        // ON must be same-name target=source equalities — TxStore
        // merges are keyed; anything else has no keyed translation.
        // When BOTH sides are qualified, one must name the target and
        // the other the source: 'ON t.k = t.k' (a typo) would otherwise
        // silently execute as the keyed join on k.
        val tgtQuals = Set(view.toLowerCase) ++ alias.map(_.toLowerCase)
        val srcQuals = srcAlias.map(_.toLowerCase).toSet
        val keys = conjuncts(m.mergeCondition).map {
          case eq @ org.apache.spark.sql.catalyst.expressions.EqualTo(
              l: UnresolvedAttribute, r: UnresolvedAttribute)
              if l.nameParts.last.equalsIgnoreCase(r.nameParts.last) =>
            (qualifier(l), qualifier(r)) match {
              case (Some(a), Some(b))
                  if !((tgtQuals(a) && srcQuals(b)) || (tgtQuals(b) && srcQuals(a))) =>
                refuse(s"MERGE ON term '${eq.sql}' must equate a TARGET column " +
                  s"with a SOURCE column (target: ${tgtQuals.mkString("/")}, " +
                  s"source: ${if (srcQuals.isEmpty) "<unaliased subquery>" else srcQuals.mkString("/")})")
              case _ => () // an unqualified side: same-name equality suffices
            }
            l.nameParts.last
          case other =>
            refuse(s"unsupported MERGE ON term '${other.sql}' — " +
              "a conjunction of t.key = s.key equalities is required")
        }
        // clause conditions/assignments speak the statement's aliases;
        // TxStore's merge joins target as `t` and source as `s`
        def cl(c: Option[Expression]): Option[Column] =
          c.map(e => ColumnBridge.column(requalify(e,
            targetAs = (view, alias), sourceAs = srcAlias)))
        // a BY SOURCE clause has no source row — any source reference
        // in it is an error, not a silent NULL
        def noSourceRefs(e: Expression, where: String): Expression = {
          val bad = e.collect {
            case u: UnresolvedAttribute
                if qualifier(u).exists(q => srcAlias.exists(_.equalsIgnoreCase(q))) => u
          }
          if (bad.nonEmpty)
            refuse(s"$where references source column(s) ${bad.map(_.sql).mkString(", ")} — " +
              "NOT MATCHED BY SOURCE clauses see the target row only")
          e
        }
        // one SET/VALUES list → (bare target column name → value Column),
        // duplicate targets refused under the session's case rule
        def assignMap(as: Seq[Assignment], what: String): Map[String, Column] = {
          val pairs = as.map { a =>
            val name = a.key match {
              case u: UnresolvedAttribute =>
                stripQualifier(u, view, alias).nameParts.mkString(".")
              case other => refuse(s"unsupported $what target ${other.sql}")
            }
            name -> a.value
          }
          requireNoDuplicateTargets(spark, pairs.map(_._1), what)
          pairs.map { case (n, e) =>
            n -> ColumnBridge.column(requalify(e,
              targetAs = (view, alias), sourceAs = srcAlias))
          }.toMap
        }
        import TxStore.MergeClause._
        // statement order is preserved per group — the engine dispatches
        // each row to the FIRST clause of its group whose condition passes
        val clauses: Seq[TxStore.MergeClause] =
          m.matchedActions.map {
            case UpdateStarAction(c) => MatchedUpdate(cl(c), None)
            case UpdateAction(c, as, false) =>
              MatchedUpdate(cl(c), Some(assignMap(as, "UPDATE SET")))
            case DeleteAction(c) => MatchedDelete(cl(c))
            case other => refuse(s"unsupported WHEN MATCHED action '$other'")
          } ++ m.notMatchedActions.map {
            case InsertStarAction(c) => NotMatchedInsert(cl(c), None)
            case InsertAction(c, as) =>
              NotMatchedInsert(cl(c), Some(assignMap(as, "INSERT")))
            case other => refuse(s"unsupported WHEN NOT MATCHED action '$other'")
          } ++ m.notMatchedBySourceActions.map {
            case DeleteAction(c) =>
              NotMatchedBySourceDelete(
                cl(c.map(noSourceRefs(_, "NOT MATCHED BY SOURCE condition"))))
            case UpdateAction(c, as, false) =>
              as.foreach(a => noSourceRefs(a.value, "NOT MATCHED BY SOURCE assignment"))
              NotMatchedBySourceUpdate(
                cl(c.map(noSourceRefs(_, "NOT MATCHED BY SOURCE condition"))),
                assignMap(as, "UPDATE SET"))
            case other => refuse(s"unsupported WHEN NOT MATCHED BY SOURCE action '$other'")
          }
        // mergeClauses answers None when the statement matched nothing
        // and wrote no commit — the CLI prints 'matched nothing' like
        // delete/update, with no extra log replay and no pre/post
        // version race
        Some(Result("merge", view, path,
          TxStore.mergeClauses(spark, path, source, keys, clauses)))

      case i: InsertIntoStatement =>
        val (view, _, path) = target("INSERT", i.table, tx)
        if (i.ifPartitionNotExists) refuse("INSERT … IF NOT EXISTS is not supported")
        if (i.userSpecifiedCols.nonEmpty)
          refuse("INSERT with an explicit column list is not supported — " +
            "full rows by position (or INSERT … BY NAME)")
        val raw = ColumnBridge.dataFrame(spark, i.query)
        val snap = TxStore.snapshot(spark, path)
        val schemaOpt = TxStore.logicalSchema(snap)
        // a PARTITION clause may name PARTITION columns only — a data
        // column there would silently clobber that column with the
        // constant for every inserted row (Spark/Delta refuse too)
        if (i.partitionSpec.nonEmpty) {
          val parts = TxStore.tablePartitioning(spark, path)
          val bad = i.partitionSpec.keys.filterNot(k =>
            parts.exists(_.equalsIgnoreCase(k)))
          if (bad.nonEmpty)
            refuse(s"PARTITION clause names non-partition column(s) " +
              s"${bad.mkString(", ")} — table '$view' is partitioned by " +
              (if (parts.isEmpty) "nothing" else parts.mkString(", ")))
        }
        val static = i.partitionSpec.toSeq.collect { case (k, Some(v)) => k -> v }
        val dynamicCols = i.partitionSpec.toSeq.collect { case (k, None) => k }
        val df = schemaOpt match {
          case Some(schema) =>
            // SQL INSERT is by POSITION (BY NAME opts into name matching):
            // align the query's output to the table's logical schema minus
            // statically-valued partition columns, casting to table types
            val targets = schema.fields.filterNot(f =>
              static.exists(_._1.equalsIgnoreCase(f.name)))
            if (raw.columns.length != targets.length)
              refuse(s"INSERT provides ${raw.columns.length} column(s), table " +
                s"'$view' expects ${targets.length}" +
                (if (static.nonEmpty) " after the static PARTITION values" else ""))
            val positioned =
              if (i.byName)
                raw.select(targets.map(f =>
                  org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
              else
                raw.select(raw.columns.zip(targets).map { case (c, f) =>
                  org.apache.spark.sql.functions.col(c).cast(f.dataType).as(f.name)
                }.toIndexedSeq: _*)
            static.foldLeft(positioned) { case (acc, (k, v)) =>
              val f = schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
                refuse(s"PARTITION column '$k' is not in table '$view'"))
              acc.withColumn(f.name, lit(v).cast(f.dataType))
            }
          case None =>
            if (static.nonEmpty) refuse("static PARTITION values on a table with no schema yet")
            raw
        }
        val version: Option[Long] =
          if (!i.overwrite) Some(TxStore.append(df, path))
          else if (i.partitionSpec.isEmpty)
            // full INSERT OVERWRITE replaces the table, keeping its layout
            Some(TxStore.overwrite(df, path,
              partitionBy = TxStore.tablePartitioning(spark, path)))
          else {
            // PARTITION (p='x'[, q]) overwrite = replaceWhere over the
            // addressed region: static values pin their column; a
            // dynamic column's region is the batch's OWN distinct
            // values (partition-count bounded collect) — Spark's
            // dynamic partition overwrite semantics. The batch is
            // CACHED across the emptiness probe, the region collects
            // and replaceWhere's own passes (which reuse this cache):
            // a nondeterministic source must not compute the replaced
            // region from different rows than it stages.
            val schema = schemaOpt.getOrElse(refuse("INSERT OVERWRITE PARTITION on a schemaless table"))
            def field(k: String) = schema.fields.find(_.name.equalsIgnoreCase(k))
              .getOrElse(refuse(s"PARTITION column '$k' is not in table '$view'"))
            df.persist()
            try {
              if (dynamicCols.nonEmpty && df.isEmpty)
                // an empty dynamic batch addresses no region — a no-op,
                // like Spark's own dynamic mode (replaceWhere would see
                // a columnless lit(false) predicate and refuse with a
                // misleading message)
                None
              else {
                val staticPreds = static.map { case (k, v) =>
                  val f = field(k)
                  org.apache.spark.sql.functions.col(f.name) === lit(v).cast(f.dataType)
                }
                val dynPreds = dynamicCols.map { k =>
                  val f = field(k)
                  val vals = df.select(org.apache.spark.sql.functions.col(f.name))
                    .distinct().collect().map(_.get(0))
                  org.apache.spark.sql.functions.col(f.name).isin(vals.toIndexedSeq: _*)
                }
                Some(TxStore.replaceWhere(df, path, (staticPreds ++ dynPreds).reduce(_ && _)))
              }
            } finally df.unpersist(): Unit
          }
        Some(Result("insert", view, path, version))

      case c: CreateTableAsSelect if txCtas(c).isDefined =>
        // CTAS: CREATE TABLE name LOCATION '/p' [PARTITIONED BY (…)]
        // AS SELECT … — completes the SQL lifecycle (create → query →
        // DML → time travel). The v1 commit goes through the same
        // partitioning-establishing append every table starts with.
        val (name, path) = txCtas(c).get
        if (TxStore.isTable(spark, path)) {
          if (c.ignoreIfExists) return Some(Result("create", name, path, None))
          refuse(s"CTAS location $path already holds a table " +
            "(CREATE TABLE IF NOT EXISTS to no-op, or pick a fresh path)")
        }
        // the cloneTable establishment rule: never create over existing
        // content — the new data plane would mix with whatever lived there
        if (!TxStore.isEmptyLocation(spark, path))
          refuse(s"CTAS location $path exists and is not empty")
        val parts: Seq[String] = c.partitioning.map { t =>
          // the DSv2 Transform surface (IdentityTransform itself is
          // private[sql]): identity = name "identity" over one field
          if (t.name == "identity" && t.references.length == 1)
            t.references.head.fieldNames match {
              case Array(n) => n
              case other => refuse(
                s"PARTITIONED BY nested field ${other.mkString(".")} is not supported")
            }
          else refuse(s"unsupported PARTITIONED BY transform $t — identity columns only")
        }
        val df = ColumnBridge.dataFrame(spark, c.query)
        val v = TxStore.append(df, path, partitionBy = parts)
        Some(Result("create", name, path, Some(v)))

      case _ => None
    }
  }

  private def refuse(msg: String): Nothing = throw new IllegalArgumentException(s"sql dml: $msg")

  /** Duplicate SET/VALUES targets are an ANSI error — a Map would
    * silently keep only the last assignment. Duplication follows the
    * SESSION's case rule: under spark.sql.caseSensitive=true, columns
    * differing only by case are distinct targets. Shared by UPDATE and
    * every MERGE assignment list. */
  private def requireNoDuplicateTargets(
      spark: SparkSession, names: Seq[String], what: String): Unit = {
    val caseSensitive = TxSnapshot.sessionCaseSensitive(spark)
    val dup = names
      .groupBy(n => if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT))
      .collect { case (n, vs) if vs.size > 1 => n }
    if (dup.nonEmpty) refuse(s"duplicate $what target(s): ${dup.mkString(", ")}")
  }

  /** Resolve the DML's target relation to (viewName, alias, txPath). */
  private def target(
      op: String, plan: LogicalPlan, tx: Map[String, String]): (String, Option[String], String) =
    plan match {
      case SubqueryAlias(id, child) =>
        val (v, _, p) = target(op, child, tx)
        (v, Some(id.name), p)
      case u: UnresolvedRelation =>
        val name = u.multipartIdentifier.mkString(".")
        tx.collectFirst { case (n, p) if n.equalsIgnoreCase(name) => p } match {
          case Some(path) => (name, None, path)
          case None => GraftCatalog.resolvePath(SparkSession.active, u.multipartIdentifier) match {
            // catalog names resolve to the SAME path the catalog plans
            // against, so UPDATE/MERGE text (which classic Spark cannot
            // execute on a v2 relation without RowLevelOperation plans)
            // runs on exactly the table SELECT/DELETE resolve; bare
            // column refs may still qualify with the table's own name
            case Some(path) => (u.multipartIdentifier.last, None, path)
            case None => refuse(
              s"$op targets '$name', which is neither a --tx registered table " +
                s"(registered: ${if (tx.isEmpty) "none" else tx.keys.mkString(", ")}) " +
                "nor a graft-catalog table — DML runs against transactional tables " +
                "only, and time-travel @vN views are read-only")
          }
        }
      case other => refuse(s"$op target must be a named tx table, got ${other.nodeName}")
    }

  /** The alias a USING source is visible under (its SubqueryAlias, or
    * the relation's own name). */
  private def aliasOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(id, _) => Some(id.name)
    case u: UnresolvedRelation => Some(u.multipartIdentifier.last)
    case _ => None
  }

  /** The (lowercased) qualifier of an attribute, None when bare. */
  private def qualifier(u: UnresolvedAttribute): Option[String] =
    if (u.nameParts.length >= 2) Some(u.nameParts.head.toLowerCase) else None

  /** Flatten an AND tree. */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Drop `view`/`alias` qualifiers: the registered temp view's frame
    * carries bare column names, so `DELETE FROM ev WHERE ev.id = 1`
    * must filter on `id`. */
  private def unqualify(e: Expression, view: String, alias: Option[String]): Expression =
    e.transform {
      case u: UnresolvedAttribute => stripQualifier(u, view, alias)
    }

  private def stripQualifier(
      u: UnresolvedAttribute, view: String, alias: Option[String]): UnresolvedAttribute =
    if (u.nameParts.length >= 2 &&
      (u.nameParts.head.equalsIgnoreCase(view) ||
        alias.exists(u.nameParts.head.equalsIgnoreCase)))
      UnresolvedAttribute(u.nameParts.tail)
    else u

  /** Rewrite the statement's own aliases to the `t` (target) / `s`
    * (source) qualifiers [[TxStore.mergeConditional]] clause conditions
    * resolve against. */
  private def requalify(
      e: Expression, targetAs: (String, Option[String]),
      sourceAs: Option[String]): Expression = {
    val (view, alias) = targetAs
    e.transform {
      case u: UnresolvedAttribute if u.nameParts.length >= 2 =>
        val q = u.nameParts.head
        if (q.equalsIgnoreCase(view) || alias.exists(q.equalsIgnoreCase))
          UnresolvedAttribute("t" +: u.nameParts.tail)
        else if (sourceAs.exists(q.equalsIgnoreCase))
          UnresolvedAttribute("s" +: u.nameParts.tail)
        else u
    }
  }
}
