package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import java.nio.charset.StandardCharsets
import java.util.UUID

import LogStore.sidecarPath
import TxSnapshot._
import TxStats._

/** Minimal transactional table format — the multi-writer story
  * [[PartitionedStore]] explicitly does not have (its scaladoc documents
  * the single-writer contract; this is the "table format with a
  * transaction log" it points at).
  *
  * Layout (the standard lakehouse shape — cf. the Delta Lake paper,
  * VLDB 2020, and Iceberg's spec; re-derived here, no code in common):
  *
  * {{{
  *   <path>/data/<uuid>.parquet      immutable data files (Spark-written)
  *   <path>/_txlog/<v>%020d.json     one commit per version, atomic create
  * }}}
  *
  * A commit file lists `add` and `remove` data-file names (plus the
  * table schema and an optional exactly-once txn stamp); the snapshot at
  * version V = replay of commits 1..V (adds minus removes). Readers never
  * list `data/` — a crashed writer's orphan files are invisible until a
  * commit names them, which is what makes writes all-or-nothing.
  *
  * Concurrency: OPTIMISTIC. A writer stages data files, then tries to
  * publish `_txlog/<latest+1>.json` through the table's [[LogStore]] by
  * writing a private temp file and hard-linking (local) / renaming
  * (HDFS) it into the final name — one
  * metadata operation that atomically settles BOTH who owns the version
  * (link/rename fail if the target exists) and content visibility (a
  * reader never sees a half-written commit). Exactly one of N racing
  * writers wins; losers re-read the log, re-check for conflicts, and
  * retry at the next version:
  *
  *  - `append` conflicts with nothing — it blindly retries at V+1 (same
  *    rule as Delta's blind-append).
  *  - `overwrite`/`compact` remove files, so they conflict with any
  *    concurrent commit that removed one of the SAME files (the snapshot
  *    they decided on is gone) — they fail loudly rather than resurrect
  *    or double-delete data. Compaction additionally re-checks that its
  *    inputs are still live and aborts as a no-op if a concurrent
  *    overwrite replaced them.
  *  - `delete` is write-serializable (concurrent appends commute with
  *    it); `merge` is serializable (any concurrent commit conflicts,
  *    since a racing append may insert a matching key) — see each
  *    method's scaladoc.
  *  - `appendOnce` stamps the commit with a (writer, batch) txn id for
  *    exactly-once foreachBatch sinks; `readAppendsSince` exposes the
  *    log as file-level append CDC.
  *
  * Scale notes: the log is driver-side — one tiny JSON per commit, replay
  * is O(commits) string parsing (the same shape as Delta's pre-checkpoint
  * replay; a checkpoint file every N commits is the known growth path and
  * `checkpoint()` below writes one, collapsing replay to O(1) + tail).
  * Data-file IO is fully distributed. On S3-like stores without atomic
  * create-no-overwrite, the commit step needs an external lock/CAS service
  * (exactly Delta's documented S3 story) — out of scope here.
  *
  * Code layout: [[LogStore]] (commit-file IO), [[TxSnapshot]] (commit
  * and snapshot shapes, codecs, replay), [[TxStats]] (file stats and
  * pruning) and [[TxWrites]] (the write entry points, mixed in here).
  */
object TxStore extends TxWrites {

  type Commit = TxSnapshot.Commit
  val Commit = TxSnapshot.Commit
  type Snapshot = TxSnapshot.Snapshot
  val Snapshot = TxSnapshot.Snapshot
  type ColRange = TxStats.ColRange
  type NumRange = TxStats.NumRange
  val NumRange = TxStats.NumRange
  type StrRange = TxStats.StrRange
  val StrRange = TxStats.StrRange
  type BloomSum = TxStats.BloomSum
  val BloomSum = TxStats.BloomSum
  type FileStats = TxStats.FileStats

  def logicalSchema(snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    TxSnapshot.logicalSchema(snap)

  /** Whether `path` holds a transactional table — its commit log exists
    * with at least one commit. The disambiguator for path-shaped CLI
    * inputs (a literal directory whose last component happens to end in
    * `@v<digits>` is NOT a time-travel spec unless the prefix is a real
    * table). */
  def isTable(spark: SparkSession, path: String): Boolean =
    logStore(spark, path).listFrom(0L).nonEmpty

  /** Table-establishment guard (CTAS; the [[cloneTable]] rule made
    * reusable): true when `path` does not exist or is an empty
    * directory — creating a table over existing content would mix the
    * new data plane with whatever lived there. */
  def isEmptyLocation(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    !f.exists(p) || f.listStatus(p).isEmpty
  }

  /** The latest committed version — ONE directory listing, zero
    * payload reads or decodes. The streaming source polls this per
    * trigger; a full [[snapshot]] replay here would re-read every
    * retained commit's payloads on every poll (the inline-payload
    * re-read cost the sf100 probe measured). */
  def latestVersion(spark: SparkSession, path: String): Long =
    logStore(spark, path).listFrom(0L).lastOption.fold(0L)(_.version)

  /** Current snapshot (version 0 = empty table, no log yet). */
  def snapshot(spark: SparkSession, path: String): Snapshot = {
    val log = logStore(spark, path)
    replay(log, commits(log))
  }

  /** Snapshot as of an historical version — time travel. Works for any
    * version in the retained (post-checkpoint) log; the files behind it
    * are guaranteed against [[vacuum]] while the version is within
    * vacuum's `retainVersions` window (see the retention contract
    * there). */
  def snapshotAt(spark: SparkSession, path: String, version: Long): Snapshot = {
    val log = logStore(spark, path)
    val all = commits(log)
    // a FUTURE version must refuse, not silently read the current state
    // — "VERSION AS OF 99" on a v2 table answering with v2's data would
    // let the user believe they reproduced v99 (Delta raises
    // VersionNotFoundException here too)
    val latest = all.lastOption.fold(0L)(_.version)
    require(version <= latest,
      s"version $version does not exist at $path (latest is v$latest)")
    val cs = all.filter(_.version <= version)
    require(cs.nonEmpty || version == 0, s"version $version predates the retained log at $path")
    replay(log, cs)
  }

  /** Commit history, oldest first (op + files per version). */
  def history(spark: SparkSession, path: String): Seq[Commit] =
    commits(logStore(spark, path))

  /** [[history]] as a DataFrame — the DESCRIBE HISTORY surface: one
    * row per retained commit, timestamped by the commit file's mtime
    * (the same clock [[versionAtTimestamp]] resolves time travel
    * against, so `ts` here is directly usable in a later
    * `TIMESTAMP AS OF`). O(retained commits) metadata lookups, no
    * data IO — the frame is log-scale regardless of table size. */
  def historyFrame(spark: SparkSession, path: String): DataFrame = {
    val log = logStore(spark, path)
    val rows = commits(log).map { c =>
      (c.version, new java.sql.Timestamp(log.mtime(c.version)), c.op, c.add.size.toLong, c.remove.size.toLong)
    }
    spark.createDataFrame(rows).toDF("version", "ts", "op", "n_add", "n_remove")
  }

  /** DESCRIBE DETAIL — one row of table facts from snapshot + log
    * metadata: location, current version, live file count and bytes
    * (one `getFileStatus` per live file, zero data IO), partition
    * columns, constraint count, column-mapping mode. */
  def tableDetail(spark: SparkSession, path: String): DataFrame = {
    val snap = snapshot(spark, path)
    val f = fs(spark, path)
    val bytes = snap.files.iterator
      .map(n => f.getFileStatus(new Path(s"$path/$DataDir/$n")).getLen).sum
    spark.createDataFrame(Seq((
      path, snap.version, snap.files.size.toLong, bytes,
      snap.partitioning.mkString(","), snap.constraints.size.toLong,
      snap.mapping.nonEmpty,
      snap.properties.map { case (k, v) => s"$k=$v" }.mkString(","))))
      .toDF("location", "version", "num_files", "size_bytes",
        "partition_columns", "num_constraints", "column_mapping", "properties")
  }

  // ── CHECK constraints (public surface) ─────────────────────────────

  /** The table's live CHECK constraints, (name, SQL expression) in
    * declaration order. */
  def tableConstraints(spark: SparkSession, path: String): Seq[(String, String)] =
    snapshot(spark, path).constraints

  /** The table's hive-style partition columns (LOGICAL names, in
    * partition order) — empty for flat tables. */
  def tablePartitioning(spark: SparkSession, path: String): Seq[String] = {
    val snap = snapshot(spark, path)
    if (snap.mapping.isEmpty) snap.partitioning
    else snap.partitioning.map(p => snap.mapping.find(_._2 == p).map(_._1).getOrElse(p))
  }

  /** ADD CONSTRAINT name CHECK (exprSql) — the lakehouse data-quality
    * gate (Delta's `ALTER TABLE … ADD CONSTRAINT`, re-derived on the
    * log). From this commit on, every write of NEW row values (append /
    * appendOnce / overwrite / merge / update) validates against the
    * constraint in one extra aggregate pass over the incoming batch and
    * refuses loudly — bad rows never reach the table, which is the whole
    * point: at 100 TB a post-hoc quality sweep is a full-table scan, a
    * write-time gate is O(batch).
    *
    * EXISTING data is validated first (one distributed scan of the
    * current snapshot), so a live table always satisfies its full
    * constraint set — the invariant that makes write-time checks
    * sufficient. Validation re-runs per commit attempt if the snapshot
    * moved (a concurrent append between validation and commit must not
    * slip unvalidated rows under the new constraint; the atomic
    * version-slot race settles ordering, and the write side re-checks
    * symmetrically when IT loses — see the drift re-check in append).
    *
    * NULL semantics are ANSI CHECK: a row violates only when the
    * expression is FALSE; NULL passes (use `x IS NOT NULL` to forbid
    * nulls). Constraints survive [[checkpoint]]/[[cloneTable]] (the
    * restatement carries them) and [[restore]] restores the TARGET
    * version's set along with its data — self-consistent time travel. */
  def addConstraint(spark: SparkSession, path: String, name: String, exprSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+: '$name'")
    require(!exprSql.exists(c => c == '\n' || c == '\t'),
      "constraint expression must not contain tabs or newlines")
    var validatedAt = -1L
    commitLoop(spark, path, "constraint") { snap =>
      require(!snap.constraints.exists(_._1 == name),
        s"constraint '$name' already exists at $path")
      // Parse (and, when a schema exists, resolve) the expression AT
      // ALTER TIME, even over an empty table — a typo'd expression must
      // refuse here, not commit and then poison every subsequent write.
      // (The Connect-unified Column API defers `expr` parsing to
      // analysis, so the parse is forced through the session parser.)
      try {
        spark.sessionState.sqlParser.parseExpression(exprSql): Unit
        logicalSchema(snap).foreach { s =>
          spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
            .filter(violatesConstraint(exprSql))
            .queryExecution.analyzed // analysis only, no job
        }
      } catch {
        case e: IllegalArgumentException => throw e
        case e: Exception =>
          throw new IllegalArgumentException(
            s"invalid constraint expression '$exprSql': ${e.getMessage}", e)
      }
      if (validatedAt != snap.version) {
        if (snap.files.nonEmpty)
          enforceConstraints(readSnap(spark, path, snap), Seq(name -> exprSql),
            "existing data", path)
        validatedAt = snap.version
      }
      Some(CommitSpec(Nil, Nil, None,
        constraints = Some(encodeConstraints(snap.constraints :+ (name -> exprSql)))))
    }.get.version
  }

  /** DROP CONSTRAINT — metadata-only commit restating the set minus
    * `name`; refuses an unknown name (a silent no-op would hide typos
    * from an operator who believes a gate is off). */
  def dropConstraint(spark: SparkSession, path: String, name: String): Long =
    commitLoop(spark, path, "constraint") { snap =>
      require(snap.constraints.exists(_._1 == name),
        s"no constraint '$name' at $path (live: ${snap.constraints.map(_._1).mkString(", ")})")
      Some(CommitSpec(Nil, Nil, None,
        constraints = Some(encodeConstraints(snap.constraints.filterNot(_._1 == name)))))
    }.get.version

  // ── column rename / drop (public surface) ──────────────────────────

  /** The property grammar + behavior-key gate, shared by
    * [[setTableProperties]] and [[create]]. */
  private def validateProperties(kv: Seq[(String, String)]): Unit = {
    kv.foreach { case (k, v) =>
      require(k.nonEmpty, "property keys must be non-empty")
      require(!k.exists(c => c == '\t' || c == '\n') && !v.exists(c => c == '\t' || c == '\n'),
        s"property '$k' must not contain tabs or newlines")
      // BEHAVIOR-GATING keys validate at SET time — a typo'd boolean
      // silently disabling the append-only gate would be a data-loss
      // hole discovered only at the first delete
      if (k.equalsIgnoreCase("graft.appendOnly") ||
          k.equalsIgnoreCase("graft.stats.nullCounts"))
        require(v.trim.equalsIgnoreCase("true") || v.trim.equalsIgnoreCase("false"),
          s"$k must be 'true' or 'false', got '$v'")
    }
    require(kv.map(p => lc(p._1)).distinct.size == kv.size,
      s"duplicate property key in ${kv.map(_._1).mkString(", ")}")
  }

  /** Table PROPERTIES — Delta's TBLPROPERTIES surface re-derived on the
    * log: free-form (key → value) pairs riding commits latest-wins
    * (like the schema), restated through checkpoints/clones so
    * truncation never loses them, and rewound by restore only if the
    * target's commit chain says so (a restore commit does not restate
    * properties — they are operational metadata, not data state). Keys
    * are case-preserving but case-insensitively unique. One commit per
    * statement — an ALTER with several pairs is atomic. */
  def setTableProperties(
      spark: SparkSession, path: String, kv: Seq[(String, String)]): Long = {
    require(kv.nonEmpty, "SET TBLPROPERTIES: no pairs given")
    validateProperties(kv)
    commitLoop(spark, path, "set-properties") { snap =>
      val newKeys = kv.map(p => lc(p._1)).toSet
      val merged = snap.properties.filterNot(p => newKeys(lc(p._1))) ++ kv
      Some(CommitSpec(Nil, Nil, None, props = Some(encodeConstraints(merged))))
    }.get.version
  }

  /** Drop properties by key; `ifExists = false` refuses on a missing
    * key (the ALTER … UNSET TBLPROPERTIES contract). */
  def unsetTableProperties(
      spark: SparkSession, path: String, keys: Seq[String],
      ifExists: Boolean = false): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES: no keys given")
    commitLoop(spark, path, "unset-properties") { snap =>
      val have = snap.properties.map(p => lc(p._1)).toSet
      val missing = keys.filterNot(k => have(lc(k)))
      require(ifExists || missing.isEmpty,
        s"no such propert${if (missing.size == 1) "y" else "ies"}: ${missing.mkString(", ")}")
      val drop = keys.map(lc).toSet
      Some(CommitSpec(Nil, Nil, None,
        props = Some(encodeConstraints(snap.properties.filterNot(p => drop(lc(p._1)))))))
    }.get.version
  }

  /** The current property set, declaration order. */
  def tableProperties(spark: SparkSession, path: String): Seq[(String, String)] =
    snapshot(spark, path).properties

  /** The snapshot's mapping, materialized: identity pairs over the
    * current schema when mapping mode has not been entered yet. */
  private def materializedMapping(snap: Snapshot): Seq[(String, String)] =
    if (snap.mapping.nonEmpty) snap.mapping
    else {
      val s = snap.schema.getOrElse(throw new IllegalArgumentException(
        "table carries no log schema — write data before renaming/dropping columns"))
      s.fieldNames.toSeq.foreach(n => require(!n.exists(c => c == '\t' || c == '\n'),
        s"column name unsupported for mapping mode: '$n'"))
      s.fieldNames.toSeq.map(n => (n, n))
    }

  /** Refuse a rename/drop of a column a live CHECK constraint
    * references — the constraint would silently stop resolving (the
    * Delta rule: drop the constraint first). */
  private def requireNoConstraintRefs(snap: Snapshot, colName: String, op: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    snap.constraints.foreach { case (n, e) =>
      val refs = org.apache.spark.sql.graft.ColumnBridge
        .expression(org.apache.spark.sql.functions.expr(e))
        .collect { case u: UnresolvedAttribute => lc(u.nameParts.last) }
      require(!refs.contains(lc(colName)),
        s"cannot $op column '$colName': CHECK constraint '$n' ($e) references it — " +
          "drop the constraint first")
    }
  }

  /** RENAME COLUMN without rewriting a byte of data — Delta's
    * column-mapping (name mode) re-derived on the log. The first
    * rename/drop materializes the mapping (identity pairs over the
    * current schema); from then on the log schema stays the PHYSICAL
    * parquet schema and only the logical side changes here. Reads at a
    * historical version use THAT version's names (time travel sees the
    * old name); stats/bloom pruning keeps working because the predicate
    * walker translates logical → physical. Refuses a target name
    * already in use, reserved (`__*`) or grammar-breaking, and a source
    * column a CHECK constraint references. */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Long = {
    require(to.nonEmpty &&
      !to.exists(c => c == '\t' || c == '\n' || c == '"' || c == '\\' || c == '#'),
      s"invalid column name: '$to'")
    require(!to.startsWith("__"), "names starting with __ are reserved")
    commitLoop(spark, path, "rename-column") { snap =>
      val m = materializedMapping(snap)
      require(m.exists(p => lc(p._1) == lc(from)), s"no such column: $from")
      require(!m.exists(p => lc(p._1) == lc(to)), s"column '$to' already exists")
      requireNoConstraintRefs(snap, from, "rename")
      val m2 = m.map { case (l, p) => if (lc(l) == lc(from)) (to, p) else (l, p) }
      Some(CommitSpec(Nil, Nil, None, mapping = Some(encodeMapping(m2, snap.retired))))
    }.get.version
  }

  /** DROP COLUMN without rewriting data: the pair leaves the mapping
    * and the physical name RETIRES forever — a later re-added column of
    * the same logical name gets a fresh physical name, so the dropped
    * values in old files can never resurrect (they physically vanish as
    * rewrites touch the files; a compact purges them at once — the
    * GDPR path). Refuses the last column and constraint-referenced
    * ones. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long =
    dropColumns(spark, path, Seq(name))

  /** [[dropColumn]] for SEVERAL columns in ONE commit — the atomic form
    * `ALTER TABLE … DROP COLUMN a, b` needs: every column is validated
    * against the snapshot (existence, not-all-columns, constraint refs,
    * partition membership) BEFORE anything commits, so a refusal on the
    * last name leaves no earlier drop durable (ADVICE r14 — sequential
    * single-column commits broke statement atomicity). */
  def dropColumns(spark: SparkSession, path: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMN: no columns given")
    require(names.map(lc).distinct.size == names.size,
      s"DROP COLUMN: duplicate name in ${names.mkString(", ")}")
    commitLoop(spark, path, "drop-column") { snap =>
      val m = materializedMapping(snap)
      val dropSet = names.map(lc).toSet
      names.foreach { n =>
        require(m.exists(p => lc(p._1) == lc(n)), s"no such column: $n")
        requireNoConstraintRefs(snap, n, "drop")
      }
      val (gone, keep) = m.partition(p => dropSet(lc(p._1)))
      require(keep.nonEmpty, "cannot drop every column")
      gone.foreach { g =>
        require(!snap.partitioning.exists(p => lc(p) == lc(g._2)),
          s"cannot drop partition column '${g._1}' — re-layout with " +
            "overwrite(partitionBy) first")
      }
      Some(CommitSpec(Nil, Nil, None,
        mapping = Some(encodeMapping(keep, snap.retired ++ gone.map(_._2)))))
    }.get.version
  }

  /** ALTER TABLE ADD COLUMN — metadata-only schema evolution: the log
    * schema restates with the new ALL-NULLABLE field appended; existing
    * files simply lack it and read NULL (schema-on-log, the same
    * contract an evolving append relies on — this is its explicit
    * no-data form). Under column mapping the logical name binds to a
    * FRESH physical name when its own is in use or retired, so
    * re-adding a previously dropped column can never resurrect the old
    * files' values. Refuses existing, reserved (`__*`) and
    * grammar-breaking names. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    require(name.nonEmpty &&
      !name.exists(c => c == '\t' || c == '\n' || c == '"' || c == '\\' || c == '#'),
      s"invalid column name: '$name'")
    require(!name.startsWith("__"), "names starting with __ are reserved")
    commitLoop(spark, path, "add-column") { snap =>
      val logical = logicalSchema(snap).getOrElse(throw new IllegalArgumentException(
        "table carries no log schema — write data before altering columns"))
      require(!logical.fieldNames.exists(n => lc(n) == lc(name)),
        s"column '$name' already exists")
      val field = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
      if (snap.mapping.isEmpty)
        Some(CommitSpec(Nil, Nil, Some(encodeSchema(
          org.apache.spark.sql.types.StructType(logical.fields :+ field)))))
      else {
        val used = (snap.schema.get.fieldNames.toSeq ++ snap.retired ++
          snap.mapping.map(_._2)).map(lc).toSet
        val phys =
          if (used(lc(name))) s"${name}_${UUID.randomUUID().toString.take(8)}" else name
        Some(CommitSpec(Nil, Nil,
          Some(encodeSchema(org.apache.spark.sql.types.StructType(
            snap.schema.get.fields :+ field.copy(name = phys)))),
          mapping = Some(encodeMapping(snap.mapping :+ ((name, phys)), snap.retired))))
      }
    }.get.version
  }

  /** Establish an EMPTY transactional table in ONE creating commit:
    * declared schema, hive partition layout, and initial properties all
    * land as version 1 with zero data files — the TableCatalog's
    * `CREATE TABLE` (Delta's CreateDeltaTableCommand shape; CTAS then
    * appends into it). Fields store nullable like every evolved schema.
    * Refuses an existing table (the caller decides IF NOT EXISTS
    * semantics), a partition column missing from the schema, and the
    * property grammar/behavior-key violations [[setTableProperties]]
    * refuses. The commit is metadata-only: CDC ranges spanning it emit
    * no change rows. */
  def create(
      spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String] = Nil, properties: Seq[(String, String)] = Nil): Long = {
    require(schema.nonEmpty, s"create at $path: the schema needs at least one column")
    val parts = partitionBy.map { p =>
      schema.fields.find(_.name.equalsIgnoreCase(p)).getOrElse(throw new IllegalArgumentException(
        s"create at $path: partition column '$p' is not in the schema " +
          s"(${schema.fieldNames.mkString(", ")})")).name
    }
    validateProperties(properties)
    commitLoop(spark, path, "create") { snap =>
      require(snap.version == 0L && snap.schema.isEmpty,
        s"create at $path: already a transactional table (v${snap.version})")
      val nullable = org.apache.spark.sql.types.StructType(
        schema.fields.map(_.copy(nullable = true)))
      Some(CommitSpec(Nil, Nil, Some(encodeSchema(nullable)),
        partcols = if (parts.nonEmpty) Some(encodePartitioning(parts)) else None,
        props = if (properties.nonEmpty) Some(encodeConstraints(properties)) else None))
    }.get.version
  }

  /** Append-only CDC: the rows appended after `sinceVersion` plus the
    * version this read is current to — the incremental-consumption seam a
    * downstream job polls instead of re-scanning the table. File-level:
    * only `add`-commits' files are read, never the whole snapshot.
    *
    * Fails loudly (rather than answering wrong) in the two cases file
    * adds cannot represent the delta: a rewrite commit in range
    * (delete/merge/overwrite/compact — row-level changes aren't
    * derivable from added files), and history truncated past
    * `sinceVersion` by a [[checkpoint]]. Both mean: re-read the full
    * snapshot and resume CDC from its version. */
  def readAppendsSince(
      spark: SparkSession, path: String, sinceVersion: Long): (Long, DataFrame) = {
    val log = logStore(spark, path)
    val cs = commits(log)
    val snap = replay(log, cs)
    // a position AHEAD of the log is a consumer pointed at the wrong /
    // wiped / recreated table — answering (0, empty) would silently
    // reset its position and re-deliver everything it already consumed
    require(
      sinceVersion <= snap.version,
      s"consumer position v$sinceVersion is ahead of the log at $path " +
        s"(latest v${snap.version}) — wrong path, or the table was recreated")
    if (cs.nonEmpty)
      require(
        cs.head.version <= sinceVersion + 1,
        s"appends since v$sinceVersion are not derivable: the retained log starts at " +
          s"v${cs.head.version} (checkpoint truncated history) — re-read the snapshot")
    val tail = cs.filter(c => c.version > sinceVersion && c.op != "checkpoint")
    // a deletion-vector commit changes ROWS without touching the file
    // set — for file-level CDC it is a rewrite exactly like delete;
    // sidecar-carrying non-checkpoint commits are dv commits by
    // construction (bulk vectored deletes), refused the same way
    val rewrites = tail.filter(c => c.remove.nonEmpty || c.dv.isDefined || c.sidecars.nonEmpty)
    require(
      rewrites.isEmpty,
      s"($sinceVersion, ${snap.version}] contains rewrite commits " +
        s"(${rewrites.map(c => s"v${c.version}:${c.op}").mkString(", ")}) — file-level CDC " +
        "tracks appends only; re-read the snapshot")
    // caught up (or the table has no commits yet) reads no file: an
    // EMPTY delta, never an error — a poll loop must be able to run
    // ahead of the producer (with no schema on the log yet, zero columns)
    (snap.version, readSnap(spark, path, restricted(snap, tail.flatMap(_.add))))
  }

  /** The data files a delete-dv commit marks, from the commit's own
    * (file-level) metadata — inline map keys, packed-sidecar map keys,
    * parquet-vector ref lists. Never opens mark parquet. */
  private def dvTouchedFiles(f: FileSystem, path: String, c: Commit): Seq[String] = {
    val inline = c.dv.toSeq.flatMap(b64 => decodeDv(b64).keys)
    val side = c.sidecars.flatMap { n =>
      val p = readSidecar(f, path, n)
      p.dv.keys.toSeq ++ p.dvParquet.flatMap(_._2)
    }
    (inline ++ side).distinct
  }

  /** ROW-level CDC: every logical row change after `sinceVersion`, as
    * the table's CURRENT schema plus `_change_type` ('insert'/'delete';
    * an update surfaces as its delete + insert pair) and
    * `_commit_version` — the change-data-feed contract
    * ([[readAppendsSince]] is the cheaper appends-only sibling this
    * generalizes). Everything is derived from the log, distributed, per
    * commit op:
    *
    *  - `append`: the added files' rows → inserts. Exact, cost = the
    *    appended bytes.
    *  - `delete-dv`: the touched files' rows under the previous
    *    version's marks, left-anti joined on (`_file`, `_row_index`)
    *    against the same files under this version's marks → deletes.
    *    Exact, cost = the touched files read twice — row positions
    *    identify the deleted rows without a row diff.
    *  - `compact` / `optimize-zorder`: data-preserving by contract —
    *    no events.
    *  - `delete` (copy-on-write): the rewritten inputs' effective rows
    *    `exceptAll` the replacement files' rows → deletes. Cost ∝ the
    *    rewritten bytes (already paid once by the rewrite itself).
    *  - `merge`: the same diff in both directions → deletes + inserts.
    *  - `overwrite`: full-replace semantics — every prior effective row
    *    a delete, every new row an insert (the Delta CDF shape; cost is
    *    inherent to the op).
    *  - `restore`: effective-row diff between the two versions, both
    *    directions — a restore after a small accident emits the small
    *    delta, not the table.
    *
    * Same loud refusals as [[readAppendsSince]]: a consumer position
    * ahead of the log, or history truncated past it by a [[checkpoint]]
    * — re-read the snapshot and resume from its version. Removed files
    * referenced by in-range commits must still exist: the same
    * [[vacuum]] retention contract as time travel. */
  def readChangesSince(
      spark: SparkSession, path: String, sinceVersion: Long): (Long, DataFrame) =
    changesBetween(spark, path, sinceVersion, None)

  /** [[readChangesSince]] with an INCLUSIVE upper bound — the streaming
    * follower's shape: a micro-batch that discovered versions
    * (since, until] derives exactly those commits' rows, never a
    * concurrent later commit's (which the next batch owns). Same
    * refusal contract as the unbounded read. */
  def readChangesBetween(
      spark: SparkSession, path: String,
      sinceVersion: Long, untilVersion: Long): DataFrame = {
    require(sinceVersion <= untilVersion,
      s"empty change range: since v$sinceVersion > until v$untilVersion")
    changesBetween(spark, path, sinceVersion, Some(untilVersion))._2
  }

  private def changesBetween(
      spark: SparkSession, path: String, sinceVersion: Long,
      untilVersion: Option[Long]): (Long, DataFrame) = {
    val log = logStore(spark, path)
    val cs = commits(log)
    val snap = replay(log, cs)
    require(
      sinceVersion <= snap.version,
      s"consumer position v$sinceVersion is ahead of the log at $path " +
        s"(latest v${snap.version}) — wrong path, or the table was recreated")
    require(untilVersion.forall(_ <= snap.version),
      s"until v${untilVersion.get} is ahead of the log at $path (latest v${snap.version})")
    if (cs.nonEmpty)
      require(
        cs.head.version <= sinceVersion + 1,
        s"changes since v$sinceVersion are not derivable: the retained log starts at " +
          s"v${cs.head.version} (checkpoint truncated history) — re-read the snapshot")
    val tail = cs.filter(c => c.version > sinceVersion &&
      untilVersion.forall(c.version <= _) && c.op != "checkpoint")
    // CDF reads in the CURRENT schema (old files' missing columns are
    // NULL via schema-on-read) — one schema across every emitted frame;
    // same for the CURRENT column mapping (a renamed column's whole
    // history reads under its current logical name, a dropped one
    // disappears — the current-schema contract). Each frame reads its
    // files under the layout and stats of the snapshot they were live
    // in, and under its deletion marks unless the files were just added.
    def frame(at: Snapshot, files: Seq[String], marked: Boolean = true,
        meta: Seq[String] = Nil): DataFrame = {
      val era =
        if (marked) restricted(at, files) else at.copy(files = files, dv = Map.empty, dvp = Map.empty)
      readSnap(spark, path, era.copy(schema = snap.schema, mapping = snap.mapping), meta)
    }
    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))

    val parts: Seq[DataFrame] = tail.flatMap { c =>
      lazy val before = replay(log, cs.filter(_.version < c.version))
      lazy val after = replay(log, cs.filter(_.version <= c.version))
      def added = frame(after, c.add, marked = false)
      c.op match {
        case "append" =>
          if (c.add.isEmpty) Nil
          else Seq(tagged(added, "insert", c.version))
        // metadata-only commits move no rows: file-preserving layout ops,
        // ALTERs (constraints, column mapping, properties), an empty
        // CREATE, and stats annotations (buildBlooms' "bloom" op
        // adds/removes nothing) emit no change rows — a CDC range
        // spanning one stays readable
        case "compact" | "optimize-zorder" | "constraint" | "rename-column"
            | "drop-column" | "add-column" | "bloom"
            | "set-properties" | "unset-properties" | "create" =>
          Nil
        case "delete-dv" =>
          val touched = dvTouchedFiles(log.fs, path, c).filter(after.files.contains)
          if (touched.isEmpty) Nil
          else {
            val stillThere = frame(after, touched, meta = Position).select(Position.map(col): _*)
            val gone = frame(before, touched, meta = Position)
              .join(stillThere, Position, "left_anti")
              .drop(Position: _*)
            Seq(tagged(gone, "delete", c.version))
          }
        case "delete" =>
          if (c.remove.isEmpty) Nil
          else {
            val old = frame(before, c.remove)
            val gone = if (c.add.isEmpty) old else old.exceptAll(added)
            Seq(tagged(gone, "delete", c.version))
          }
        // replace-where and update derive like merge: removed files'
        // rows delete, staged rows insert, identical rows cancel (an
        // update wave's untouched rows in a rewritten file, or a
        // restatement re-landing a row unchanged, are not changes)
        case "merge" | "replace-where" | "update" =>
          val old = if (c.remove.isEmpty) None else Some(frame(before, c.remove))
          val neu = if (c.add.isEmpty) None else Some(added)
          val dels = old.map(o => tagged(neu.fold(o)(o.exceptAll), "delete", c.version))
          val ins = neu.map(n => tagged(old.fold(n)(n.exceptAll), "insert", c.version))
          dels.toSeq ++ ins.toSeq
        case "overwrite" =>
          val dels =
            if (before.files.isEmpty) Nil
            else Seq(tagged(frame(before, before.files), "delete", c.version))
          val ins = if (c.add.isEmpty) Nil else Seq(tagged(added, "insert", c.version))
          dels ++ ins
        // a clone's (or convert's) creating commit restates existing
        // data into a fresh table: its adds are inserts, read through
        // the commit's own restated DV marks (none for convert)
        case "clone" | "convert" =>
          if (c.add.isEmpty) Nil
          else Seq(tagged(frame(after, c.add), "insert", c.version))
        case "restore" =>
          val b = if (before.files.isEmpty) None else Some(frame(before, before.files))
          val a = if (after.files.isEmpty) None else Some(frame(after, after.files))
          val dels = b.map(bf => tagged(a.fold(bf)(bf.exceptAll), "delete", c.version))
          val ins = a.map(af => tagged(b.fold(af)(af.exceptAll), "insert", c.version))
          dels.toSeq ++ ins.toSeq
        case other =>
          throw new IllegalStateException(
            s"row-level CDC cannot derive changes for op '$other' at v${c.version}")
      }
    }

    val df = parts.reduceOption(_.unionByName(_))
      .getOrElse(tagged(frame(snap, Nil), "insert", snap.version))
    (snap.version, df)
  }

  /** Write a checkpoint commit: the full live set as one log entry, so
    * replay afterwards parses O(1) entries + the tail instead of the whole
    * history. Contends like any commit (it removes nothing, adds nothing
    * logically — `add` restates the live set).
    *
    * MULTI-PART: when more than `shardFiles` live files carry stats or
    * deletion-vector payloads, the restatement is sharded into sidecar
    * files of ≤ `shardFiles` files each (the Delta multi-part parquet-
    * checkpoint shape re-derived on the text log) and the commit line
    * carries only the live-file manifest plus sidecar references — the
    * heavy per-file payloads stop riding the line that every replay
    * parses and every commit race re-reads. Sidecars are staged fresh
    * per commit attempt (a lost race restates against the newer
    * snapshot; the loser's sidecars are deleted, and any crash-orphan
    * is reclaimed by [[vacuum]] once aged). Small tables keep the
    * single-line form — one file to read beats several. */
  def checkpoint(spark: SparkSession, path: String, shardFiles: Int = 512): Long = {
    require(shardFiles >= 1, s"shardFiles must be ≥ 1: $shardFiles")
    val f = fs(spark, path)
    var staged: Seq[String] = Nil
    def discard(): Unit = {
      staged.foreach(n => f.delete(sidecarPath(path, n), false))
      staged = Nil
    }
    try
      commitLoop(spark, path, "checkpoint") { snap =>
        discard() // a retried attempt restates against the fresh snapshot
        val (spec, sc) = restateSpec(f, path, snap, shardFiles)
        staged = sc
        Some(spec)
      }.get.version
    catch { case e: Throwable => discard(); throw e }
  }

  /** The checkpoint-shape restatement of `snap` as a CommitSpec for
    * `path`: the full live set in `add`, per-file stats / inline
    * deletion vectors inline when ≤ `shardFiles` files carry payloads,
    * sharded into sidecar files otherwise; parquet-vector REFERENCES
    * always restate as one (dir → live files) sidecar — the dirs
    * themselves are immutable data-plane files and are never rewritten.
    * Returns (spec, staged sidecar names) so callers can discard the
    * sidecars of a lost attempt. Shared by [[checkpoint]],
    * [[cloneTable]] and [[restore]]. */
  private def restateSpec(
      f: FileSystem,
      path: String,
      snap: Snapshot,
      shardFiles: Int): (CommitSpec, Seq[String]) = {
    val dvpRefs = dvpByDir(snap)
    def dvpSidecar(): Seq[String] =
      if (dvpRefs.isEmpty) Nil
      else Seq(writeSidecar(f, path, Map.empty, Map.empty, dvpRefs))
    val payloadFiles = (snap.stats.keySet ++ snap.dv.keySet).toSeq.sorted
    // always restate the constraint set AND the column mapping: the
    // checkpoint truncates replay, so anything not restated here is
    // lost to post-checkpoint readers
    val cons = Some(encodeConstraints(snap.constraints))
    val mp = Some(encodeMapping(snap.mapping, snap.retired))
    val pc = Some(encodePartitioning(snap.partitioning))
    val pp = Some(encodeConstraints(snap.properties))
    if (payloadFiles.size <= shardFiles) {
      val sts =
        if (snap.stats.isEmpty) None
        else Some(java.util.Base64.getEncoder.encodeToString(
          renderStats(snap.stats).getBytes(StandardCharsets.UTF_8)))
      val dvs = if (snap.dv.isEmpty) None else Some(encodeDv(snap.dv))
      val sc = dvpSidecar()
      (CommitSpec(snap.files, Nil, snap.schema.map(encodeSchema), sts, dvs, sc, cons, mp, pc,
        pp), sc)
    } else {
      val sc = payloadFiles.grouped(shardFiles).map { group =>
        val g = group.toSet
        writeSidecar(f, path,
          snap.stats.view.filterKeys(g).toMap,
          snap.dv.view.filterKeys(g).toMap)
      }.toSeq ++ dvpSidecar()
      (CommitSpec(snap.files, Nil, snap.schema.map(encodeSchema), None, None, sc, cons, mp, pc,
        pp), sc)
    }
  }

  /** SHALLOW CLONE: publish `source`'s current snapshot as version 1 of
    * a fresh table at `dest` without rewriting a byte of data. The data
    * plane transfers as hard links when source and destination share a
    * local filesystem (zero-copy, O(live files) metadata ops — the
    * same driver-side class as [[checkpoint]]), falling back to a byte
    * copy per file otherwise (HDFS/object stores have no link
    * primitive). Parquet deletion-vector sidecar dirs referenced by the
    * snapshot transfer the same way; inline stats/DV restate through
    * the checkpoint sharding shape.
    *
    * Isolation comes free from the engine's immutable-data-file
    * invariant plus link semantics: writes to either table stage NEW
    * uuid-named files, and a [[vacuum]] on one side unlinks only its
    * own directory entry — the shared inode survives until both sides
    * drop it. The clone's log starts at the clone commit, so its
    * history (and time travel) begins at the clone point — Delta's
    * shallow-clone contract, re-derived for the name-addressed log.
    *
    * Refuses a non-empty `dest` (clone creates tables, it never merges
    * into one); a racing first commit at `dest` loses to exactly one
    * winner through the ordinary version-1 commit race. */
  def cloneTable(
      spark: SparkSession, source: String, dest: String, shardFiles: Int = 512): Long = {
    require(source != dest, s"clone source and destination are both $source")
    val f = fs(spark, source)
    val snap = snapshot(spark, source)
    require(snap.files.nonEmpty, s"nothing to clone at $source")
    val destF = fs(spark, dest)
    require(!LogStore(destF, dest).exists,
      s"clone target $dest already has a transaction log")
    snap.files.foreach { n =>
      linkOrCopy(f, new Path(s"$source/$DataDir/$n"), destF, new Path(s"$dest/$DataDir/$n"))
    }
    dvpByDir(snap).map(_._1).distinct.foreach { dir =>
      f.listStatus(sidecarPath(source, dir)).foreach { st =>
        linkOrCopy(f, st.getPath, destF, new Path(sidecarPath(dest, dir), st.getPath.getName))
      }
    }
    var staged: Seq[String] = Nil
    def discard(): Unit = {
      staged.foreach(n => destF.delete(sidecarPath(dest, n), false))
      staged = Nil
    }
    try
      commitLoop(spark, dest, "clone") { dsnap =>
        if (dsnap.version != 0 || dsnap.files.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"clone target $dest is no longer empty (v${dsnap.version})")
        discard()
        val (spec, sc) = restateSpec(destF, dest, snap, shardFiles)
        staged = sc
        Some(spec)
      }.get.version
    catch {
      case e: Throwable =>
        discard()
        snap.files.foreach(n => destF.delete(new Path(s"$dest/$DataDir/$n"), false))
        throw e
    }
  }

  /** Hard-link `src` to `dst` when both sit on a local filesystem (the
    * zero-copy clone path — link(2) shares the immutable inode), else
    * byte-copy. Never overwrites. */
  private def linkOrCopy(
      srcFs: FileSystem, src: Path, dstFs: FileSystem, dst: Path): Unit = {
    dstFs.mkdirs(dst.getParent)
    if (srcFs.getScheme == "file" && dstFs.getScheme == "file") {
      val s = java.nio.file.Paths.get(srcFs.makeQualified(src).toUri)
      val d = java.nio.file.Paths.get(dstFs.makeQualified(dst).toUri)
      try {
        java.nio.file.Files.createLink(d, s)
        return
      } catch {
        // cross-device / FS without link support → fall through to copy;
        // an existing destination is a real error and copy rethrows it
        case _: UnsupportedOperationException => ()
        case _: java.nio.file.FileSystemException => ()
      }
    }
    require(
      org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst, false, srcFs.getConf),
      s"copy failed: $src -> $dst")
  }

  /** The latest version whose commit file was PUBLISHED at or before
    * `tsMillis` (epoch millis) — timestamp time travel, resolved from
    * commit-file modification times exactly like Delta's
    * `timestampAsOf` (the log file's mtime is the only clock the table
    * has; an external clock-skewed writer shifts history the same way
    * it does there). O(retained commits) metadata lookups, no data IO. */
  def versionAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val log = logStore(spark, path)
    val cs = commits(log)
    require(cs.nonEmpty, s"no transaction log at $path")
    val at = cs.filter(c => log.mtime(c.version) <= tsMillis)
    require(at.nonEmpty,
      s"timestamp $tsMillis predates the retained log at $path")
    at.last.version
  }

  /** [[readAt]] with the version resolved by [[versionAtTimestamp]]. */
  def readAtTimestamp(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    readAt(spark, path, versionAtTimestamp(spark, path, tsMillis))

  /** A snapshot's parquet-vector refs regrouped by DIR (the sidecar
    * line shape): dir → the live files its marks still apply to. */
  private def dvpByDir(snap: Snapshot): Seq[(String, Seq[String])] = {
    val byDir = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
    snap.dvp.toSeq.sortBy(_._1).foreach { case (fl, dirs) =>
      dirs.foreach(d => byDir(d) = fl :: byDir.getOrElse(d, Nil))
    }
    byDir.view.mapValues(_.reverse: Seq[String]).toSeq
  }

  /** Read the current snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    readSnap(spark, path, snapshot(spark, path))

  /** Read an historical snapshot — time travel, with the schema AS OF
    * that version (a later-added column does not haunt the past). */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame =
    readSnap(spark, path, snapshotAt(spark, path, version))

  /** Filter-sizing helper: ~`bitsPerValue` bits per expected value per
    * file (rounded up to a 64-bit block; floor 64 Kbit). m/n ≈ 10 with
    * k = 7 sits at ~0.8% fp; an UNDER-sized filter saturates (fp → 1)
    * and prunes nothing — size to the data, not the default. */
  def bloomBits(rowsPerFile: Long, bitsPerValue: Int = 10): Int = {
    require(rowsPerFile >= 0 && bitsPerValue >= 1, "bad bloom sizing inputs")
    math.max(65536L, rowsPerFile * bitsPerValue / 64L * 64L + 64L).toInt
  }

  /** Build per-file BLOOM FILTERS over `cols` and publish them as one
    * stats-annotation commit — Delta's bloom-filter index re-derived on
    * the text log. Point lookups (`=` / `IN`) on a column whose values
    * scatter across files (unique ids round-robin-landed — the layout
    * where min/max ranges refute nothing) then prune every file whose
    * bloom rejects the literal: fp-rate-bounded false keeps, NEVER a
    * false skip (the Bloom no-false-negative law, probed with the
    * byte-identical driver-side hash in [[mayMatch]]).
    *
    * Distribution: the bit sets build in ONE distributed pass over the
    * live files (k seeded xxhash64 positions per value, map-side
    * `bit_or` into 64-bit blocks keyed by (file, block) — the ext45
    * Bloom shape per file). The driver collect is files × numBits/8
    * bytes (8 KiB/file at the default) — the checkpoint O(live files)
    * metadata class, NOT row-scale. Supported column types: LongType
    * and StringType (the point-lookup types; the probe must hash the
    * predicate literal byte-identically, so types are pinned).
    * Rewritten files (compact/optimize) drop their blooms with their
    * stats — rebuild after large rewrites. Returns the commit version.
    */
  def buildBlooms(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      numBits: Int = 65536,
      numHashes: Int = 7,
      inlineMaxBytes: Int = 4 << 20): Long = {
    require(cols.nonEmpty, "buildBlooms needs at least one column")
    require(cols.forall(!_.contains("#")), "column names may not contain '#'")
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64: $numBits")
    require(numHashes >= 1 && numHashes <= 64, s"numHashes out of range: $numHashes")
    val base = snapshot(spark, path)
    require(base.files.nonEmpty, s"nothing to index at $path")
    val built = bloomStats(spark, path, base, cols, numBits, numHashes)
    val rendered = renderStats(built)
    // Bloom payloads grow with ROWS (bits ∝ values indexed), not files —
    // the one stats payload that can outgrow a commit line. INLINE stays
    // the fast path for small indexes; past `inlineMaxBytes` the blocks
    // ride a SIDECAR (the multipart-checkpoint shape): commit files are
    // re-read on EVERY replay, sidecars are immutable and decoded once
    // per JVM. The sf100 probe measured the difference — a ~100 MB
    // inline bloom re-read per snapshot was the super-linear term in the
    // s37 read path.
    val sidecarName =
      if (rendered.length <= inlineMaxBytes) None
      else Some(writeSidecar(fs(spark, path), path, built, Map.empty))
    def discardSidecar(): Unit = sidecarName.foreach { n =>
      try { fs(spark, path).delete(sidecarPath(path, n), false): Unit }
      catch { case _: Exception => () } // best-effort; vacuum sweeps debris
    }
    try commitLoop(spark, path, "bloom") { snap =>
      requireLive("bloom build", path, base.files, snap)
      sidecarName match {
        case Some(sc) => Some(CommitSpec(Nil, Nil, None, sidecars = Seq(sc)))
        case None => Some(CommitSpec(Nil, Nil, None,
          Some(java.util.Base64.getEncoder.encodeToString(
            rendered.getBytes(StandardCharsets.UTF_8)))))
      }
    }.get.version
    catch { case t: Throwable => discardSidecar(); throw t }
  }

  /** Partition the current live set by whether the log's stats can
    * refute `predicate`: (snapshot, files to scan, files skipped). The
    * decision is pure log metadata — zero file IO — which is what makes
    * a selective read on a sorted/Z-ordered table touch a handful of
    * files out of millions ([[Compaction]]'s s12/s17 layouts exist to
    * make exactly this pay). */
  def pruneFiles(
      spark: SparkSession, path: String, predicate: Column): (Snapshot, Seq[String], Seq[String]) = {
    val snap = snapshot(spark, path)
    // the Spark-4 Column→Catalyst bridge (Column.expr is gone with the
    // Connect-unified API; see ColumnBridge)
    val pred = org.apache.spark.sql.graft.ColumnBridge.expression(predicate)
    val (kept, skipped) = pruneSnapFiles(spark, snap, pred)
    (snap, kept, skipped)
  }

  /** Stats-pruned read: `read(...).filter(predicate)` semantics, with
    * files whose logged ranges refute the predicate never entering the
    * scan (the predicate is STILL applied to the kept files — pruning is
    * an optimization, not the filter). The scan reads exactly the files
    * [[pruneFiles]] keeps, whatever part of the predicate Spark can push
    * into it, and its parquet reader still skips row groups: this tier
    * skips whole files from the log before any footer is opened.
    *
    * Partition-pruning note: each hive partition directory's decoded
    * values ([[GraftPartitionEval.Dirs]], the values the scan emits)
    * enter the stats walk as lo == hi facts, so the walk prunes
    * partitions with the same sound test as min/max ranges. The scan
    * then decides a filter over partition columns alone exactly, with
    * Spark's own predicate over those values; the predicate applied
    * here re-checks every kept row either way. */
  def readWhere(spark: SparkSession, path: String, predicate: Column): DataFrame =
    readSnapWhere(spark, path, snapshot(spark, path), predicate)

  /** [[readWhere]] against an HISTORICAL version — time travel with the
    * same log-level skipping (replay accumulates each commit's per-file
    * stats, so the pruning decision at version V uses exactly the
    * ranges the log knew at V). */
  def readWhereAt(
      spark: SparkSession, path: String, version: Long, predicate: Column): DataFrame =
    readSnapWhere(spark, path, snapshotAt(spark, path, version), predicate)

  private def readSnapWhere(
      spark: SparkSession, path: String, snap: Snapshot, predicate: Column): DataFrame = {
    val pred = org.apache.spark.sql.graft.ColumnBridge.expression(predicate)
    val (kept, _) = pruneSnapFiles(spark, snap, pred)
    readSnap(spark, path, restricted(snap, kept)).filter(predicate)
  }

  /** CONVERT an existing plain-parquet directory into a transactional
    * table IN PLACE — Delta's CONVERT TO DELTA. Data files are RENAMED
    * under `data/` (same-filesystem metadata ops, never copied),
    * preserving hive `col=value/` partition segments, and ONE `convert`
    * commit publishes them as v1 with the inferred schema, the
    * partition column list, and (optionally) footer-harvested min/max
    * stats — so file skipping works from the first read. Cost is
    * O(files) driver-side renames + O(files) footer opens; ZERO data
    * IO — the adoption path for a lake's existing parquet estate,
    * where any rewriting converter would cost a full copy of the
    * 100 TB it is supposed to manage.
    *
    * Contract: the directory must not already be a table, must hold at
    * least one parquet file, and every file must agree on the partition
    * directory shape. The move requires EXCLUSIVE access — a concurrent
    * plain-dir reader would lose files mid-rename (Delta's in-place
    * convert makes the same writers-stop demand). Crash-restartable:
    * files an interrupted convert already moved are picked up by the
    * re-run; the commit is the atomic publish point. */
  def convert(spark: SparkSession, path: String, collectStats: Boolean = true): Long = {
    val f = fs(spark, path)
    val root = new Path(path)
    require(f.exists(root), s"nothing to convert: $path does not exist")
    require(!isTable(spark, path), s"$path is already a transactional table")
    val rootQ = f.makeQualified(root).toString
    // every parquet file under the dir, EXCLUDING ones an interrupted
    // convert already moved under data/ (they rejoin by relative name);
    // underscore/dot-prefixed files and dirs (_SUCCESS, .crc) are
    // hidden, same rule as Spark's own file index
    def hidden(rel: String): Boolean =
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    val toMove = scala.collection.mutable.ArrayBuffer.empty[String]
    val already = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.substring(rootQ.length + 1)
      if (rel.endsWith(".parquet")) {
        if (rel.startsWith(s"$DataDir/")) {
          val inner = rel.substring(DataDir.length + 1)
          if (!hidden(inner)) already += inner
        } else if (!hidden(rel)) toMove += rel
      }
    }
    // distinct: a crashed previous convert on a copy-fallback filesystem
    // can leave a file BOTH at the root and under data/ — the rename
    // below overwrites the data/ copy, and the commit must list the
    // survivor once, never double-count its rows
    val names: Seq[String] = (already ++ toMove).distinct.sorted.toSeq
    require(names.nonEmpty, s"nothing to convert: no parquet files under $path")
    // one partition shape for the whole table: identical col= sequences
    def dirCols(n: String): Seq[String] =
      n.split('/').dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"convert: '$seg' in $n is not a col=value partition segment")
        seg.substring(0, i)
      }
    val partCols = dirCols(names.head)
    names.foreach(n => require(dirCols(n) == partCols,
      s"convert: inconsistent partition layout — ${names.head} vs $n"))
    toMove.foreach { rel =>
      val dst = new Path(s"$rootQ/$DataDir/$rel")
      // unconditionally: a FLAT estate's first rename must not target a
      // nonexistent data/ (mkdirs on an existing dir is a cheap no-op)
      f.mkdirs(dst.getParent): Unit
      require(f.rename(new Path(s"$rootQ/$rel"), dst), s"convert: rename failed for $rel")
    }
    // schema from ONE directory read of the moved files (partition
    // columns inferred from the paths, surfaced last by the scan) —
    // stored all-nullable, the log's evolution contract
    val inferred = spark.read.parquet(s"$path/$DataDir").schema
    val schema = org.apache.spark.sql.types.StructType(
      inferred.fields.map(_.copy(nullable = true)))
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"convert: partition column $c missing from the inferred schema"))
    val stats = if (collectStats) fileStats(f, path, names, foreign = true) else None
    commitLoop(spark, path, "convert") { snap =>
      if (snap.version != 0)
        throw new java.util.ConcurrentModificationException(
          s"convert lost the creation race at $path (v${snap.version} exists)")
      Some(CommitSpec(names, Nil, Some(encodeSchema(schema)), stats,
        partcols = Some(encodePartitioning(partCols))))
    }.get.version
  }

  /** Delta-style RESTORE: ONE commit rewinds the table to the state at
    * `version` — live files, schema, per-file stats AND deletion
    * vectors all as of v (an accidental overwrite/delete is undone
    * without replaying history by hand, and the botched versions stay
    * in the log for forensics — restore is itself just a commit).
    *
    * Mechanics: the commit removes every currently-live file and
    * re-adds the target set (a file live in both is removed-then-
    * re-added within the commit, which is what lets replay RESET its
    * accumulated deletion vector to the historical one — vector marks
    * otherwise only grow). Stats and vectors are restated from the
    * target snapshot. Fails loudly if vacuum already reclaimed a
    * target file (restore reach = the vacuum retention window, the
    * same trade Delta documents). */
  def restore(
      spark: SparkSession, path: String, version: Long, shardFiles: Int = 512): Long = {
    val target = snapshotAt(spark, path, version)
    val f = fs(spark, path)
    val missing =
      target.files.filterNot(n => f.exists(new Path(s"$path/$DataDir/$n")))
    require(missing.isEmpty,
      s"restore to v$version impossible: ${missing.size} file(s) already reclaimed by " +
        s"vacuum (outside the retention window): ${missing.take(3).mkString(", ")}")
    // the checkpoint restatement of the target: its per-file payloads
    // are fixed (not per-attempt), so sidecars stage once; the restore's
    // remove-all leg resets current parquet-vector refs, the restated
    // (dir → files) sidecar re-attaches the target's
    val (spec, sc) = restateSpec(f, path, target, shardFiles)
    try
      commitLoop(spark, path, "restore") { snap =>
        // remove the CURRENT live set (fresh per retry) and re-add the
        // target's — same last-writer-wins semantics as overwrite; the
        // TARGET version's constraint set AND column mapping restore
        // with its data (its files were written/validated under them —
        // self-consistent per version). Properties are operational
        // metadata, not data state: a restore does not rewind them.
        Some(spec.copy(remove = snap.files, props = None))
      }.get.version
    catch {
      case e: Throwable =>
        sc.foreach(n => f.delete(sidecarPath(path, n), false))
        throw e
    }
  }

  /** DESCRIBE DETAIL — the operational numbers an operator actually
    * asks a table (the Delta command's shape): version, file count,
    * total data bytes, how many files carry skipping stats, live
    * deletion-vector marks, and the schema field names. One log replay
    * plus one listStatus per live file — metadata-scale, no data IO. */
  final case class TableDetail(
      version: Long,
      numFiles: Int,
      sizeBytes: Long,
      numFilesWithStats: Int,
      dvMarkedRows: Long,
      schemaFields: Seq[String])

  def detail(spark: SparkSession, path: String): TableDetail = {
    val snap = snapshot(spark, path)
    val f = fs(spark, path)
    val bytes = snap.files.map { n =>
      val p = new Path(s"$path/$DataDir/$n")
      if (f.exists(p)) f.getFileStatus(p).getLen else 0L
    }.sum
    // live mark count = inline marks + parquet-sidecar marks that still
    // apply to a live file (a distributed count — parquet vectors are
    // data-plane files by design and never driver-materialized)
    val dvpMarks = dvpByDir(snap).map { case (dir, applicable) =>
      spark.read.schema("__file STRING, __row BIGINT")
        .parquet(sidecarPath(path, dir).toString)
        .filter(col("__file").isin(applicable.map(leafOf): _*))
        .count()
    }.sum
    TableDetail(
      snap.version,
      snap.files.size,
      bytes,
      snap.files.count(snap.stats.contains),
      snap.dv.values.map(_.size.toLong).sum + dvpMarks,
      logicalSchema(snap).map(_.fieldNames.toSeq).getOrElse(Nil))
  }

  /** Default age an unreferenced file must reach before vacuum reclaims
    * it: an hour is orders of magnitude past any healthy stage→commit
    * latency, so anything unreferenced AND that old is debris, not work
    * in flight. */
  val DefaultAgeGraceMs: Long = 60L * 60 * 1000

  /** WALL-CLOCK retention resolved to a VERSION count — Delta's
    * `VACUUM … RETAIN 168 HOURS` re-derived on the log's own clock
    * (commit-file mtimes, the same clock [[versionAtTimestamp]] and
    * DESCRIBE HISTORY report): every version whose commit published
    * inside the window stays reachable, PLUS the version that was
    * current AT the window's edge — so `TIMESTAMP AS OF now−window`
    * keeps resolving after the reap, the same contract Delta documents.
    * The count feeds the unchanged [[vacuum]]/[[vacuumPreview]]
    * single-scan victim computation; version- and time-based retention
    * are one mechanism with two frontends. A window older than the
    * retained log keeps everything (a checkpoint already truncated
    * further back). */
  def retainVersionsForWindow(spark: SparkSession, path: String, windowMs: Long): Int = {
    require(windowMs >= 0, s"retention window must be ≥ 0 ms: $windowMs")
    val log = logStore(spark, path)
    // the FULL log: commit files are never deleted, and vacuum's victim
    // replay walks all of history — the window must resolve on the same
    // axis (a checkpoint truncates replay for READERS, not retention)
    val cs = allCommits(log)
    require(cs.nonEmpty, s"no transaction log at $path")
    val cutoffTs = System.currentTimeMillis() - windowMs
    val atEdge = cs.filter(c => log.mtime(c.version) <= cutoffTs)
    val cutoffVersion = if (atEdge.isEmpty) cs.head.version else atEdge.last.version
    (cs.last.version - cutoffVersion + 1).toInt
  }

  /** The data files a [[vacuum]] with these parameters would delete
    * RIGHT NOW (relative names) — the DRY RUN an operator reads before
    * lowering retention. Shares the victim computation with vacuum
    * itself, so preview and reap cannot drift; clock-dependent (a file
    * aging past the grace between preview and vacuum joins the reap —
    * inherent to any dry run). */
  def vacuumPreview(
      spark: SparkSession,
      path: String,
      retainVersions: Int = 2,
      ageGraceMs: Long = DefaultAgeGraceMs): Seq[String] = {
    require(retainVersions >= 1, s"retainVersions must be ≥ 1: $retainVersions")
    val f = fs(spark, path)
    val dataDir = new Path(s"$path/$DataDir")
    if (!f.exists(dataDir)) return Nil
    val dataQ = f.makeQualified(dataDir).toString
    vacuumVictims(logStore(spark, path), retainVersions, ageGraceMs)._1
      .map(_.toString.substring(dataQ.length + 1))
  }

  /** The unreferenced-and-aged data files under `path` — the victim set
    * shared by [[vacuum]] (which deletes it) and [[vacuumPreview]]
    * (which reports it) — plus the full commit list and retention
    * cutoff the scan derived them from (vacuum's log-truncation leg
    * reuses both, so the log reads once per run). */
  private def vacuumVictims(
      log: LogStore, retainVersions: Int, ageGraceMs: Long): (Seq[Path], Seq[Commit], Long) = {
    val (f, path) = (log.fs, log.table)
    val dataDir = new Path(s"$path/$DataDir")
    val all = allCommits(log)
    val latest = if (all.isEmpty) 0L else all.last.version
    val cutoff = latest - retainVersions + 1
    // one incremental replay over the full log; union the live set at
    // every version inside the window
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val keep = scala.collection.mutable.HashSet.empty[String]
    all.foreach { c =>
      c.remove.foreach(n => live -= n); c.add.foreach(n => live += n)
      if (c.version >= cutoff) keep ++= live
    }
    // the retained-log contract is unchanged: every add after the last
    // checkpoint stays referencable for time travel
    keep ++= fromLastCheckpoint(all).flatMap(_.add)
    val now = System.currentTimeMillis()
    // RECURSIVE file walk: partitioned tables nest data files under
    // col=value/ dirs and the keep-set holds RELATIVE names. In-flight
    // _stage-*/ part files are excluded here (whole stage dirs sweep
    // in vacuum under the same age grace).
    val dataQ = f.makeQualified(dataDir).toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = f.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.substring(dataQ.length + 1)
      if (rel.endsWith(".parquet") && !rel.startsWith("_stage-") &&
        !keep.contains(rel) && now - st.getModificationTime >= ageGraceMs)
        buf += st.getPath
    }
    (buf.toSeq, all, cutoff)
  }

  /** Delete files outside the retention window: data files removed by
    * overwrite/compact/delete more than `retainVersions` versions ago,
    * crashed-writer debris (both only past `ageGraceMs` of age), and
    * commit-log files that are both pre-checkpoint and outside the
    * window — so neither the data dir nor the log grows forever.
    *
    * Version retention (the concurrent-READER contract): a reader that
    * pinned a [[snapshot]]/[[snapshotAt]] at version v keeps all its
    * files as long as `latest − v < retainVersions` when vacuum runs —
    * kept = every file of every snapshot in the last `retainVersions`
    * versions (reconstructed from the FULL physical log, across
    * checkpoint truncation), plus every add in the retained log (so
    * time travel over the retained log never loses a file, same as
    * before). A reader older than the window can have its files
    * reclaimed mid-scan — that is the trade a longer window exists
    * for, the same one Delta's VACUUM retention period makes.
    *
    * Age grace (the concurrent-WRITER contract): an unreferenced file
    * younger than `ageGraceMs` is left alone, because "unreferenced
    * and young" describes a live writer's in-flight work exactly — data
    * files staged ahead of their commit, a mid-commit log tmp, a
    * `_stage-*` dir mid-rename. With both guards, vacuum is safe to
    * run next to live traffic; even the pathological case — a commit
    * tmp reclaimed under a mid-commit writer — degrades to a lost
    * commit race (retried), not a failure. Tests pass `ageGraceMs = 0`
    * to reclaim deterministically. */
  def vacuum(
      spark: SparkSession,
      path: String,
      retainVersions: Int = 2,
      ageGraceMs: Long = DefaultAgeGraceMs): Int = {
    require(retainVersions >= 1, s"retainVersions must be ≥ 1: $retainVersions")
    val log = logStore(spark, path)
    val f = log.fs
    val dataDir = new Path(s"$path/$DataDir")
    if (!f.exists(dataDir)) return 0
    val now = System.currentTimeMillis()
    def aged(s: org.apache.hadoop.fs.FileStatus): Boolean =
      now - s.getModificationTime >= ageGraceMs
    val listed = f.listStatus(dataDir).toSeq
    val (victims, all, cutoff) = vacuumVictims(log, retainVersions, ageGraceMs)
    victims.foreach(f.delete(_, false))
    // partition dirs a partition delete + vacuum fully emptied are
    // dead weight in every later recursive listing — reap them
    // (deepest-first so nested hive levels collapse in one pass);
    // only ever EMPTY dirs, so an in-flight writer's fresh file is safe
    locally {
      // age-gate the DIRECTORY too (fresh clock: deleting victims above
      // just bumped their parents' mtime): a concurrent partitioned
      // append's freshly-mkdir'd col=value/ dir is momentarily empty
      // between its mkdirs and the stage rename — reaping it would fail
      // that append's rename (loud abort, no loss, but an avoidable
      // race). A dir emptied by THIS vacuum under a non-zero grace is
      // reaped by a LATER one — hence the sweep runs even when this
      // vacuum deleted nothing.
      val dirNow = System.currentTimeMillis()
      val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
      def walkDirs(p: Path): Unit =
        f.listStatus(p).foreach { st =>
          if (st.isDirectory && !st.getPath.getName.startsWith("_stage-")) {
            if (dirNow - st.getModificationTime >= ageGraceMs) dirs += st.getPath
            walkDirs(st.getPath)
          }
        }
      walkDirs(dataDir)
      dirs.sortBy(-_.toString.length).foreach { d =>
        if (f.listStatus(d).isEmpty) f.delete(d, false): Unit
      }
    }
    // a writer that died inside stage() leaves a _stage-<uuid>/ directory
    // of never-renamed part files; one that died inside a log store put
    // leaves a never-published temp commit
    val staleStages = listed
      .filter(s => s.getPath.getName.startsWith("_stage-") && aged(s))
      .map(_.getPath)
    staleStages.foreach(f.delete(_, true))
    val staleTmps = log.temps.filter(aged).map(_.getPath)
    staleTmps.foreach(f.delete(_, false))
    // LOG truncation — the log must not grow forever either. A commit
    // file is prunable once it is BOTH behind the latest checkpoint
    // (replay never starts before one, and pre-checkpoint time travel
    // is already refused) AND outside the retention window (its
    // snapshot no longer protects any reader vacuum promises to
    // protect). Everything from min(checkpoint, window start) on stays,
    // so the full-log replay above keeps working for the whole window.
    val lastCk = all.filter(_.op == "checkpoint").lastOption.map(_.version)
    val prunedLogs = lastCk.fold(Set.empty[Long]) { ck =>
      all.map(_.version).filter(_ < math.min(ck, cutoff)).toSet
    }
    prunedLogs.foreach(log.delete)
    // SIDECAR GC: a sidecar is reclaimable once no surviving commit file
    // references it — either its commit was just pruned above, or it is
    // a crash/lost-race orphan that was never referenced. The age grace
    // protects a mid-commit writer's freshly-staged sidecar exactly as
    // it protects staged data files.
    val referencedSc = all
      .filterNot(c => prunedLogs(c.version))
      .flatMap(_.sidecars)
      .toSet
    // parquet-vector DIRS are referenced indirectly — through the
    // surviving text sidecars' dvpq lines — so collect those too before
    // sweeping (a dir referenced only from pruned sidecars is garbage;
    // the text sidecars are immutable, so the reads are memoized)
    val referencedDvpq = referencedSc.toSeq
      .flatMap(n => scala.util.Try(readSidecar(f, path, n).dvParquet).getOrElse(Nil))
      .map(_._1)
      .toSet
    val staleSidecars = log.sidecars
      .filter { s =>
        val n = s.getPath.getName
        !referencedSc.contains(n) && !referencedDvpq.contains(n) && aged(s)
      }
      .map(_.getPath)
    staleSidecars.foreach(f.delete(_, /* recursive = */ true))
    victims.size + staleStages.size + staleTmps.size + prunedLogs.size + staleSidecars.size
  }
}
