package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, count_distinct, lit, not, struct, substring_index, when}

import java.util.UUID

import LogStore.sidecarPath
import TxSnapshot._
import TxStats._
import TxWrites.{Blind, Conflict, Loud, NoOp, Strict}

/** TxStore's write entry points, mixed into [[TxStore]]. */
trait TxWrites {

  def snapshot(spark: SparkSession, path: String): Snapshot

  val MergeClause = TxWrites.MergeClause
  type MergeClause = TxWrites.MergeClause

  private val MaxRetries = 20

  /** ANSI CHECK semantics: a row VIOLATES iff the expression evaluates
    * to FALSE — a NULL result passes (unknown is not a violation; same
    * rule as SQL CHECK and Delta's constraint). */
  private[sources] def violatesConstraint(exprSql: String): Column =
    not(coalesce(org.apache.spark.sql.functions.expr(exprSql).cast("boolean"), lit(true)))

  /** Validate `df` against every constraint in ONE aggregate pass (a
    * violation-count column per constraint — never N scans of the
    * incoming batch). Throws with every violated constraint named. */
  private[sources] def enforceConstraints(
      df: DataFrame, cons: Seq[(String, String)], op: String, path: String): Unit = {
    if (cons.isEmpty) return
    val counters = cons.zipWithIndex.map { case ((_, e), i) =>
      // count(when(...)) — never NULL, even over an empty batch (a
      // conditional merge whose landing set is empty is legitimate)
      count(org.apache.spark.sql.functions.when(violatesConstraint(e), lit(1))).as(s"__c$i")
    }
    val row = df.agg(counters.head, counters.tail: _*).head()
    val violated = cons.zipWithIndex.collect {
      case ((n, e), i) if row.getLong(i) > 0 => s"'$n' ($e): ${row.getLong(i)} row(s)"
    }
    if (violated.nonEmpty)
      throw new IllegalArgumentException(
        s"$op at $path violates CHECK constraint(s) ${violated.mkString("; ")}")
  }

  // ── writes ─────────────────────────────────────────────────────────

  /** Should staging harvest per-column NULL facts? On unless the table
    * opts out with `graft.stats.nullCounts=false` (the EXT74 bounding
    * knob — the harvest rides the footer walk the commit already pays,
    * but commit-heavy micro-batch workloads may trade the IS [NOT] NULL
    * pruning and COUNT(col) pushdown those facts power for leaner
    * commits; absent facts are always SOUND — they just prune nothing
    * and refuse the metadata answer). */
  private def harvestNullCounts(snap: Snapshot): Boolean =
    !snap.properties.exists(p => p._1.equalsIgnoreCase("graft.stats.nullCounts") &&
      p._2.trim.equalsIgnoreCase("false"))

  /** Stage the frame's partitions as immutable data files and harvest
    * their footer stats — (names, stats payload for the commit). Staged
    * files are invisible until a commit lists them. A stage that fails
    * part way deletes the files it already moved into `data/` and its
    * stage dir, so a failed write leaves nothing for vacuum. */
  private def stage(
      df: DataFrame, path: String, collectStats: Boolean, partitionBy: Seq[String],
      nullCounts: Boolean): (Seq[String], Option[String]) = {
    val tmp = s"$path/$DataDir/_stage-${UUID.randomUUID()}"
    val f = fs(df.sparkSession, path)
    val tmpPath = new Path(tmp)
    val named = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val writer = df.write.mode("error")
      (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)).parquet(tmp)
      // recursive: a partitioned write nests part files under col=value/
      // dirs; the staged NAME keeps those segments (hive-style paths under
      // data/, partition values riding free in the log's add list)
      val tmpQ = f.makeQualified(tmpPath).toString
      val staged = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
      val it = f.listFiles(tmpPath, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          val rel = st.getPath.toString.substring(tmpQ.length + 1)
          val cut = rel.lastIndexOf('/')
          staged += ((st.getPath, if (cut < 0) "" else rel.substring(0, cut + 1)))
        }
      }
      staged.foreach { case (p, dir) =>
        val name = s"$dir${UUID.randomUUID()}.parquet"
        val dst = new Path(s"$path/$DataDir/$name")
        if (dir.nonEmpty) f.mkdirs(dst.getParent)
        require(f.rename(p, dst), s"rename failed for $p")
        named += name
      }
      f.delete(tmpPath, true)
      (named.toSeq, if (collectStats) fileStats(f, path, named.toSeq, nullCounts = nullCounts) else None)
    } catch {
      case t: Throwable =>
        // best effort: a cleanup fault must not hide the stage's own
        try {
          named.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
          f.delete(tmpPath, true)
        } catch { case _: java.io.IOException => () }
        throw t
    }
  }

  /** Have the deletion-vector marks on `inputs` changed between the
    * decided `base` snapshot and the latest one? A delete-dv commit adds
    * and removes NO files, so a rewrite's "inputs still live" check alone
    * would let it pass — and its replacement files, staged reading
    * through BASE's marks, would silently resurrect rows whose vectored
    * delete committed in between (a lost delete, violating
    * write-serializable isolation). The [[Loud]] and [[NoOp]] rules
    * re-check this in every rewrite's commit attempt; merge is already
    * safe via its strict version check, and dv-AFTER-rewrite ordering is
    * safe because the rewrite's commit removes the marked files (the
    * vanished-file check on the dv side). */
  private def dvDrifted(base: Snapshot, snap: Snapshot, inputs: Seq[String]): Boolean = {
    val in = inputs.toSet
    base.dv.view.filterKeys(in).toMap != snap.dv.view.filterKeys(in).toMap ||
      base.dvp.view.filterKeys(in).toMap != snap.dvp.view.filterKeys(in).toMap
  }

  private def vanished(inputs: Seq[String], snap: Snapshot): Seq[String] = {
    val live = snap.files.toSet
    inputs.filterNot(live)
  }

  /** Refuse a commit whose `inputs` a concurrent commit removed: the
    * snapshot the op decided on is gone, and re-deciding against the new
    * one is the caller's call, never an implicit retry. */
  private[sources] def requireLive(
      op: String, path: String, inputs: Seq[String], snap: Snapshot): Unit = {
    val gone = vanished(inputs, snap)
    if (gone.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$op at $path conflicts: files removed concurrently: ${gone.take(3).mkString(", ")}")
  }

  /** Row-mutating ops the `graft.appendOnly` table property refuses —
    * Delta's delta.appendOnly contract: existing rows can never be
    * deleted or updated. The gate fires when the decided spec removes
    * files or adds deletion marks — and for "delete-dv"
    * UNCONDITIONALLY, because a bulk delete's marks travel in SIDECARS
    * (spec.dv empty, spec.remove empty) and would otherwise slip the
    * content test. RESTORE is gated too: a rewind removes every file
    * appended after the target — recovery on an append-only table is
    * the explicit two-step UNSET-then-restore. Insert-only merges and
    * an overwrite of an EMPTY table pass (no rows mutated); maintenance
    * rewrites (compact / optimize-zorder: row-preserving) and
    * checkpoint restatements stay exempt by op name. */
  private val AppendOnlyGated =
    Set("overwrite", "replace-where", "delete", "update", "delete-dv", "merge", "restore")

  private def isAppendOnly(snap: Snapshot): Boolean =
    snap.properties.exists(p =>
      p._1.equalsIgnoreCase("graft.appendOnly") && p._2.trim.equalsIgnoreCase("true"))

  /** Optimistic-commit loop shared by every write op. `attempt` sees the
    * latest snapshot and returns the [[CommitSpec]] to try at its
    * version + 1, or None to abort as a no-op (e.g. compaction inputs
    * vanished). The spec is decided per attempt so a retry restates it
    * against the freshest snapshot. A `txn` stamp already in the
    * retained log aborts too: a concurrent delivery of the same batch
    * committed first (see [[once]]). */
  private[sources] def commitLoop(
      spark: SparkSession, path: String, op: String, txn: Option[String] = None)(
      attempt: Snapshot => Option[CommitSpec]): Option[Commit] = {
    val log = logStore(spark, path)
    var tries = 0
    while (tries < MaxRetries) {
      val cs = commits(log)
      if (txn.exists(t => cs.exists(_.txn.contains(t)))) return None
      val snap = replay(log, cs)
      attempt(snap) match {
        case None => return None
        case Some(spec) =>
          // enforced HERE, against the freshest snapshot, so a property
          // landing while an op staged still gates its commit
          if (AppendOnlyGated(op) &&
              (spec.remove.nonEmpty || spec.dv.isDefined || op == "delete-dv") &&
              isAppendOnly(snap))
            throw new UnsupportedOperationException(
              s"$op at $path refused: graft.appendOnly=true — existing rows cannot be " +
                "deleted or updated (ALTER TABLE … UNSET TBLPROPERTIES ('graft.appendOnly') " +
                "to lift)")
          val c = Commit(snap.version + 1, op, spec.add, spec.remove, txn,
            spec.schema, spec.stats, spec.dv, spec.sidecars, spec.constraints, spec.mapping,
            spec.partcols, spec.props)
          if (publish(log, c)) return Some(c)
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"$op at $path lost $MaxRetries optimistic-commit races — livelocked table?")
  }

  /** Does `snap` still admit a commit decided against the rule's base?
    * True to go on, false to abort the op as a no-op; a loud rule
    * throws. */
  private def admits(op: String, path: String, rule: Conflict, snap: Snapshot): Boolean =
    rule match {
      case Blind => true
      case Strict(base) =>
        if (snap.version != base.version)
          throw new java.util.ConcurrentModificationException(
            s"$op at $path conflicts: table advanced from v${base.version} " +
              s"to v${snap.version} after the probe")
        true
      case Loud(base, inputs) =>
        requireLive(op, path, inputs, snap)
        if (dvDrifted(base, snap, inputs))
          throw new java.util.ConcurrentModificationException(
            s"$op at $path conflicts: deletion vectors advanced on rewrite inputs after the probe")
        true
      case NoOp(base, inputs) => vanished(inputs, snap).isEmpty && !dvDrifted(base, snap, inputs)
    }

  /** The core every staged write runs on: stage `out` as data files
    * (under `partitionBy`, harvesting NULL facts unless `base`, the
    * snapshot the op decided on, opts out), then publish through
    * [[commitLoop]] — each attempt first passes `rule`, then `spec`
    * decides its commit from the newest snapshot and the staged (files,
    * stats). The staged files are
    * deleted when an attempt throws or the op aborts, so a failed or
    * no-op write leaves nothing behind for vacuum. Returns the committed
    * version, None on abort. */
  private def stageAndCommit(
      out: DataFrame, path: String, op: String, rule: Conflict, base: Snapshot,
      partitionBy: Seq[String], collectStats: Boolean = true, txn: Option[String] = None)(
      spec: (Snapshot, Seq[String], Option[String]) => Option[CommitSpec]): Option[Long] = {
    val (files, stats) = stage(out, path, collectStats, partitionBy, harvestNullCounts(base))
    val f = fs(out.sparkSession, path)
    def discard(): Unit = files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
    val committed =
      try commitLoop(out.sparkSession, path, op, txn) { snap =>
        if (admits(op, path, rule, snap)) spec(snap, files, stats) else None
      }
      catch { case e: Throwable => discard(); throw e }
    if (committed.isEmpty) discard()
    committed.map(_.version)
  }

  /** A rewrite's commit: the staged files replace `inputs`, restating
    * the LATEST schema (an append may have evolved it since the base —
    * its files stay live, so its columns must stay declared). */
  private def replacing(inputs: Seq[String])(
      snap: Snapshot, files: Seq[String], stats: Option[String]): Option[CommitSpec] =
    Some(CommitSpec(files, inputs, snap.schema.map(encodeSchema), stats))

  /** The copy-on-write probe shared by delete, update and merge: the
    * live files of `base` holding a row `select` keeps, by the probe's
    * `_file`. Predicates push into the scan, so the log's stats and the
    * parquet row-group stats prune most files before a row is read. */
  private def hitFiles(spark: SparkSession, path: String, base: Snapshot)(
      select: DataFrame => DataFrame): Seq[String] =
    select(readSnap(spark, path, base, Seq(FileCol)))
      .select(FileCol).distinct().collect().map(_.getString(0)).toSeq

  /** The exactly-once shell of appendOnce, mergeOnce and
    * mergeConditionalOnce: `write` commits under a (writerId, batchId)
    * txn stamp. A delivery whose stamp is already in the retained log
    * answers that commit's version and writes nothing; [[commitLoop]]
    * re-checks the stamp per attempt, so two CONCURRENT deliveries of
    * one batch commit it once (the loser's staged files are deleted),
    * and a loser of merge's serializable race re-checks the stamp and
    * answers the winner's version. A write that commits nothing (a
    * merge that matched nothing) answers the current version.
    *
    * Retention contract: [[TxStore.checkpoint]] truncates replay,
    * dropping stamps older than the checkpoint — run it only once the
    * upstream redelivery window has passed, or a very late replay of a
    * pre-checkpoint batch would write again. */
  private def once(spark: SparkSession, path: String, writerId: String, batchId: Long)(
      write: Option[String] => Option[Long]): Long = {
    require(
      writerId.nonEmpty && !writerId.exists(c => c == '"' || c == '\\' || c == ':'),
      "writerId must be non-empty and free of quotes, backslashes and colons")
    val stamp = s"$writerId:$batchId"
    def committed: Option[Long] =
      commits(logStore(spark, path)).find(_.txn.contains(stamp)).map(_.version)
    committed.getOrElse {
      try write(Some(stamp)).orElse(committed).getOrElse(snapshot(spark, path).version)
      catch {
        case e: java.util.ConcurrentModificationException => committed.getOrElse(throw e)
      }
    }
  }

  /** Append's write, shared by append, appendOnce and replaceWhere: `df`
    * is checked against the table's constraints and partition layout,
    * staged (logical → physical names under column mapping), and
    * committed with append's per-attempt drift checks. `remove` picks,
    * per attempt, the live files the commit replaces (replaceWhere's
    * matching partitions; none for an append). */
  private def appendCore(
      df: DataFrame, path: String, op: String, pre: Snapshot, partitionBy: Seq[String],
      collectStats: Boolean, txn: Option[String] = None,
      remove: Snapshot => Seq[String] = _ => Nil): Option[Long] = {
    val cs = sessionCaseSensitive(df.sparkSession)
    // validate against the CURRENT constraint set before paying the
    // stage write; re-checked per commit attempt below if it drifts
    var checked = pre.constraints
    enforceConstraints(df, checked, op, path)
    // hive-style partitioning: `partitionBy` names are LOGICAL; the
    // effective list (PHYSICAL names, what stage and the log carry) is
    // fixed at table creation — later appends inherit it (pass Nil) or
    // must restate it identically; re-partitioning an existing table is
    // overwrite's job (mixing flat and partitioned files would break
    // the basePath read).
    val effParts = resolvePartitioning(pre, partitionBy, path)
    val missing = effParts.map(p => pre.mapping.find(_._2 == p).map(_._1).getOrElse(p))
      .filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty,
      s"$op to partitioned table $path: frame lacks partition column(s) " +
        missing.mkString(", "))
    // column-mapping mode: evolve on the LOGICAL level against the
    // pre-snapshot, stage under PHYSICAL names; a concurrent mapping/
    // schema change invalidates the staged names → conflict (mapping
    // changes are rare metadata ops; plain appends stay conflict-free)
    val mapped =
      if (pre.mapping.isEmpty) None
      else Some(evolveMapped(pre, df.schema, cs))
    def conflict(what: String) =
      new java.util.ConcurrentModificationException(s"$op at $path conflicts: $what — retry")
    stageAndCommit(mapped.fold(df) { case (_, m2) => toPhysical(df, m2) }, path, op, Blind, pre,
        effParts, collectStats, txn) { (snap, files, stats) =>
      if (snap.constraints != checked) {
        // a constraint landed while we were staging — the new gate
        // applies to THIS write too (its commit orders after the
        // constraint's full-table validation)
        enforceConstraints(df, snap.constraints, op, path)
        checked = snap.constraints
      }
      if (snap.mapping != pre.mapping || snap.retired != pre.retired)
        throw conflict("column mapping changed while staging")
      if (snap.partitioning != pre.partitioning)
        throw conflict("table partitioning changed while staging")
      // ESTABLISHING partitioning (empty table at stage time) must still
      // hold at commit time: a concurrent FLAT append leaves
      // snap.partitioning == pre.partitioning (both Nil) but fills
      // snap.files — committing the partitioned batch then would mix
      // flat and hive-pathed live files under one basePath, which Spark
      // rejects as "conflicting directory structures" on every read.
      if (pre.partitioning.isEmpty && effParts.nonEmpty && snap.files.nonEmpty)
        throw conflict("a concurrent append filled the table while this append was " +
          "establishing partitioning")
      val pc = if (effParts != snap.partitioning) Some(encodePartitioning(effParts)) else None
      val (schema, mp) = mapped match {
        case None => (evolve(snap.schema, df.schema, cs), None)
        case Some((physSchema, m2)) =>
          if (snap.schema != pre.schema)
            throw conflict("schema evolved concurrently under column mapping")
          (physSchema, if (m2 != pre.mapping) Some(encodeMapping(m2, pre.retired)) else None)
      }
      val removed = remove(snap)
      // Spark stages one empty file for an empty unpartitioned frame;
      // the harvest's `#rows` facts tell it holds nothing
      def noRows = files.isEmpty || stats.map(decodeStats).exists(m => files.forall(f =>
        m.get(f).flatMap(_.get("#rows")).contains(NumRange(0, 0))))
      // a stamped write that changes nothing lands no commit: `once`
      // answers the current version, and a replay still no-ops
      if (txn.isDefined && snap.schema.contains(schema) && removed.isEmpty && mp.isEmpty &&
          pc.isEmpty && noRows) None
      else Some(CommitSpec(files, removed, Some(encodeSchema(schema)), stats, mapping = mp,
        partcols = pc))
    }
  }

  /** The PHYSICAL partition column list an append must stage under:
    * the table's own when one is set (a non-empty `requested` must
    * restate it identically — partitioning is a table property, not a
    * per-write choice), else the requested list, which only a table
    * with no live files may establish. */
  private def resolvePartitioning(
      pre: Snapshot, requested: Seq[String], path: String): Seq[String] = {
    if (requested.isEmpty) return pre.partitioning
    val phys = physByLogical(pre)
    val req = requested.map(c => phys.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c))
    if (pre.partitioning.nonEmpty) {
      require(req.map(lc) == pre.partitioning.map(lc),
        s"append partitionBy (${requested.mkString(", ")}) does not match the table's " +
          s"partitioning (${pre.partitioning.mkString(", ")}) at $path")
      pre.partitioning
    } else {
      require(pre.files.isEmpty,
        s"cannot partition $path: it already holds unpartitioned files — " +
          "use overwrite(partitionBy) to re-layout the table")
      req
    }
  }

  /** Transactional append. Conflicts with nothing: data files are staged
    * once, then the commit retries under contention until a version slot
    * is won. Returns the committed version. If the loop throws (schema
    * drift, livelock) the staged files are deleted rather than orphaned
    * until a vacuum. Hive-style partitioning: pass `partitionBy` on the
    * CREATING append (or any later one, restated identically) — files
    * land under `col=value/` paths, partition values travel in the log
    * names, and [[readWhere]] prunes on them before any stats walk. */
  def append(df: DataFrame, path: String, collectStats: Boolean = true,
      partitionBy: Seq[String] = Nil): Long =
    appendCore(df, path, "append", snapshot(df.sparkSession, path), partitionBy, collectStats).get

  /** Transactional full overwrite: one commit removes every currently-live
    * file and adds the replacement set. Fails (cleaning up its staged
    * files) if a concurrent overwrite/compact removed any file it decided
    * to remove — the snapshot it targeted no longer exists. */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Long = {
    val base = snapshot(df.sparkSession, path)
    var checked = base.constraints
    enforceConstraints(df, checked, "overwrite", path)
    if (partitionBy.nonEmpty) {
      val missing = partitionBy.filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"overwrite partitionBy column(s) missing from the frame: ${missing.mkString(", ")}")
    }
    // an overwrite REPLACES the table, so the replacement's layout is
    // exactly `partitionBy` (default flat) — like the mapping reset, a
    // previously-partitioned table may legitimately go flat here
    stageAndCommit(df, path, "overwrite", Blind, base, partitionBy) { (snap, files, stats) =>
      if (snap.constraints != checked) { // see appendCore's drift re-check
        enforceConstraints(df, snap.constraints, "overwrite", path)
        checked = snap.constraints
      }
      requireLive("overwrite", path, base.files, snap)
      // removing the files live NOW (a concurrent append's rows are
      // legitimately clobbered by a later full overwrite — same
      // semantics as Delta's overwrite after a racing append). An
      // overwrite may change the schema freely — it replaces the
      // table; an active column mapping resets to identity with it
      // (every old file leaves the live set, so retired names may be
      // forgotten — nothing their data could resurrect through).
      val mp =
        if (snap.mapping.nonEmpty || snap.retired.nonEmpty)
          Some(encodeMapping(Nil, Nil))
        else None
      val pc =
        if (partitionBy != snap.partitioning) Some(encodePartitioning(partitionBy)) else None
      Some(CommitSpec(files, snap.files, Some(encodeSchema(normalize(df.schema))), stats,
        mapping = mp, partcols = pc))
    }.get
  }

  /** Transactional compaction: rewrite the current file set as `target`
    * files in one commit. Pure physical — the read-back is row-identical.
    * Aborts as a no-op (returning None) if a concurrent commit removed
    * any input file, so it never resurrects overwritten data. */
  def compact(spark: SparkSession, path: String, target: Int = 1): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val out = readSnap(spark, path, base).repartition(target)
    stageAndCommit(toPhysical(out, base.mapping), path, "compact", NoOp(base, base.files),
      base, base.partitioning)(replacing(base.files))
  }

  /** The live files a maintenance op's WHERE scopes to: all of them
    * when None, else exactly the partitions matching a deterministic
    * partition-only predicate, refusing anything else — shared by
    * [[compactZOrder]] and [[compactSmallFiles]] so the scoping rule
    * and its refusal cannot drift apart. */
  private def scopedFiles(spark: SparkSession, path: String, base: Snapshot,
      where: Option[Column], op: String): Seq[String] = where match {
    case None => base.files
    case Some(p) =>
      val matched = partitionDirsMatching(spark, base, p).getOrElse(
        throw new IllegalArgumentException(
          s"$op WHERE at $path must be a deterministic predicate over " +
            s"partition column(s) ${base.partitioning.mkString(", ")} exclusively"))
      base.files.filter(fl => matched(dirOf(fl)))
  }

  /** Size-aware small-file compaction — Delta's bin-packing OPTIMIZE:
    * only files under `minBytes` are candidates, they bin-pack
    * first-fit-decreasing into ~`targetBytes` output files PER
    * PARTITION DIRECTORY, and every file at or above the floor is
    * untouched bytes ([[compact]] by contrast rewrites the whole
    * table to a fixed count — the re-layout tool, not the maintenance
    * tool). This is the nightly job every streaming-ingested 100 TB
    * table runs: thousands of per-batch files fold into unit-sized
    * ones, IO proportional to the SMALL-file volume only.
    *
    * `where` scopes to partitions matching a deterministic
    * partition-only predicate (same rule as [[compactZOrder]]);
    * directories with fewer than two candidate files are skipped
    * (rewriting one file into one file buys nothing). Bin assignment
    * is driver-side over the log's file sizes (file-count scale, no
    * listing); rows route to their bin via a broadcast map on the probe
    * `_file`, so the data plane is one scoped read + one keyed exchange
    * on the bin id. Deletion vectors on rewritten files materialize (their
    * marks die with the removed files, like compact). Aborts as a
    * no-op if a concurrent commit removed an input or marked one
    * (same contract as compact). Returns None when nothing qualifies. */
  def compactSmallFiles(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20,
      minBytes: Long = 64L << 20,
      where: Option[Column] = None): Option[Long] = {
    require(targetBytes > 0 && minBytes > 0 && minBytes <= targetBytes,
      s"need 0 < minBytes <= targetBytes, got min=$minBytes target=$targetBytes")
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val scoped = scopedFiles(spark, path, base, where, "compactSmallFiles")
    if (scoped.isEmpty) return None
    val sizes = fileSizes(spark, path, base, scoped)
    def dirKey(fl: String) = if (fl.indexOf('/') < 0) "" else dirOf(fl)
    val candidates = scoped
      .filter(fl => sizes(fl) < minBytes)
      .groupBy(dirKey)
      .filter(_._2.size >= 2) // a lone small file gains nothing
    if (candidates.isEmpty) return None
    // first-fit-decreasing bin-pack per directory (bins as file lists)
    val perDir: Seq[Seq[Seq[String]]] = candidates.values.toSeq.map { fls =>
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[(Long, scala.collection.mutable.ArrayBuffer[String])]
      fls.sortBy(fl => -sizes(fl)).foreach { fl =>
        val sz = sizes(fl)
        bins.indexWhere(_._1 + sz <= targetBytes) match {
          case -1 => bins += ((sz, scala.collection.mutable.ArrayBuffer(fl)))
          case i => val (used, b) = bins(i); b += fl; bins(i) = (used + sz, b)
        }
      }
      bins.map(_._2.toSeq).toSeq
    }
    val ordered: Seq[Seq[String]] = perDir.flatten
    val assignment: Seq[(String, Int)] = ordered.zipWithIndex
      .flatMap { case (fls, id) => fls.map(_ -> id) }
    val inputs = assignment.map(_._1)
    val fileBin = {
      import spark.implicits._
      assignment.toDF(FileCol, "__bin")
    }
    val pre = readSnap(spark, path, restricted(base, inputs), Seq(FileCol))
    require(!pre.columns.contains("__bin"),
      "table must not carry the reserved __bin column")
    // Rows route to bins through an EXACT integer partitioner on the
    // RDD: partition i IS bin i — no hash collisions (which could
    // merge two same-dir bins into one oversized file) and no range
    // sampling (whose boundary merges have the same failure mode AND
    // whose sketch job re-reads every candidate file, doubling the IO
    // of an op whose point is IO-proportional-to-small-files). The
    // RDD hop costs codegen on a pure IO-bound rewrite — the one
    // place imperative partitioning is the honest tool.
    // the probe's _file must not reach the staged parquet (a phantom
    // physical column)
    val joined = pre
      .join(org.apache.spark.sql.functions.broadcast(fileBin), FileCol)
      .drop(FileCol)
    val binIdx = joined.columns.indexOf("__bin")
    val outSchema = org.apache.spark.sql.types.StructType(
      joined.schema.fields.filterNot(_.name == "__bin"))
    val nBins = ordered.size
    val routedRdd = joined.rdd
      .map(r => (r.getInt(binIdx), r))
      .partitionBy(new org.apache.spark.Partitioner {
        def numPartitions: Int = nBins
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .values
      .map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(binIdx, Nil, 1)))
    val routed = spark.createDataFrame(routedRdd, outSchema)
    stageAndCommit(toPhysical(routed, base.mapping), path, "compact", NoOp(base, inputs),
      base, base.partitioning)(replacing(inputs))
  }

  /** OPTIMIZE ZORDER — transactionally rewrite the current file set
    * CLUSTERED on the Morton curve over `zCols`
    * ([[Compaction.zOrderKey]]), so the commit log's per-file stats
    * start pruning on EVERY z-column (a hash-layout table's per-file
    * ranges span the whole domain — readWhere can refute nothing). The
    * rewrite is pure physical: row-identical readback, deletion
    * vectors materialized (like [[compact]]), fresh stats harvested
    * from the new files. Same conflict rule as compact: aborts as a
    * no-op if a concurrent commit removed any input file. This is the
    * lakehouse OPTIMIZE ZORDER BY command re-derived on the engine's
    * own log. */
  def compactZOrder(
      spark: SparkSession,
      path: String,
      zCols: Seq[String],
      target: Int = 16,
      bits: Int = 6,
      where: Option[Column] = None): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    // OPTIMIZE … WHERE <partition predicate> ZORDER BY — the Delta
    // idiom for tables too large to rewrite whole: only the matching
    // partitions' files are read and restaged (per-partition rewrite);
    // every other partition's files are untouched bytes. The predicate
    // must be partition-only + deterministic, same rule as the
    // partition-delete fast path — a data-column WHERE cannot scope a
    // file rewrite.
    val inputs = scopedFiles(spark, path, base, where, "compactZOrder")
    if (inputs.isEmpty) return None
    val df = readSnap(spark, path, restricted(base, inputs))
    require(!df.columns.contains("__z"), "table must not carry the reserved __z column")
    // persisted: the keyed frame feeds both the range-sampling and the
    // write pass (see the s24 lane note). DISK_ONLY (r18): the frame is
    // the full rewrite scope read exactly twice — a deserialized
    // in-memory copy of a large table would fight the range shuffle and
    // the write for executor memory at scale (guide §5).
    val keyed = df.withColumn("__z", Compaction.zOrderKey(df, zCols, bits))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try
      stageAndCommit(toPhysical(
          keyed.repartitionByRange(target, col("__z")).sortWithinPartitions("__z").drop("__z"),
          base.mapping), path, "optimize-zorder", NoOp(base, inputs),
        base, base.partitioning)(replacing(inputs))
    finally keyed.unpersist(): Unit
  }

  /** Idempotent append for EXACTLY-ONCE streaming sinks. The commit is
    * stamped with (writerId, batchId); re-delivering the same batch — the
    * at-least-once contract of `foreachBatch` across crash/restart — finds
    * the stamp in the log and becomes a no-op returning the original
    * version, so retries never double-append (the same mechanism as
    * Delta's `txn` action). The stamp is re-checked inside the commit
    * race loop, so even two CONCURRENT deliveries of one batch commit it
    * exactly once (the loser's staged files are deleted).
    *
    * Retention contract: [[checkpoint]] truncates replay, dropping stamps
    * older than the checkpoint — run it only once the upstream redelivery
    * window has passed, or a very late replay of a pre-checkpoint batch
    * would append again. */
  def appendOnce(
      df: DataFrame,
      path: String,
      writerId: String,
      batchId: Long,
      collectStats: Boolean = true,
      partitionBy: Seq[String] = Nil): Long =
    once(df.sparkSession, path, writerId, batchId) { stamp =>
      appendCore(df, path, "append", snapshot(df.sparkSession, path), partitionBy, collectStats,
        stamp)
    }

  /** The partition-delete decision: Some(result) when the fast path
    * applies (result = delete's own return value), None to fall through
    * to the copy-on-write path. Applies iff the table is partitioned
    * AND the predicate references partition columns exclusively — then
    * per file the predicate is a constant, and the decision runs on a
    * partitions-count local frame (metadata class), never the data. */
  private def partitionOnlyDelete(
      spark: SparkSession, path: String, base: Snapshot,
      predicate: Column): Option[Option[Long]] = {
    val matched = partitionDirsMatching(spark, base, predicate) match {
      case None => return None
      case Some(m) => m
    }
    if (matched.isEmpty) return Some(None)
    val removed = base.files.filter(f => matched(dirOf(f)))
    val committed = commitLoop(spark, path, "delete") { snap =>
      requireLive("delete", path, removed, snap)
      Some(CommitSpec(Nil, removed, snap.schema.map(encodeSchema)))
    }
    Some(committed.map(_.version))
  }

  /** Directory (relative, `col=value[/…]`) of a partitioned data file. */
  private def dirOf(f: String) = f.substring(0, f.lastIndexOf('/'))

  /** Evaluate a predicate against the live PARTITION DIRECTORIES of
    * `base`: Some(matching dir set) when the table is partitioned and
    * the predicate is deterministic and references partition columns
    * exclusively — then its value is a constant per directory, and the
    * decision is graft's one partition evaluator
    * ([[GraftPartitionEval.Dirs.matching]]) over the values reads emit,
    * with no Spark job. None when that evaluation does not apply and
    * per-row semantics are required. Shared by the partition-delete
    * fast path, [[replaceWhere]] and the maintenance WHERE scope. */
  private def partitionDirsMatching(
      spark: SparkSession, base: Snapshot,
      predicate: Column): Option[Set[String]] = {
    val dirs = new GraftPartitionEval.Dirs(spark, base)
    if (dirs.schema.isEmpty) return None
    // Resolved against the partition columns alone: a predicate naming
    // any other column does not resolve, so it is not partition-only and
    // falls through to the per-row path, which surfaces the same
    // analysis error on the data itself. Analysis runs no job.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val partitions =
      LocalRelation(org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(dirs.schema))
    val cond =
      try org.apache.spark.sql.graft.ColumnBridge.dataFrame(spark,
          Filter(org.apache.spark.sql.graft.ColumnBridge.expression(predicate), partitions))
        .queryExecution.analyzed match {
          case fl: Filter => fl.condition
          case _ => return None
        }
      catch { case _: org.apache.spark.sql.AnalysisException => return None }
    // A constant predicate, or a MIXED one (p === 1 && rand() < 0.5),
    // falls through too: here the coin would flip once per partition
    // DIRECTORY, deleting or keeping whole partitions where the
    // copy-on-write path flips it per row. Nondeterminism is judged on
    // the RESOLVED condition — the analyzer attaches each function's
    // own deterministic flag — never a name blocklist: SQL-parsed text
    // arrives as UnresolvedFunction (whose default deterministic is
    // TRUE), and a UDF registered .asNondeterministic() has no name any
    // list could know.
    if (cond.references.isEmpty || !cond.deterministic || !dirs.evaluable(cond)) return None
    Some(base.files.filter(dirs.matching(Seq(cond))).map(dirOf).toSet)
  }

  /** Dynamic partition overwrite — Delta's `replaceWhere` idiom: ONE
    * atomic commit removes every live file in the partitions matching
    * `predicate` and adds the staged batch, so readers flip from the
    * old partition contents to the new with no window where the
    * partitions are empty (the two-commit delete + append alternative
    * has exactly that window). The 100 TB daily-restatement path:
    * re-deriving one date partition replaces it in place while every
    * other partition's files are untouched bytes.
    *
    * Refusals (all before any commit): the table must be partitioned
    * (use [[overwrite]] to re-layout), `predicate` must be a
    * deterministic expression over partition columns exclusively, and
    * every row of `df` must satisfy it — a batch holding rows OUTSIDE
    * the replaced region would silently clobber partitions the caller
    * never named (Delta's replaceWhere contract).
    *
    * Isolation: matching partitions are re-resolved against the commit
    * snapshot, so rows a concurrent append landed in a matching
    * partition are legitimately replaced (overwrite semantics); a
    * concurrent schema/mapping/partitioning change conflicts loudly.
    * Schema evolves additively, like append. Returns the version. */
  def replaceWhere(df: DataFrame, path: String, predicate: Column): Long = {
    val spark = df.sparkSession
    val pre = snapshot(spark, path)
    require(pre.partitioning.nonEmpty,
      s"replaceWhere at $path: table is not partitioned — use overwrite to (re-)layout")
    // persisted: the batch is evaluated by the outside-region check AND
    // the stage write (and by constraint re-checks under drift) — a
    // daily-restatement-sized frame must compute once, and a
    // nondeterministic source must not pass the check with one set of
    // rows and stage another. Only persist what THIS call persists: an
    // already-cached caller frame must not be evicted on the way out.
    val ownPersist = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownPersist) df.persist(): Unit
    try {
    // fail the predicate-shape check BEFORE staging: partition-only +
    // deterministic, same rule as the partition-delete fast path
    if (partitionDirsMatching(spark, pre, predicate).isEmpty)
      throw new IllegalArgumentException(
        s"replaceWhere at $path requires a deterministic predicate over partition " +
          s"column(s) ${pre.partitioning.mkString(", ")} exclusively")
    // the batch must lie entirely INSIDE the replaced region; NULL
    // partition values evaluate non-TRUE and refuse too (they would
    // land in the __HIVE_DEFAULT_PARTITION__ dir the predicate cannot
    // address)
    val outside = df.filter(!(predicate <=> lit(true)))
    if (!outside.isEmpty)
      throw new IllegalArgumentException(
        s"replaceWhere at $path: the batch contains rows outside the replaced " +
          s"region (predicate not TRUE), e.g. ${outside.take(1).mkString}")
    appendCore(df, path, "replace-where", pre, Nil, collectStats = true, remove = { snap =>
      // matching dirs re-resolved against THIS snapshot: a racing
      // append's rows in a matching partition are replaced (overwrite
      // semantics), in an unmatched partition they survive untouched
      val matched = partitionDirsMatching(spark, snap, predicate).getOrElse(
        throw new java.util.ConcurrentModificationException(
          s"replaceWhere at $path conflicts: partitioning vanished while staging"))
      snap.files.filter(fl => matched(dirOf(fl)))
    }).get
    } finally { if (ownPersist) df.unpersist(): Unit }
  }

  /** Remove every live file in ONE metadata commit — SQL `DELETE FROM
    * t` with no condition ([[GraftDml]]) and `TRUNCATE TABLE`. Schema, layout, constraints and properties
    * survive; time travel still reads the data; CDC derives the wave as
    * deletes (op "delete"). None = the table was already empty. */
  def truncate(spark: SparkSession, path: String): Option[Long] =
    commitLoop(spark, path, "delete") { snap =>
      if (snap.files.isEmpty) None
      else Some(CommitSpec(Nil, snap.files, snap.schema.map(encodeSchema)))
    }.map(_.version)

  /** Metadata-only DELETE, or a LOUD refusal — never copy-on-write: a
    * promised O(metadata) partition drop (the retention path) must not
    * silently turn into a data-plane job. The predicate must decide per
    * partition DIRECTORY — deterministic, over partition columns
    * exclusively, on a partitioned table. Use [[delete]] for general
    * predicates (its partition fast path is this same walk; past it,
    * copy-on-write applies). */
  def deletePartitions(spark: SparkSession, path: String, predicate: Column): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    partitionOnlyDelete(spark, path, base, predicate).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE at $path: the predicate does not decide per partition directory — " +
          "a row-level delete must rewrite data; use TxStore.delete (or SQL DELETE, " +
          "which runs it) for the copy-on-write path"))
  }

  /** Copy-on-write DELETE. Two phases, both distributed:
    *
    *  1. PROBE — scan the snapshot for files that contain a matching row.
    *     `predicate` is pushed into the parquet scan, so row-group min/max
    *     stats prune most files before a row is read; at lake scale a
    *     selective delete probes cheaply and touches a handful of files.
    *  2. REWRITE — only the hit files are re-read and rewritten without
    *     their matching rows; every other file is carried over untouched
    *     (never read twice, never rewritten).
    *
    * Kept rows are those where the predicate is NOT TRUE — a NULL
    * predicate result keeps the row (SQL DELETE semantics; a plain
    * `!predicate` filter would silently drop NULL-valued rows too).
    *
    * Isolation is write-serializable (the Delta default): rows appended
    * concurrently with the probe are not deleted (they were not in the
    * decided snapshot); a concurrent overwrite/compact that removed one of
    * the files this delete decided to rewrite fails loudly — re-running
    * against the new snapshot is the caller's decision, never an implicit
    * retry that could delete rows the caller never saw. Returns None (and
    * writes no commit) when nothing matched. */
  def delete(spark: SparkSession, path: String, predicate: Column): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    // PARTITION-DELETE fast path: when the predicate references ONLY
    // partition columns, its value is a CONSTANT per file (a partition
    // file holds exactly one value of each partition column), so the
    // delete decides from pure log metadata — a remove-only commit, no
    // probe scan, no rewrite, no byte of IO on the data plane. This is
    // the 100 TB retention path: dropping a year of date partitions is
    // one log line. Rows with a NULL partition value evaluate the
    // predicate to non-TRUE and are kept — SQL DELETE semantics, same
    // as the general path.
    partitionOnlyDelete(spark, path, base, predicate) match {
      case Some(r) => return r
      case None => // general copy-on-write path below
    }
    val hit = hitFiles(spark, path, base)(_.filter(predicate))
    if (hit.isEmpty) return None
    // reading THROUGH the vectors: the rewrite also materializes any
    // deletion vectors on the hit files (their marks die with the files)
    val kept = readSnap(spark, path, restricted(base, hit)).filter(not(predicate <=> lit(true)))
    stageAndCommit(toPhysical(kept, base.mapping), path, "delete", Loud(base, hit),
      base, base.partitioning)(replacing(hit))
  }

  /** Copy-on-write UPDATE … SET … WHERE — [[delete]]'s sibling and the
    * last of the four classic row-level ops (INSERT=append, DELETE,
    * MERGE, UPDATE). Same two-phase shape: the predicate-pushed PROBE
    * finds files containing a matching row (stats prune the rest), and
    * only those files REWRITE with the assignments applied to their
    * matching rows.
    *
    * `set` maps existing column names to replacement expressions over
    * the row. ALL right-hand sides evaluate against the OLD row (one
    * projection, SQL UPDATE semantics — `SET a = b, b = a` swaps), and
    * each is cast back to the column's existing type so an update can
    * never silently evolve the schema. Rows where the predicate is
    * NULL are NOT updated (matching [[delete]]'s NULL discipline);
    * assignments may not target a missing column — that's a loud
    * require, not an implicit evolution.
    *
    * Write-serializable like [[delete]]: vanished rewrite inputs and
    * deletion-vector drift on them both conflict loudly. Returns None
    * (no commit) when nothing matched. */
  def update(
      spark: SparkSession,
      path: String,
      predicate: Column,
      set: Map[String, Column]): Option[Long] = {
    require(set.nonEmpty, "update needs at least one SET assignment")
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val hit = hitFiles(spark, path, base)(_.filter(predicate))
    if (hit.isEmpty) return None
    val cur = readSnap(spark, path, restricted(base, hit))
    val missing = set.keys.filterNot(cur.columns.contains)
    require(missing.isEmpty,
      s"UPDATE may only SET existing columns; missing: ${missing.mkString(", ")}")
    val updated = cur.select(cur.columns.toIndexedSeq.map { c =>
      set.get(c) match {
        case Some(v) =>
          org.apache.spark.sql.functions
            .when(predicate <=> lit(true), v.cast(cur.schema(c).dataType))
            .otherwise(col(c))
            .as(c)
        case None => col(c)
      }
    }: _*)
    // updated rows carry NEW values — the constraint gate applies (kept
    // rows in the frame were valid on write; re-checking them is free
    // of false refusals by the live-table invariant)
    enforceConstraints(updated, base.constraints, "update", path)
    stageAndCommit(toPhysical(updated, base.mapping), path, "update", Loud(base, hit),
        base, base.partitioning) { (snap, files, stats) =>
      if (snap.constraints != base.constraints)
        throw new java.util.ConcurrentModificationException(
          s"update at $path conflicts: constraints changed after validation")
      replacing(hit)(snap, files, stats)
    }
  }

  /** Merge-on-read DELETE via DELETION VECTORS — the selective-delete
    * path where [[delete]]'s copy-on-write is the wrong trade: removing
    * three rows from a 1 GB file should cost one tiny log entry, not a
    * 1 GB rewrite. The probe finds matching (`_file`, `_row_index`)
    * pairs through the scan; the commit marks them deleted; the scan's
    * reader skips marked positions on every read. Rewrites RETIRE
    * vectors — compact/delete/merge read through them and their
    * replacement files carry none — so vectors never outlive the files
    * they annotate, and a periodic compact bounds read-side mark work
    * exactly as in Delta's DV design.
    *
    * Mark-set size: up to `inlineDvRows` positions travel INLINE in the
    * commit line; bigger mark sets ride a compressed (delta-varint)
    * SIDECAR file referenced from the commit — the production DV form
    * (a 0.1% delete on a 10⁹-row table is 10⁶ positions; that cannot
    * live on the line every replay parses). `maxDvRows` remains the
    * driver-memory guard on the probe collect itself — past it, the
    * delete is bulk by any definition: use [[deleteVectoredBulk]]
    * (executor-written parquet vectors, no collect, no ceiling) to stay
    * merge-on-read, or [[delete]] (copy-on-write) when most rows of the
    * touched files are going anyway.
    *
    * Same SQL DELETE NULL semantics as [[delete]] (a NULL predicate
    * keeps the row — only predicate-TRUE rows are marked) and the same
    * write-serializable isolation: target files must still be live at
    * commit time. Two CONCURRENT vectored deletes on one file both
    * commit — position marks commute (replay unions them). Returns None
    * (no commit) when nothing matched. */
  def deleteVectored(
      spark: SparkSession,
      path: String,
      predicate: Column,
      maxDvRows: Int = 10000000,
      inlineDvRows: Int = 10000): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val hits = readSnap(spark, path, base, Position)
      .filter(predicate <=> lit(true))
      .select(Position.map(col): _*)
      .collect()
    if (hits.isEmpty) return None
    require(hits.length <= maxDvRows,
      s"deleteVectored matched ${hits.length} rows (> maxDvRows = $maxDvRows) — " +
        "a delete this bulky should not collect to the driver: use " +
        "deleteVectoredBulk() (distributed vectors) or delete() (copy-on-write)")
    val marks: Map[String, Seq[Long]] =
      hits.groupBy(_.getString(0))
        .view.mapValues(_.map(_.getLong(1)).toSeq.sorted).toMap
    val f = fs(spark, path)
    // the marks don't depend on the snapshot — one sidecar serves every
    // commit attempt; deleted if the loop throws (vacuum catches a crash)
    val sc = if (hits.length > inlineDvRows) Seq(writeSidecar(f, path, Map.empty, marks)) else Nil
    try
      commitLoop(spark, path, "delete-dv") { snap =>
        requireLive("delete-dv", path, marks.keys.toSeq, snap)
        if (sc.isEmpty)
          Some(CommitSpec(Nil, Nil, snap.schema.map(encodeSchema), None, Some(encodeDv(marks))))
        else Some(CommitSpec(Nil, Nil, snap.schema.map(encodeSchema), None, None, sc))
      }.map(_.version)
    catch {
      case e: Throwable =>
        sc.foreach(n => f.delete(sidecarPath(path, n), false))
        throw e
    }
  }

  /** Merge-on-read DELETE with fully DISTRIBUTED deletion vectors — the
    * form with NO row-count ceiling at all: marked (file, row) positions
    * are written by the EXECUTORS as parquet under
    * `_txlog/_sidecar/<uuid>.dvpq/` (never collected to the driver —
    * [[deleteVectored]]'s `maxDvRows` guard exists because its probe
    * collects; this op's probe writes), and the commit references the
    * dir through a text sidecar that lists WHICH data files the marks
    * cover — file-LEVEL metadata, so log replay stays driver-cheap and
    * never opens the parquet. The scan's reader loads the dir's marks
    * for the files the ref map still lists (so marks retired by a
    * rewrite can never re-apply to a restore-re-added file). This is
    * the Delta production DV shape: vector payloads are data-plane
    * files, the log carries references.
    *
    * Trade vs [[deleteVectored]]: a billion-mark delete costs one
    * distributed parquet write and a file-level collect of the touched
    * file NAMES; every read task of a marked file then reads the dir.
    * For small/selective deletes the inline path remains the better
    * plan — one log line, no extra file IO per read.
    *
    * Same SQL DELETE NULL semantics, same write-serializable conflict
    * rules (marked files must still be live at commit; rewrites detect
    * ref drift via the same dvDrifted check as inline marks). Returns
    * None (no commit, sidecars cleaned) when nothing matches. */
  def deleteVectoredBulk(
      spark: SparkSession,
      path: String,
      predicate: Column): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val f = fs(spark, path)
    val dir = s"${UUID.randomUUID()}.dvpq"
    val dirPath = sidecarPath(path, dir)
    // the marks keep the sidecar format: (leaf file name, row index)
    readSnap(spark, path, base, Position)
      .filter(predicate <=> lit(true))
      .select(substring_index(col(FileCol), "/", -1).as("__file"), col(Position(1)).as("__row"))
      .write.parquet(dirPath.toString)
    // file-LEVEL collect: which data files carry marks (bounded by the
    // snapshot's file count, never by row count)
    val leaves = spark.read.schema("__file STRING, __row BIGINT").parquet(dirPath.toString)
      .select("__file").distinct().collect().map(_.getString(0)).toSet
    val marked = base.files.filter(f => leaves(leafOf(f))).sorted
    if (marked.isEmpty) {
      f.delete(dirPath, true)
      return None
    }
    val sc = writeSidecar(f, path, Map.empty, Map.empty, Seq(dir -> marked))
    try
      commitLoop(spark, path, "delete-dv") { snap =>
        requireLive("delete-dv", path, marked, snap)
        Some(CommitSpec(Nil, Nil, snap.schema.map(encodeSchema), None, None, Seq(sc)))
      }.map(_.version)
    catch {
      case e: Throwable =>
        f.delete(sidecarPath(path, sc), false)
        f.delete(dirPath, true)
        throw e
    }
  }

  /** Keyed MERGE (upsert): rows of `updates` replace current rows with the
    * same key; keys not present insert. Same copy-on-write shape as
    * [[delete]]: a distributed semi-join probe finds the files holding a
    * matching key (the scan's `_file` column survives the join),
    * then only those files are rewritten: it is [[mergeClauses]] with
    * `WHEN MATCHED THEN UPDATE SET *` and `WHEN NOT MATCHED THEN INSERT *`,
    * so every target row sharing a key takes that key's source row.
    *
    * `updates` must be unique per key — two updates for one key have no
    * defined winner, so that's rejected up front rather than written.
    *
    * Isolation is SERIALIZABLE, stricter than [[delete]]'s: ANY commit
    * landing after the decided snapshot conflicts, because even a plain
    * concurrent append may have inserted one of these keys (making the
    * "not matched → insert" decision stale). Detecting that post-hoc
    * would require re-probing, which is the retry the caller owns. */
  def merge(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      collectStats: Boolean = true): Long =
    mergeClauses(spark, path, updates, keys, Upsert, collectStats)
      .getOrElse(snapshot(spark, path).version)

  /** [[merge]]'s clauses: unconditional SET * and INSERT *. */
  private val Upsert = Seq(
    TxWrites.MergeClause.MatchedUpdate(None, None),
    TxWrites.MergeClause.NotMatchedInsert(None, None))

  /** Idempotent [[merge]] for EXACTLY-ONCE incremental maintenance — the
    * upsert twin of [[appendOnce]], same (writerId, batchId) txn stamp
    * and retention contract. A replayed delivery finds the stamp in the
    * log and no-ops; this is what makes ADDITIVE upserts (fold a delta
    * into running sums, ops/IncrementalReport.scala) safe to retry —
    * unlike a value-overwrite, replaying an addition is NOT naturally
    * idempotent, so the stamp has to carry the exactly-once guarantee.
    * Merge's serializable conflict check means a concurrent duplicate
    * delivery surfaces as ConcurrentModificationException; that loser
    * re-checks the stamp and returns the winner's version. */
  def mergeOnce(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      writerId: String,
      batchId: Long,
      collectStats: Boolean = true): Long =
    once(spark, path, writerId, batchId)(
      mergeClauses(spark, path, updates, keys, Upsert, collectStats, _))

  // ── general MERGE (ordered WHEN clauses) ───────────────────────────

  /** General keyed MERGE over ORDERED WHEN clauses — the full ANSI/Delta
    * surface: per row, the clauses of its group (matched / not matched /
    * not matched BY SOURCE) are tried in the order given and the FIRST
    * clause whose condition passes acts; no clause ⇒ the row is kept
    * (target) or ignored (source). Source rows must be unique per key
    * ([[merge]]'s contract); every matched target row evaluates
    * independently against its single source row.
    *
    * Copy-on-write + SERIALIZABLE, like [[mergeConditional]]: a
    * semi-join probe finds the files holding any matching key; BY
    * SOURCE clauses additionally pull in every file their conditions
    * cannot be REFUTED on from the log's stats (the [[readWhere]]
    * pruning walk — an unconditional BY SOURCE clause rewrites the full
    * live set, a selective one only its candidate files; target rows in
    * skipped files provably satisfy no BY SOURCE condition and keep
    * their bytes). Only hit files rewrite; any commit landing after the
    * decided snapshot conflicts.
    *
    * Returns Some(committed version); None = the merge matched nothing
    * anywhere (empty source with no BY SOURCE clause, or no key hit, no
    * BY SOURCE candidate and no insert-clause survivor) and NO COMMIT
    * was written — the [[delete]]/[[update]] contract, never an empty
    * version. With BY SOURCE clauses an empty source still acts (ANSI
    * semantics — `MERGE … USING empty` applies NOT MATCHED BY SOURCE
    * actions to every target row). */
  def mergeClauses(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      clauses: Seq[MergeClause],
      collectStats: Boolean = true,
      txn: Option[String] = None): Option[Long] = {
    import TxWrites.MergeClause._
    require(keys.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    val matchedCl: Seq[MergeClause] = clauses.filter {
      case _: MatchedUpdate | _: MatchedDelete => true
      case _ => false
    }
    val insertCl: Seq[NotMatchedInsert] = clauses.collect { case c: NotMatchedInsert => c }
    val bySourceCl: Seq[MergeClause] = clauses.filter {
      case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => true
      case _ => false
    }
    // a full-row clause (SET * / INSERT *) requires full column
    // coverage and is the only shape that can EVOLVE the schema; a
    // purely column-scoped merge leaves the schema alone
    val fullRow = clauses.exists {
      case MatchedUpdate(_, None) => true
      case NotMatchedInsert(_, None) => true
      case _ => false
    }
    val base = snapshot(spark, path)
    require(base.schema.nonEmpty || fullRow,
      "column-scoped merge into a schemaless (empty) table — the first write " +
        "must establish the schema (append, or a SET */INSERT * merge)")
    val caseSensitive = sessionCaseSensitive(spark)
    def sameName(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    // the target's LOGICAL fields (assignment targets + insert shapes +
    // cast types); an empty table's schema is the source's (fullRow)
    val tgtFields: org.apache.spark.sql.types.StructType =
      logicalSchema(base).getOrElse(updates.schema)
    // the dispatch's working columns take names neither side uses
    val taken = (updates.columns ++ tgtFields.fieldNames).map(_.toLowerCase).toSet
    def fresh(n: String): String =
      Iterator.iterate(n)(_ + "_").find(c => !taken(c.toLowerCase)).get
    val (mCol, actCol) = (fresh("__m"), fresh("__act"))
    def fieldOf(n: String) = tgtFields.fields.find(f => sameName(f.name, n))
    val assigned: Seq[String] = clauses.flatMap {
      case MatchedUpdate(_, Some(s)) => s.keys
      case NotMatchedBySourceUpdate(_, s) => s.keys
      case NotMatchedInsert(_, Some(v)) => v.keys
      case _ => Nil
    }
    val unknownAssigns = assigned.filter(fieldOf(_).isEmpty).distinct
    require(unknownAssigns.isEmpty,
      s"merge assigns unknown column(s): ${unknownAssigns.mkString(", ")} " +
        s"(table columns: ${tgtFields.fieldNames.mkString(", ")})")
    def findAssign(m: Map[String, Column], n: String): Option[Column] =
      m.collectFirst { case (k, v) if sameName(k, n) => v }
    updates.persist()
    try {
      val counts = updates
        .agg(count(lit(1)).as("n"), count_distinct(struct(keys.map(col): _*)).as("k"))
        .head()
      val nUpdates = counts.getLong(0)
      if (nUpdates == 0 && bySourceCl.isEmpty) return None
      require(
        nUpdates == 0 || counts.getLong(1) == nUpdates,
        s"updates must be unique per key (${keys.mkString(", ")}) — ambiguous winners")
      if (fullRow)
        logicalSchema(base).foreach { t =>
          val missing = t.fieldNames.filterNot(updates.columns.contains)
          require(
            missing.isEmpty,
            s"updates must carry every table column (a SET * / INSERT * clause is " +
              s"present); missing: ${missing.mkString(", ")}")
        }
      // updates may ADD columns (a full-row clause), evolving the schema
      // like append; under column mapping the evolution runs on the
      // LOGICAL level and the commit carries the extended mapping
      val (evolvedOpt, m2) =
        if (!fullRow) (base.schema, base.mapping)
        else if (base.mapping.isEmpty)
          (Some(evolve(base.schema, updates.schema, caseSensitive)), base.mapping)
        else {
          val (e, m) = evolveMapped(base, updates.schema, caseSensitive)
          (Some(e), m)
        }
      val distinctKeys = updates.select(keys.map(col): _*).distinct()
      val keyHit: Seq[String] =
        if (base.files.isEmpty || nUpdates == 0) Nil
        else hitFiles(spark, path, base)(_.join(distinctKeys, keys, "left_semi"))
      // BY SOURCE clauses govern target rows with NO key match — every
      // file that might hold a row satisfying any such condition must
      // rewrite. Candidates prune on the log's stats exactly like
      // readWhere; a file the walk refutes provably keeps its bytes.
      val bySourceHit: Seq[String] =
        if (bySourceCl.isEmpty || base.files.isEmpty) Nil
        else {
          val conds = bySourceCl.map {
            case NotMatchedBySourceUpdate(c, _) => c
            case NotMatchedBySourceDelete(c) => c
            case _ => None
          }
          if (conds.exists(_.isEmpty)) base.files
          else pruneSnapFiles(spark, base, org.apache.spark.sql.graft.ColumnBridge
            .expression(conds.flatten.reduce(_ || _)))._1
        }
      val hit = (keyHit ++ bySourceHit).distinct
      val srcCols = updates.columns.toSeq
      val src = updates.withColumn(mCol, lit(true)).alias("s")
      // projection for one column-scoped UPDATE SET list: assigned
      // columns evaluate (against the OLD row + its source row) and
      // cast to the table type; the rest carry over
      def setProjection(rows: DataFrame, set: Map[String, Column], cols: Seq[String]) =
        rows.select(cols.map { n =>
          findAssign(set, n) match {
            case Some(v) => v.cast(fieldOf(n).get.dataType).as(n)
            case None => col(s"t.$n")
          }
        }: _*)
      // projection for one INSERT (cols) VALUES list: unassigned
      // columns insert NULL (typed)
      def insertProjection(rows: DataFrame, values: Map[String, Column]) =
        rows.select(tgtFields.fields.toSeq.map { f =>
          findAssign(values, f.name) match {
            case Some(v) => v.cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      // unmatched-source dispatch (shared by both branches): first
      // insert clause whose condition passes wins, in statement order
      def insertFrames(anti: DataFrame): Seq[DataFrame] =
        if (insertCl.isEmpty || nUpdates == 0) Nil
        else {
          val iact = insertCl.zipWithIndex.foldRight(lit(-1)) { case ((c, i), acc) =>
            when(coalesce(c.cond.getOrElse(lit(true)), lit(false)), lit(i)).otherwise(acc)
          }
          val dispatched = anti.withColumn(actCol, iact)
          insertCl.zipWithIndex.map { case (c, i) =>
            val rows = dispatched.filter(col(actCol) === i)
            c.values match {
              case None => rows.select(srcCols.map(n => col(s"s.$n")): _*)
              case Some(values) => insertProjection(rows, values)
            }
          }
        }
      val (keptRows, newValueFrames): (Option[DataFrame], Seq[DataFrame]) =
        if (hit.isEmpty) {
          // nothing matched anywhere and no BY SOURCE candidate: the
          // table is untouched except inserts (every source row is
          // unmatched — keyHit empty means no file holds a matching key)
          (None, insertFrames(src))
        } else {
          val cur = readSnap(spark, path, restricted(base, hit))
          val tgtCols = cur.columns.toSeq
          val tgt = cur.alias("t")
          val keyEq = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
          val joined = tgt.join(src, keyEq, "left")
          val matched = coalesce(col(mCol), lit(false))
          // per-row dispatch: first clause of the row's group whose
          // condition passes, in statement order; -1 ⇒ kept unchanged.
          // Matched clauses gate on `matched`, BY SOURCE on !matched
          // (offset 1000 keeps the two index spaces disjoint).
          val acts: Seq[(Int, Column)] =
            matchedCl.zipWithIndex.map { case (c, i) =>
              val cond = c match {
                case MatchedUpdate(cc, _) => cc.getOrElse(lit(true))
                case MatchedDelete(cc) => cc.getOrElse(lit(true))
                case _ => lit(false)
              }
              i -> (matched && coalesce(cond, lit(false)))
            } ++ bySourceCl.zipWithIndex.map { case (c, j) =>
              val cond = c match {
                case NotMatchedBySourceUpdate(cc, _) => cc.getOrElse(lit(true))
                case NotMatchedBySourceDelete(cc) => cc.getOrElse(lit(true))
                case _ => lit(false)
              }
              (1000 + j) -> (!matched && coalesce(cond, lit(false)))
            }
          val act = acts.foldRight(lit(-1)) { case ((i, c), acc) =>
            when(c, lit(i)).otherwise(acc)
          }
          val dispatched = joined.withColumn(actCol, act)
          val kept = dispatched.filter(col(actCol) === -1)
            .select(tgtCols.map(n => col(s"t.$n")): _*)
          val updatedFrames: Seq[DataFrame] =
            matchedCl.zipWithIndex.collect {
              case (MatchedUpdate(_, set), i) =>
                val rows = dispatched.filter(col(actCol) === i)
                set match {
                  case None => rows.select(srcCols.map(n => col(s"s.$n")): _*)
                  case Some(s0) => setProjection(rows, s0, tgtCols)
                }
            } ++ bySourceCl.zipWithIndex.collect {
              case (NotMatchedBySourceUpdate(_, s0), j) =>
                setProjection(dispatched.filter(col(actCol) === (1000 + j)), s0, tgtCols)
            }
          // deletes: their rows simply land in no output frame.
          // The anti-join for inserts runs against the HIT-file content
          // only — sufficient, because by construction every current
          // row sharing a key with `updates` lives in a keyHit file. Its
          // build side is the hit files' keys as the matched branch's
          // join reads them, so the plan broadcasts them once (no
          // distinct: duplicates cannot change an anti-join).
          val anti = src.join(cur.select(keys.map(col): _*), keys, "left_anti")
          (Some(kept), updatedFrames ++ insertFrames(anti))
        }
      val newValues =
        newValueFrames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      // a merge that matched NOTHING anywhere — no hit file, and no
      // source row surviving an insert clause — writes NO commit (the
      // delete/update None contract), never an empty version. An
      // unconditional insert clause lands every unmatched source row, so
      // with a non-empty source there is nothing to check.
      val surelyInserts = nUpdates > 0 && insertCl.exists(_.cond.isEmpty)
      if (keptRows.isEmpty && !surelyInserts && newValues.forall(_.isEmpty)) return None
      // gate only rows that LAND with new values (kept rows are valid
      // by the live-table invariant; guarded-away rows never materialize)
      newValues.foreach(nv => enforceConstraints(nv, base.constraints, "merge", path))
      val out = (keptRows.toSeq ++ newValueFrames)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse(updates.limit(0))
      stageAndCommit(toPhysical(out, m2), path, "merge", Strict(base), base, base.partitioning,
          collectStats, txn = txn) { (_, files, stats) =>
        val mp = if (m2 != base.mapping) Some(encodeMapping(m2, base.retired)) else None
        Some(CommitSpec(files, hit, evolvedOpt.map(encodeSchema), stats, mapping = mp))
      }
    } finally updates.unpersist(): Unit
  }

  /** CONDITIONAL keyed MERGE — the classic three-clause MERGE surface
    * (Delta/ANSI `WHEN MATCHED AND c THEN UPDATE SET *`, `WHEN MATCHED
    * AND c THEN DELETE`, `WHEN NOT MATCHED AND c THEN INSERT *`),
    * expressed on [[mergeClauses]]; [[merge]] is the
    * unconditional-update special case. Conditions are Columns over the
    * `t`/`s` aliases (`col("s.ts") > col("t.ts")` is the "only update
    * if newer" CDC guard); a NULL condition value counts as false.
    * Per matched target row the precedence is `matchedDelete` first,
    * then `matchedUpdate`, else KEPT — encoded as clause order. */
  def mergeConditional(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      matchedUpdate: Option[Column] = Some(lit(true)),
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Column] = Some(lit(true)),
      collectStats: Boolean = true,
      txn: Option[String] = None): Long = {
    // the historical contract: a no-op answers the CURRENT version
    mergeClauses(spark, path, updates, keys,
      conditionalClauses(matchedUpdate, matchedDelete, notMatchedInsert), collectStats, txn)
      .getOrElse(snapshot(spark, path).version)
  }

  /** [[mergeConditional]]'s clauses in precedence order. */
  private def conditionalClauses(
      matchedUpdate: Option[Column],
      matchedDelete: Option[Column],
      notMatchedInsert: Option[Column]): Seq[MergeClause] = {
    import TxWrites.MergeClause._
    Seq(
      matchedDelete.map(c => MatchedDelete(Some(c))),
      matchedUpdate.map(c => MatchedUpdate(Some(c), None)),
      notMatchedInsert.map(c => NotMatchedInsert(Some(c), None))).flatten
  }

  /** Exactly-once [[mergeConditional]] under a (writerId, batchId)
    * stamp — the CDC-apply primitive a streaming upsert sink replays
    * safely: a batch whose stamp is already in the log no-ops (same
    * contract as [[appendOnce]]/[[mergeOnce]]). */
  def mergeConditionalOnce(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      writerId: String,
      batchId: Long,
      matchedUpdate: Option[Column] = Some(lit(true)),
      matchedDelete: Option[Column] = None,
      notMatchedInsert: Option[Column] = Some(lit(true)),
      collectStats: Boolean = true): Long =
    once(spark, path, writerId, batchId)(mergeClauses(spark, path, updates, keys,
      conditionalClauses(matchedUpdate, matchedDelete, notMatchedInsert), collectStats, _))
}

object TxWrites {

  /** How a staged write's commit attempt treats commits that landed
    * after the snapshot it decided on (see `stageAndCommit`). */
  private[sources] sealed trait Conflict
  /** No rule of its own: the op's attempt restates against the newest
    * snapshot (appends, overwrite, replaceWhere). */
  private[sources] case object Blind extends Conflict
  /** Delete, update: every rewrite input must still be live, with the
    * deletion-vector marks it was read through, or the op fails loudly. */
  private[sources] final case class Loud(base: TxSnapshot.Snapshot, inputs: Seq[String])
      extends Conflict
  /** Compactions: the same checks, but a moved input makes the op a
    * no-op (None) — maintenance re-runs, it never fights a writer. */
  private[sources] final case class NoOp(base: TxSnapshot.Snapshot, inputs: Seq[String])
      extends Conflict
  /** Merge: serializable — any commit after `base` conflicts, because
    * even a plain append may have inserted one of the merge keys. */
  private[sources] final case class Strict(base: TxSnapshot.Snapshot) extends Conflict

  /** One WHEN clause of a general ANSI/Delta MERGE — the argument shape
    * of [[mergeClauses]]. Conditions are Columns over two aliases: `t`
    * is the current table row, `s` the source row (BY SOURCE clauses
    * see `t` only — there is no source row by definition). A None
    * condition is unconditional; a NULL condition value counts as
    * false (SQL WHERE semantics). Assignment maps give per-column SET
    * lists; `set = None` / `values = None` are the full-row `SET *` /
    * `INSERT *` forms (the source must then carry every table column,
    * and may ADD columns — additive schema evolution, like [[merge]]).
    * All assignments of a clause evaluate against the OLD row in one
    * projection (the [[update]] discipline): `SET a = b, b = a` swaps. */
  sealed trait MergeClause
  object MergeClause {
    /** WHEN MATCHED [AND cond] THEN UPDATE SET … (None ⇒ SET *). */
    final case class MatchedUpdate(
        cond: Option[Column], set: Option[Map[String, Column]]) extends MergeClause
    /** WHEN MATCHED [AND cond] THEN DELETE. */
    final case class MatchedDelete(cond: Option[Column]) extends MergeClause
    /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES … (None ⇒
      * INSERT *); unassigned columns insert NULL. */
    final case class NotMatchedInsert(
        cond: Option[Column], values: Option[Map[String, Column]]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … — the
      * sync idiom's "refresh stale target rows" half. */
    final case class NotMatchedBySourceUpdate(
        cond: Option[Column], set: Map[String, Column]) extends MergeClause
    /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE — "drop target
      * rows the source no longer carries". */
    final case class NotMatchedBySourceDelete(cond: Option[Column]) extends MergeClause
  }
}
