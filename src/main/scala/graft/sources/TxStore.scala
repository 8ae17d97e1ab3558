package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, bit_or, call_function, coalesce, col, count, count_distinct, explode, lit, not, pmod, struct, when, xxhash64}

import java.nio.charset.StandardCharsets
import java.util.UUID

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
  * publish `_txlog/<latest+1>.json` by writing a private temp file and
  * hard-linking (local) / renaming (HDFS) it into the final name — one
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
  */
object TxStore {

  private val LogDir = "_txlog"
  private[sources] val DataDir = "data"
  private val MaxRetries = 20

  /** One log entry: the files this commit added/removed plus the op name
    * (history/debugging only). Hand-rolled JSON on both ends — the names
    * are UUIDs and ops are fixed tokens, so no escaping is needed; the
    * two structured payloads (schema, per-file stats) are base64-wrapped
    * so the commit line itself stays escape-free. `sidecars` references
    * files under `_txlog/_sidecar/` carrying sharded stats / deletion-
    * vector payloads too big for one line (multi-part checkpoints, bulk
    * vectored deletes) — the commit line stays the atomic manifest, the
    * heavy per-file payloads move out (the Delta multi-part parquet-
    * checkpoint / DV-sidecar shape, re-derived on the text log). */
  final case class Commit(
      version: Long,
      op: String,
      add: Seq[String],
      remove: Seq[String],
      txn: Option[String] = None,
      schema: Option[String] = None,
      stats: Option[String] = None,
      dv: Option[String] = None,
      sidecars: Seq[String] = Nil,
      /** Base64 payload carrying the table's full CHECK-constraint set
        * (name → SQL expression); like `schema`, the latest commit
        * carrying one defines the set (see [[addConstraint]]). */
      constraints: Option[String] = None,
      /** Base64 payload carrying the COLUMN MAPPING (logical name →
        * physical parquet name, plus retired physical names); absent =
        * identity. Latest commit carrying one defines it (see
        * [[renameColumn]]). */
      mapping: Option[String] = None,
      /** Base64 payload carrying the table's hive-style PARTITION
        * column list (physical names, tab-joined; empty = explicitly
        * unpartitioned). Latest commit carrying one defines it — set at
        * table creation by a partitioned [[append]], reset only by
        * [[overwrite]] (which replaces the table). */
      partcols: Option[String] = None,
      /** Base64 payload carrying the table's PROPERTIES (key → value,
        * the Delta TBLPROPERTIES surface); latest commit carrying one
        * defines the full set (see [[setTableProperties]]). */
      props: Option[String] = None)

  /** One column's [min, max] over a file's NON-NULL values: exact
    * decimals for numeric primitives, raw strings (ASCII-only, ≤ 64
    * chars — see [[fileStats]]) for UTF8 binaries. */
  sealed trait ColRange
  final case class NumRange(lo: BigDecimal, hi: BigDecimal) extends ColRange
  final case class StrRange(lo: String, hi: String) extends ColRange

  /** Per-file BLOOM FILTER over one column's values — the point-lookup
    * complement of min/max ranges (a round-robin-scattered table has
    * useless ranges but perfectly selective blooms). Stored in the
    * stats map under the synthetic key `<col>#b` so a column can carry
    * BOTH a range and a bloom; `tpe` records the hashed Catalyst type
    * ('L' = LongType, 'S' = StringType) so the driver-side probe
    * hashes the literal with byte-identical semantics. k seeded
    * xxhash64 positions per value (the ext45 Bloom shape). */
  final case class BloomSum(tpe: Char, k: Int, bits: Array[Long]) extends ColRange

  /** Per-file column ranges carried by the log: file → column → range.
    * Only top-level primitives are tracked (see [[fileStats]]); a
    * file/column absent from the map is simply never skipped. */
  type FileStats = Map[String, Map[String, ColRange]]

  final case class Snapshot(
      version: Long,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      stats: FileStats = Map.empty,
      dv: Map[String, Seq[Long]] = Map.empty,
      /** Data file → PARQUET deletion-vector sidecar dirs whose marks
        * apply to it (see [[deleteVectoredBulk]]): positions live in
        * executor-written parquet under `_txlog/_sidecar/<uuid>.dvpq/`,
        * never on the driver — reads union them into the same anti-join
        * as inline marks. */
      dvp: Map[String, Seq[String]] = Map.empty,
      /** Live CHECK constraints, (name, SQL expression) in declaration
        * order — every write of new row values is validated against
        * them (see [[addConstraint]]). */
      constraints: Seq[(String, String)] = Nil,
      /** COLUMN MAPPING: (logical, physical) per live column, in
        * logical-schema order. Empty = identity mode (logical ≡
        * physical — the default; zero overhead). Non-empty after the
        * first [[renameColumn]]/[[dropColumn]]: `schema` stays the
        * PHYSICAL parquet schema, readers project physical → logical,
        * writers map logical → physical (see the column-mapping
        * section). */
      mapping: Seq[(String, String)] = Nil,
      /** Physical column names retired by [[dropColumn]] — never
        * reusable, so a re-added logical name gets a fresh physical
        * name and old files' dropped data can never resurrect. */
      retired: Seq[String] = Nil,
      /** Hive-style PARTITION columns (physical names, in partition
        * order). Non-empty ⇒ every live file name carries `col=value/`
        * path segments under data/, the partition columns live in the
        * PATH (not in file content), and partition-predicate pruning
        * runs ahead of the per-file stats walk. Empty = flat layout
        * (the default; zero overhead, names are bare UUIDs). */
      partitioning: Seq[String] = Nil,
      /** Table PROPERTIES (key → value, declaration order), replayed
        * latest-wins like the schema — ride checkpoint/clone/restore
        * restatements (see [[setTableProperties]]). */
      properties: Seq[(String, String)] = Nil)

  /** What a write op asks the commit loop to publish at the next
    * version. `stats` ride with added files; `dv` marks row positions
    * of LIVE files as deleted (merge-on-read — see [[deleteVectored]]);
    * `sidecars` reference already-written sidecar files carrying sharded
    * stats/dv payloads instead of (never in addition to) the inline
    * fields they shard. */
  private final case class CommitSpec(
      add: Seq[String],
      remove: Seq[String],
      schema: Option[String],
      stats: Option[String] = None,
      dv: Option[String] = None,
      sidecars: Seq[String] = Nil,
      constraints: Option[String] = None,
      mapping: Option[String] = None,
      partcols: Option[String] = None,
      props: Option[String] = None)

  // ── schema in the log ──────────────────────────────────────────────
  // The table schema travels in commit entries (base64 of Spark's schema
  // JSON — the hand-rolled commit JSON stays escape-free), so readers
  // NEVER derive schema from data-file footers: at lake scale "merge N
  // million footers" is a full metadata scan, and schema-on-log is what
  // makes an old file's missing column read as NULL instead of breaking
  // the scan. The schema at version V = the latest commit ≤ V carrying
  // one — so time travel reads with the HISTORICAL schema. All fields
  // are stored nullable: evolution means old files lack new columns.

  private def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes(StandardCharsets.UTF_8))

  // ── payload decode memo ────────────────────────────────────────────
  // Replay re-reads the log from disk on EVERY snapshot (that is the
  // multi-writer correctness contract), so a table touched by N commits
  // pays N payload decodes per operation — O(commits²) decode work
  // across a multi-commit workflow (measured: +30% on the incremental-
  // report lane when stats landed). The PAYLOADS are immutable (a
  // commit file is never rewritten), so decode memoizes on content;
  // the crude full-clear bound keeps the cache from outliving its
  // usefulness in a long bench process.
  private val decodeCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def memo[T <: AnyRef](key: String, kind: Char)(compute: => T): T = {
    if (decodeCache.size > 8192) decodeCache.clear()
    decodeCache.computeIfAbsent(kind + key, _ => compute).asInstanceOf[T]
  }

  // ── commit-file generation (r18 memo-key hardening) ────────────────
  // The commit-parse memo keys on (path, mtime, length), but local-FS
  // mtime granularity is typically 1 s and commit payloads are
  // fixed-width enough that lengths repeat — a table deleted and
  // recreated within the same second could be served the PREVIOUS
  // generation's parse (ADVICE r17 medium). tryCommit is
  // create-if-absent, so a commit file THIS process writes did not
  // exist an instant earlier: any memoized parse for that path is by
  // definition from a dead generation. Winning a commit therefore bumps
  // the file's generation, which rides in the memo key. Cross-process
  // recreation (another JVM deletes and rewrites the table under us)
  // remains guarded only by mtime+length — the same exposure every
  // mtime-based cache has without content hashing, accepted and
  // documented. The map is cleared together with the memo it guards so
  // a generation can never outlive (or get reset under) its entries.
  private val commitGen =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def bumpGen(f: FileSystem, p: Path): Unit = {
    if (commitGen.size > 65536) { commitGen.clear(); decodeCache.clear() }
    commitGen.merge(f.makeQualified(p).toString, 1L, (a, b) => a + b): Unit
  }
  private def genOf(qualified: String): Long = {
    val g = commitGen.get(qualified)
    if (g == null) 0L else g.longValue()
  }

  private def decodeSchema(b64: String): org.apache.spark.sql.types.StructType =
    memo(b64, 's') {
      org.apache.spark.sql.types.DataType
        .fromJson(new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  // ── CHECK constraints in the log ───────────────────────────────────
  // The constraint set travels like the schema: base64 payload, latest
  // commit carrying one defines the full set (so drop = restate minus
  // one). Payload grammar: one `name<TAB>sqlExpr` line per constraint —
  // names are token-restricted and expressions are forbidden tabs/
  // newlines at addConstraint, so no escaping is needed.

  private def encodeConstraints(cs: Seq[(String, String)]): String =
    java.util.Base64.getEncoder.encodeToString(
      cs.map { case (n, e) => s"$n\t$e" }.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def decodeConstraints(b64: String): Seq[(String, String)] =
    memo(b64, 'k') {
      val txt = new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
      if (txt.isEmpty) Nil
      else txt.split("\n", -1).toSeq.map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"corrupt constraints payload line: $line")
        (line.substring(0, i), line.substring(i + 1))
      }
    }

  // ── column mapping in the log ──────────────────────────────────────
  // Delta's column-mapping (name mode) re-derived on the text log: the
  // log `schema` stays the PHYSICAL parquet schema; a (logical →
  // physical) mapping rides beside it, replayed latest-wins like the
  // schema. Absent mapping = identity (the default — zero overhead, and
  // every pre-mapping table keeps exactly its old behavior). RENAME is
  // then a metadata-only commit (the logical name moves, the physical
  // stays — no file is rewritten); DROP removes the pair and RETIRES the
  // physical name forever, so a re-added logical column gets a fresh
  // physical name and dropped data in old files can never resurrect.
  // Readers project physical → logical after the scan; writers map
  // logical → physical before staging; stats/bloom keys stay physical
  // and predicate pruning translates logical attribute names.

  // ── partition columns in the log ───────────────────────────────────
  // The partition column list travels like the schema: base64 payload,
  // latest-wins. Names are PHYSICAL (under column mapping the logical
  // rename is pure metadata — the paths on disk never move). An empty
  // payload is EXPLICITLY unpartitioned, which is how an overwrite
  // resets a previously-partitioned table to flat layout.

  private def encodePartitioning(cols: Seq[String]): String =
    java.util.Base64.getEncoder.encodeToString(
      cols.mkString("\t").getBytes(StandardCharsets.UTF_8))

  private def decodePartitioning(b64: String): Seq[String] =
    memo(b64, 'P') {
      val txt = new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
      if (txt.isEmpty) Nil else txt.split("\t", -1).toSeq
    }

  /** The bare data-file name (the part after the partition dirs) —
    * identical to the full log name on flat tables. Runtime `__file`
    * columns carry the LEAF (`_metadata.file_name`); the log, stats,
    * and deletion-vector keys carry the FULL relative name; leaf names
    * are staged UUIDs, so the leaf → full map over a snapshot's live
    * set is always injective. */
  private[sources] def leafOf(n: String): String = {
    val i = n.lastIndexOf('/')
    if (i < 0) n else n.substring(i + 1)
  }

  private def byLeaf(files: Seq[String]): Map[String, String] =
    files.iterator.map(n => leafOf(n) -> n).toMap

  /** Hive path unescaping (the inverse of the `%xx` escaping Spark's
    * partitioned writer applies to special characters in values).
    * `private[sources]`: SqlMaint's SHOW PARTITIONS decodes values
    * through THIS function so display and partition pruning can never
    * disagree on an escape. */
  private[sources] def unescapePathName(s: String): String =
    if (s.indexOf('%') < 0) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          val hex = s.substring(i + 1, i + 3)
          scala.util.Try(Integer.parseInt(hex, 16)) match {
            case scala.util.Success(code) => sb.append(code.toChar); i += 3
            case _ => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Synthetic lo == hi column ranges from a file's hive partition path
    * — partition pruning rides the SAME sound mayMatch walker as
    * min/max stats (a partition file holds exactly one value of each
    * partition column, so [v, v] is its exact range). Typed from the
    * log schema: numerics and dates prune on NumRange (a date value
    * parses to its epoch-day, matching the Catalyst DateType literal),
    * ASCII strings on StrRange; anything else (and the
    * __HIVE_DEFAULT_PARTITION__ null marker) yields no range — the
    * file is kept, which is always sound. Memoized per partition DIR:
    * many files share one. */
  private[sources] def partitionRanges(snap: Snapshot): String => Map[String, ColRange] =
    if (snap.partitioning.isEmpty) (_: String) => Map.empty
    else {
      import org.apache.spark.sql.types._
      val types: Map[String, DataType] = snap.schema
        .map(_.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f.dataType).toMap)
        .getOrElse(Map.empty)
      def typed(k: String, v: String): Option[ColRange] =
        types.get(k.toLowerCase(java.util.Locale.ROOT)) match {
          case Some(_: NumericType) =>
            scala.util.Try(BigDecimal(v)).toOption.map(n => NumRange(n, n))
          case Some(DateType) =>
            scala.util.Try(BigDecimal(java.time.LocalDate.parse(v).toEpochDay))
              .toOption.map(n => NumRange(n, n))
          case Some(StringType) if v.forall(_ < 128) => Some(StrRange(v, v))
          case _ => None
        }
      val cache = scala.collection.mutable.HashMap.empty[String, Map[String, ColRange]]
      (name: String) => {
        val cut = name.lastIndexOf('/')
        if (cut < 0) Map.empty
        else cache.getOrElseUpdate(name.substring(0, cut), {
          name.substring(0, cut).split('/').iterator.flatMap { seg =>
            val eq = seg.indexOf('=')
            if (eq <= 0) None
            else {
              val k = unescapePathName(seg.substring(0, eq))
              val v = unescapePathName(seg.substring(eq + 1))
              if (v == "__HIVE_DEFAULT_PARTITION__") None
              else typed(k, v).map(r => k -> r)
            }
          }.toMap
        })
      }
    }

  private def encodeMapping(m: Seq[(String, String)], retired: Seq[String]): String =
    java.util.Base64.getEncoder.encodeToString(
      (m.map { case (l, p) => s"m\t$l\t$p" } ++ retired.map(p => s"r\t$p"))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def decodeMapping(b64: String): (Seq[(String, String)], Seq[String]) =
    memo(b64, 'm') {
      val txt = new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
      if (txt.isEmpty) (Nil, Nil)
      else {
        val lines = txt.split("\n", -1).toSeq
        val pairs = lines.collect {
          case l if l.startsWith("m\t") =>
            val parts = l.split("\t", -1)
            require(parts.length == 3, s"corrupt mapping line: $l")
            (parts(1), parts(2))
        }
        val retired = lines.collect { case l if l.startsWith("r\t") => l.substring(2) }
        (pairs, retired)
      }
    }

  /** The LOGICAL schema a reader sees: the mapping's order and names
    * over the physical fields' types; identity mode passes the physical
    * schema through. */
  def logicalSchema(snap: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    if (snap.mapping.isEmpty) snap.schema
    else snap.schema.map { phys =>
      val byName = phys.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
      org.apache.spark.sql.types.StructType(snap.mapping.map { case (l, p) =>
        byName(p.toLowerCase(java.util.Locale.ROOT)).copy(name = l)
      })
    }

  /** Rename a logical frame's columns to their physical names before
    * staging — identity when the mapping is. Columns without a pair
    * (pre-evolution callers extend the mapping first) pass through. */
  private def toPhysical(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    if (mapping.isEmpty) df
    else {
      val byLogical = mapping.map { case (l, p) =>
        l.toLowerCase(java.util.Locale.ROOT) -> p
      }.toMap
      df.select(df.columns.toIndexedSeq.map(c =>
        col(c).as(byLogical.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c))): _*)
    }

  /** Lowercased logical → physical lookup for predicate-pruning
    * translation. */
  private def physByLogical(snap: Snapshot): Map[String, String] =
    snap.mapping.map { case (l, p) => l.toLowerCase(java.util.Locale.ROOT) -> p }.toMap

  /** Schema evolution in MAPPING mode: evolve on the LOGICAL level
    * (same widening/duplicate rules as [[evolve]]), then assign each
    * genuinely new logical column a physical name — its own name when
    * never used by any live or retired physical column, else a
    * suffixed fresh one (the no-resurrection rule). Returns the new
    * physical schema and the extended mapping. */
  private def evolveMapped(
      snap: Snapshot,
      incoming: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): (org.apache.spark.sql.types.StructType, Seq[(String, String)]) = {
    def key(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val phys = snap.schema.getOrElse(
      throw new IllegalStateException("mapping mode requires a log schema"))
    val logicalCur = logicalSchema(snap).get
    val evolvedLogical = evolve(Some(logicalCur), incoming, caseSensitive)
    val pairByLogical = snap.mapping.map { case (l, p) => key(l) -> p }.toMap
    val used = (phys.fieldNames.toSeq ++ snap.retired ++ snap.mapping.map(_._2))
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val newFields = evolvedLogical.fields.toSeq.filterNot(f => pairByLogical.contains(key(f.name)))
    // refuse names the tab/newline-delimited mapping payload cannot
    // carry BEFORE commit — same rule as materializedMapping (a
    // committed undecodable payload would brick every snapshot())
    newFields.foreach(f => require(!f.name.exists(c => c == '\t' || c == '\n'),
      s"column name unsupported for mapping mode: '${f.name}'"))
    val newPairs = newFields.map { f =>
      val p =
        if (used(f.name.toLowerCase(java.util.Locale.ROOT)))
          s"${f.name}_${UUID.randomUUID().toString.take(8)}"
        else f.name
      (f.name, p)
    }
    val widenedByPhys = evolvedLogical.fields.toSeq.flatMap(f =>
      pairByLogical.get(key(f.name)).map(p => key(p) -> f.dataType)).toMap
    val physFields = phys.fields.toSeq.map(f =>
      widenedByPhys.get(key(f.name)).fold(f)(dt => f.copy(dataType = dt))) ++
      newPairs.zip(newFields).map { case ((_, p), f) => f.copy(name = p) }
    (org.apache.spark.sql.types.StructType(physFields), snap.mapping ++ newPairs)
  }

  /** ANSI CHECK semantics: a row VIOLATES iff the expression evaluates
    * to FALSE — a NULL result passes (unknown is not a violation; same
    * rule as SQL CHECK and Delta's constraint). */
  private def violatesConstraint(exprSql: String): Column =
    not(coalesce(org.apache.spark.sql.functions.expr(exprSql).cast("boolean"), lit(true)))

  /** Validate `df` against every constraint in ONE aggregate pass (a
    * violation-count column per constraint — never N scans of the
    * incoming batch). Throws with every violated constraint named. */
  private def enforceConstraints(
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

  // ── file-level min/max stats in the log (Delta-style data skipping) ─
  // Commit entries carry per-file column ranges so a predicate read
  // ([[readWhere]]) prunes files from the LOG, before any parquet footer
  // is opened — at lake scale "open N million footers to decide what to
  // scan" is itself a full metadata pass, which is the entire point of
  // stats-in-the-log. Ranges are harvested ONCE, at commit time, from
  // the footers of the files the commit itself just wrote — O(files in
  // this commit), never O(table) — and travel as base64 JSON so the
  // hand-rolled commit line stays escape-free.

  /** Stats payload codec: {"file":{"col":[lo,hi],...},...} — numeric
    * bounds as exact decimal numbers, string bounds as base64-quoted
    * strings ("b64","b64"). File names are engine-minted UUIDs, column
    * names are filtered to quote-free ones at harvest, and string
    * values ride base64, so the grammar needs no escaping anywhere. */
  private def renderStats(m: FileStats): String = {
    def b64(v: String) =
      java.util.Base64.getEncoder.encodeToString(v.getBytes(StandardCharsets.UTF_8))
    m.toSeq.sortBy(_._1).map { case (f, cols) =>
      val body = cols.toSeq.sortBy(_._1).map {
        case (c, NumRange(lo, hi)) =>
          s""""$c":[${lo.bigDecimal.toPlainString},${hi.bigDecimal.toPlainString}]"""
        case (c, StrRange(lo, hi)) =>
          s""""$c":["${b64(lo)}","${b64(hi)}"]"""
        case (c, BloomSum(t, k, bits)) =>
          // "#B" cannot open a base64 body ('#' is outside the alphabet)
          // so the two-string slot stays unambiguous
          val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
          bits.foreach(bb.putLong)
          s""""$c":["#B$t$k","${java.util.Base64.getEncoder.encodeToString(bb.array())}"]"""
      }.mkString(",")
      s""""$f":{$body}"""
    }.mkString("{", ",", "}")
  }

  private def parseStats(s: String): FileStats = {
    // tiny scanner over the fixed grammar above — no escapes, no nesting
    // beyond file→col→[lo,hi]
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, ColRange]]
    var i = 0
    def expect(c: Char): Unit = {
      require(i < s.length && s.charAt(i) == c, s"corrupt stats payload at $i in $s")
      i += 1
    }
    def str(): String = {
      expect('"'); val j = s.indexOf('"', i)
      val r = s.substring(i, j); i = j + 1; r
    }
    def deb64(v: String): String =
      new String(java.util.Base64.getDecoder.decode(v), StandardCharsets.UTF_8)
    def num(end: Char): BigDecimal = {
      val j0 = s.indexOf(end, i)
      val r = BigDecimal(s.substring(i, j0)); i = j0; r
    }
    expect('{')
    while (i < s.length && s.charAt(i) != '}') {
      if (s.charAt(i) == ',') i += 1
      val file = str()
      expect(':'); expect('{')
      val cols = scala.collection.mutable.LinkedHashMap.empty[String, ColRange]
      while (s.charAt(i) != '}') {
        if (s.charAt(i) == ',') i += 1
        val cname = str()
        expect(':'); expect('[')
        val range: ColRange =
          if (s.charAt(i) == '"') { // string bounds OR a bloom payload
            val lo = str(); expect(','); val hi = str()
            if (lo.startsWith("#B")) {
              val bytes = java.util.Base64.getDecoder.decode(hi)
              val bb = java.nio.ByteBuffer.wrap(bytes)
              val bits = Array.fill(bytes.length / 8)(bb.getLong())
              BloomSum(lo.charAt(2), lo.substring(3).toInt, bits)
            } else StrRange(deb64(lo), deb64(hi))
          } else {
            val lo = num(','); expect(','); val hi = num(']')
            NumRange(lo, hi)
          }
        expect(']')
        cols(cname) = range
      }
      expect('}')
      out(file) = cols.toMap
    }
    out.toMap
  }

  /** Harvest per-file min/max from the parquet footers of just-staged
    * files. Tracked: top-level INT32/INT64/FLOAT/DOUBLE primitives with
    * no logical-type annotation beyond a signed int, plus UTF8 BINARY
    * (strings) whose bounds are pure ASCII and ≤ 64 chars — for ASCII,
    * parquet's unsigned-byte ordering and Java's String ordering agree,
    * so the comparison in [[mayMatch]] is exactly the file's ordering
    * (a non-ASCII or oversized bound drops the column for that file
    * rather than risk an ordering mismatch or log bloat). Dates,
    * timestamp logical types and decimals are SKIPPED (absent ⇒ never
    * pruned on). A column is dropped for the whole file if ANY row
    * group lacks usable stats. NULL note: parquet min/max cover
    * non-null values only, and [[readWhere]] only prunes on comparison
    * predicates, which no NULL can satisfy — so skipping a file whose
    * non-null range refutes the predicate never loses a row. */
  /** `foreign = true` marks files ADOPTED from another writer
    * ([[convert]]): their footers may legally carry truncated binary
    * min/max (exactness flags parquet-mr never exposes) and double
    * stats computed ignoring NaN — under Spark's NaN-greatest ordering
    * an upper-bound refutation on such a range is UNSOUND. So foreign
    * harvests (a) skip FLOAT/DOUBLE ranges entirely and (b) stamp the
    * file with the `#x` prune-only fact: integer/string ranges stay
    * (int stats cannot truncate; spec-compliant binary truncation only
    * WIDENS a range, which stays prune-sound) but metadata-only MIN/MAX
    * answers refuse over any `#x` file (ADVICE r15) — the log's
    * "exact or absent" aggregate claim holds only for graft-written
    * footers. */
  private def fileStats(
      f: FileSystem, path: String, names: Seq[String],
      foreign: Boolean = false, nullCounts: Boolean = true): Option[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def asciiOk(v: String) = v.length <= 64 && v.forall(_ < 128)
    val conf = f.getConf
    // footer opens are independent driver-side IO — a wide commit (a
    // bulk append staging 32 files) harvests them in parallel
    def harvest(name: String): (String, Map[String, ColRange]) = {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, ColRange]
      val dropped = scala.collection.mutable.HashSet.empty[String]
      // per-column NULL COUNTS under the synthetic `<col>#n` key —
      // harvested for EVERY top-level column (type-independent, unlike
      // ranges), summed across row groups; a single group with the
      // count unset drops the column's fact (a partial sum would be an
      // unsound under-count for IS NULL refutation). Delta's checkpoint
      // nullCount re-derived on the stats map — `WHERE c IS NULL`
      // prunes all-non-null files, `IS NOT NULL` prunes all-null ones
      // (with `#rows` supplying the denominator).
      val nullAcc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      val nullUnknown = scala.collection.mutable.HashSet.empty[String]
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(s"$path/$DataDir/$name"), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        // FILE FACTS ride the stats channel under synthetic keys a
        // column can never claim ('#' is refused in column names):
        // byte size and row count, harvested from the footer the walk
        // is already paying for. The DSv2 scan plans its input splits
        // and reports sizeInBytes/rowCount from THESE — a plan over
        // 100 TB costs zero per-file getFileStatus RPCs (the Delta
        // AddFile.size design re-derived on the stats map). mayMatch
        // never consults them (no attribute maps to a '#' key), and
        // checkpoints/clones restate them like any other range.
        acc("#size") = NumRange(BigDecimal(in.getLength), BigDecimal(in.getLength))
        val nRows = reader.getRecordCount
        acc("#rows") = NumRange(BigDecimal(nRows), BigDecimal(nRows))
        if (foreign) acc("#x") = NumRange(1, 1) // prune-only marker (see scaladoc)
        reader.getFooter.getBlocks.asScala.foreach { block =>
          block.getColumns.asScala.foreach { cc =>
            val parts = cc.getPath.toArray
            if (parts.length == 1 && !parts(0).toString.exists(c => c == '"' || c == '\\')) {
              val cname = parts(0).toString
              val stNulls = cc.getStatistics
              if (stNulls == null || !stNulls.isNumNullsSet) nullUnknown += cname
              else nullAcc(cname) = nullAcc.getOrElse(cname, 0L) + stNulls.getNumNulls
              val pt = cc.getPrimitiveType
              val ann = pt.getLogicalTypeAnnotation
              val numeric =
                Set(INT32, INT64, FLOAT, DOUBLE).contains(pt.getPrimitiveTypeName) &&
                  // a foreign writer's FP stats may ignore NaN — under
                  // Spark's NaN-greatest ordering that makes upper-bound
                  // refutation unsound, so foreign FP ranges never harvest
                  !(foreign &&
                    Set(FLOAT, DOUBLE).contains(pt.getPrimitiveTypeName)) &&
                  (ann == null || (ann match {
                    case it: LogicalTypeAnnotation.IntLogicalTypeAnnotation => it.isSigned
                    case _ => false
                  }))
              val utf8 = pt.getPrimitiveTypeName == BINARY &&
                ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              if ((numeric || utf8) && !dropped.contains(cname)) {
                val st = cc.getStatistics
                def drop(): Unit = { dropped += cname; acc.remove(cname): Unit }
                if (st == null || st.isEmpty || !st.hasNonNullValue) drop()
                else if (numeric) {
                  // FLOAT/DOUBLE bounds convert via the EXACT binary
                  // expansion of the value PROMOTED TO DOUBLE — Spark
                  // evaluates predicates on the promoted double, and a
                  // float's shortest-decimal toString can disagree with it
                  // near a bound (file max 0.3f renders "0.3", which
                  // refutes col >= 0.30000001 even though the promoted
                  // 0.30000001192… satisfies it — an unsound prune).
                  // NaN/±Infinity bounds (legal: parquet-mr's min/max
                  // propagates NaN) have no decimal form — drop the
                  // column for this file instead of aborting the write.
                  def exact(v: Any): Option[BigDecimal] = v match {
                    case x: java.lang.Float =>
                      if (x.isNaN || x.isInfinite) None
                      else Some(BigDecimal(new java.math.BigDecimal(x.doubleValue())))
                    case x: java.lang.Double =>
                      if (x.isNaN || x.isInfinite) None
                      else Some(BigDecimal(new java.math.BigDecimal(x.doubleValue())))
                    case other => scala.util.Try(BigDecimal(other.toString)).toOption
                  }
                  (exact(st.genericGetMin), exact(st.genericGetMax)) match {
                    case (Some(lo), Some(hi)) =>
                      acc(cname) = acc.get(cname) match {
                        case Some(NumRange(l0, h0)) => NumRange(l0.min(lo), h0.max(hi))
                        case _ => NumRange(lo, hi)
                      }
                    case _ => drop()
                  }
                } else {
                  val lo = new String(
                    st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                      .getBytes, StandardCharsets.UTF_8)
                  val hi = new String(
                    st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                      .getBytes, StandardCharsets.UTF_8)
                  if (!asciiOk(lo) || !asciiOk(hi)) drop()
                  else acc(cname) = acc.get(cname) match {
                    case Some(StrRange(l0, h0)) =>
                      StrRange(if (lo < l0) lo else l0, if (hi > h0) hi else h0)
                    case _ => StrRange(lo, hi)
                  }
                }
              }
            }
          }
        }
      } finally reader.close()
      if (nullCounts) nullAcc.foreach { case (c, n) =>
        if (!nullUnknown(c) && !c.contains('#')) acc(c + "#n") = NumRange(n, n)
      }
      name -> acc.toMap
    }
    val all: FileStats = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.traverse(names)(n => Future(harvest(n))),
        scala.concurrent.duration.Duration.Inf)
    }.filter(_._2.nonEmpty).toMap
    if (all.isEmpty) None
    else Some(java.util.Base64.getEncoder.encodeToString(
      renderStats(all).getBytes(StandardCharsets.UTF_8)))
  }

  private def decodeStats(b64: String): FileStats =
    memo(b64, 't') {
      parseStats(new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
    }

  // ── deletion vectors in the log (merge-on-read DELETE) ─────────────
  // A delete-dv commit adds/removes NO files: it marks row POSITIONS of
  // live files as deleted ({"file":[idx,...],...}, base64-wrapped like
  // the other structured payloads). Readers anti-join the marked
  // positions out via the parquet scan's _metadata.row_index — a
  // selective delete on a huge file costs one tiny log entry instead of
  // rewriting the file (the Delta deletion-vector / Iceberg v2
  // position-delete design, re-derived). Rewrites retire vectors:
  // compact/delete/merge read THROUGH the vectors and their new files
  // carry none.

  private def renderDv(m: Map[String, Seq[Long]]): String =
    m.toSeq.sortBy(_._1).map { case (f, rows) =>
      s""""$f":[${rows.sorted.distinct.mkString(",")}]"""
    }.mkString("{", ",", "}")

  private def parseDv(s: String): Map[String, Seq[Long]] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    var i = 0
    def expect(c: Char): Unit = {
      require(i < s.length && s.charAt(i) == c, s"corrupt dv payload at $i in $s")
      i += 1
    }
    def str(): String = {
      expect('"'); val j = s.indexOf('"', i)
      val r = s.substring(i, j); i = j + 1; r
    }
    expect('{')
    while (i < s.length && s.charAt(i) != '}') {
      if (s.charAt(i) == ',') i += 1
      val file = str()
      expect(':'); expect('[')
      val j = s.indexOf(']', i)
      val body = s.substring(i, j); i = j
      expect(']')
      out(file) = if (body.isEmpty) Nil else body.split(',').toSeq.map(_.toLong)
    }
    out.toMap
  }

  private def encodeDv(m: Map[String, Seq[Long]]): String =
    java.util.Base64.getEncoder.encodeToString(renderDv(m).getBytes(StandardCharsets.UTF_8))

  private def decodeDv(b64: String): Map[String, Seq[Long]] =
    memo(b64, 'd') {
      parseDv(new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
    }

  // ── sidecar files (multi-part checkpoints, bulk deletion vectors) ──
  // A commit line is one atomic driver-side JSON line; restating a large
  // table's per-file stats (checkpoint) or a bulk delete's positions
  // inline makes that line O(live files × payload) — correct but
  // metadata-io-poor past ~10⁵ files, exactly why Delta moved
  // checkpoints to multi-part parquet and deletion vectors to bitmap
  // sidecar files. Here the heavy payloads shard into immutable files
  // under _txlog/_sidecar/<uuid>.sc, referenced from the commit line
  // (which stays the atomic manifest): writers create them BEFORE the
  // commit attempt (invisible until a commit names them — the same
  // stage-then-publish story as data files), losers of a commit race
  // delete and restage, and vacuum reclaims aged unreferenced ones.

  private val SidecarDirName = "_sidecar"

  private[sources] def sidecarPath(path: String, name: String): Path =
    new Path(s"$path/$LogDir/$SidecarDirName/$name")

  /** Packed deletion-vector codec for sidecars: per file, sorted
    * positions as delta-encoded LEB128 varints, base64-wrapped —
    * {"file":"b64",...}. 1–2 bytes per mark on realistic (clustered or
    * sparse) deletes vs ~8–12 for the inline decimal CSV; the compressed
    * position-bitmap trade DV sidecars exist for. */
  private def renderDvPacked(m: Map[String, Seq[Long]]): String = {
    def pack(rows: Seq[Long]): String = {
      val out = new java.io.ByteArrayOutputStream()
      var prev = -1L
      rows.sorted.distinct.foreach { p =>
        var d = p - prev // ≥ 1: positions are distinct ascending, prev starts at −1
        prev = p
        while (d >= 0x80L) { out.write(((d & 0x7fL) | 0x80L).toInt); d >>>= 7 }
        out.write(d.toInt)
      }
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
    m.toSeq.sortBy(_._1).map { case (f, rows) => s""""$f":"${pack(rows)}"""" }
      .mkString("{", ",", "}")
  }

  private def parseDvPacked(s: String): Map[String, Seq[Long]] = {
    def unpack(b64: String): Seq[Long] = {
      val bytes = java.util.Base64.getDecoder.decode(b64)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      var prev = -1L
      while (i < bytes.length) {
        var d = 0L
        var shift = 0
        var b = 0
        while ({
          b = bytes(i) & 0xff; i += 1
          d |= (b & 0x7fL) << shift; shift += 7
          (b & 0x80) != 0
        }) ()
        prev += d
        buf += prev
      }
      buf.toSeq
    }
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    var i = 0
    def expect(c: Char): Unit = {
      require(i < s.length && s.charAt(i) == c, s"corrupt packed dv payload at $i in $s")
      i += 1
    }
    def str(): String = {
      expect('"'); val j = s.indexOf('"', i)
      val r = s.substring(i, j); i = j + 1; r
    }
    expect('{')
    while (i < s.length && s.charAt(i) != '}') {
      if (s.charAt(i) == ',') i += 1
      val file = str()
      expect(':')
      out(file) = unpack(str())
    }
    out.toMap
  }

  /** Write one sidecar holding a shard of restated per-file stats and/or
    * packed deletion-vector marks. Plain create under a fresh UUID name
    * — no race possible, and the file is invisible to replay until a
    * commit references it. Content: up to two lines, `stats:<b64 of
    * renderStats>` and `dvp:<b64 of renderDvPacked>`. */
  /** One sidecar's decoded payloads: a stats shard, a packed-inline dv
    * shard, and references to PARQUET deletion-vector dirs (each with
    * the data files its marks apply to — file-LEVEL metadata, so replay
    * never opens the parquet). */
  private final case class SidecarPayload(
      stats: FileStats,
      dv: Map[String, Seq[Long]],
      dvParquet: Seq[(String, Seq[String])])

  private def writeSidecar(
      f: FileSystem,
      path: String,
      stats: FileStats,
      dv: Map[String, Seq[Long]],
      dvParquet: Seq[(String, Seq[String])] = Nil): String = {
    def b64(v: String) =
      java.util.Base64.getEncoder.encodeToString(v.getBytes(StandardCharsets.UTF_8))
    val name = s"${UUID.randomUUID()}.sc"
    val sb = new StringBuilder
    if (stats.nonEmpty) sb.append("stats:").append(b64(renderStats(stats))).append('\n')
    if (dv.nonEmpty) sb.append("dvp:").append(b64(renderDvPacked(dv))).append('\n')
    dvParquet.foreach { case (dir, files) =>
      sb.append("dvpq:").append(b64(dir + "\n" + files.mkString(","))).append('\n')
    }
    val out = f.create(sidecarPath(path, name), /* overwrite = */ false)
    try out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    name
  }

  /** Read (memoized — sidecar files are immutable) one sidecar's
    * payloads. */
  private def readSidecar(f: FileSystem, path: String, name: String): SidecarPayload =
    memo(s"$path/$name", 'c') {
      def deb64(v: String) =
        new String(java.util.Base64.getDecoder.decode(v), StandardCharsets.UTF_8)
      val txt = readText(f, sidecarPath(path, name))
      var stats: FileStats = Map.empty
      var dv: Map[String, Seq[Long]] = Map.empty
      val dvq = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
      txt.split('\n').foreach { line =>
        if (line.startsWith("stats:")) stats = parseStats(deb64(line.substring(6)))
        else if (line.startsWith("dvpq:")) {
          val body = deb64(line.substring(5))
          val nl = body.indexOf('\n')
          dvq += ((body.substring(0, nl), body.substring(nl + 1).split(',').toSeq))
        } else if (line.startsWith("dvp:")) dv = parseDvPacked(deb64(line.substring(4)))
      }
      SidecarPayload(stats, dv, dvq.toSeq)
    }

  private def normalize(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(_.copy(nullable = true)))

  /** Rank in the safe widening chains: every step up a chain is exact
    * (no value an INT holds is unrepresentable as BIGINT; every FLOAT
    * widens to the same DOUBLE bit-for-bit), and Spark 4's parquet
    * readers perform exactly these promotions when the read schema is
    * wider than the file (SPARK-40876) — which is what lets old files
    * stay untouched when the log schema widens. Everything outside the
    * two chains is NOT widening (string↔int, double→float, …) and keeps
    * being rejected as type drift. */
  private def widenRank(dt: org.apache.spark.sql.types.DataType): Option[(Char, Int)] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Some(('i', 0))
      case ShortType => Some(('i', 1))
      case IntegerType => Some(('i', 2))
      case LongType => Some(('i', 3))
      case FloatType => Some(('f', 0))
      case DoubleType => Some(('f', 1))
      case _ => None
    }
  }

  /** The wider of two types when they sit on one widening chain. */
  private def widened(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] =
    if (a == b) Some(a)
    else (widenRank(a), widenRank(b)) match {
      case (Some((ca, ra)), Some((cb, rb))) if ca == cb => Some(if (ra >= rb) a else b)
      case _ => None
    }

  /** Schema evolution: incoming may ADD columns, and a column both sides
    * know may WIDEN along a safe chain (INT→BIGINT, FLOAT→DOUBLE — the
    * log carries the widest type ever seen, readback promotes narrower
    * files); any other type change is drift and rejected — silent type
    * drift is how a lake corrupts. Name matching follows the session's
    * `spark.sql.caseSensitive` (default false, like Spark's own column
    * resolution): case-insensitively, an incoming 'ID' IS the table's
    * 'id' — the table's original spelling is kept — rather than a
    * silent duplicate column that would break every subsequent
    * schema-applied read. Returns table (with widenings applied) ++ new
    * columns. */
  private def evolve(
      cur: Option[org.apache.spark.sql.types.StructType],
      incoming: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType = {
    def key(n: String) = if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val dupes = incoming.fields.groupBy(f => key(f.name)).filter(_._2.length > 1)
    require(dupes.isEmpty,
      s"incoming schema has columns colliding under spark.sql.caseSensitive=$caseSensitive: " +
        dupes.values.map(_.map(_.name).mkString("/")).mkString(", "))
    cur match {
      case None => normalize(incoming)
      case Some(t) =>
        val byName = t.fields.map(f => key(f.name) -> f).toMap
        val evolvedExisting = t.fields.map { old =>
          incoming.fields.find(f => key(f.name) == key(old.name)) match {
            case None => old
            case Some(f) =>
              val w = widened(old.dataType, f.dataType).getOrElse(throw new IllegalArgumentException(
                s"schema conflict on '${old.name}': table has ${old.dataType.catalogString}, " +
                  s"incoming has ${f.dataType.catalogString} — not a safe widening"))
              old.copy(dataType = w)
          }
        }
        normalize(org.apache.spark.sql.types.StructType(
          evolvedExisting ++ incoming.fields.filterNot(f => byName.contains(key(f.name)))))
    }
  }

  private[sources] def sessionCaseSensitive(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.caseSensitive", "false").toBoolean

  // ── log primitives ─────────────────────────────────────────────────

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logPath(path: String, v: Long): Path =
    new Path(s"$path/$LogDir/${"%020d".format(v)}.json")

  private def render(c: Commit): String = {
    def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val txn = c.txn.fold("")(t => s""","txn":"$t"""")
    val sch = c.schema.fold("")(s => s""","schema":"$s"""")
    val sts = c.stats.fold("")(s => s""","stats":"$s"""")
    val dvs = c.dv.fold("")(s => s""","dv":"$s"""")
    val scs = if (c.sidecars.isEmpty) "" else s""","sidecars":${arr(c.sidecars)}"""
    val cns = c.constraints.fold("")(s => s""","constraints":"$s"""")
    val mps = c.mapping.fold("")(s => s""","mapping":"$s"""")
    val pcs = c.partcols.fold("")(s => s""","partcols":"$s"""")
    val pps = c.props.fold("")(s => s""","props":"$s"""")
    s"""{"version":${c.version},"op":"${c.op}","add":${arr(c.add)},"remove":${arr(c.remove)}$txn$sch$sts$dvs$scs$cns$mps$pcs$pps}"""
  }

  private def parse(s: String): Commit = {
    def fieldOpt(name: String): Option[String] = {
      val i = s.indexOf("\"" + name + "\":")
      if (i < 0) None else Some(s.substring(i + name.length + 3))
    }
    def field(name: String): String = {
      val v = fieldOpt(name)
      require(v.isDefined, s"corrupt commit entry: missing $name in $s")
      v.get
    }
    def strArr(body: String): Seq[String] = {
      val inner = body.substring(body.indexOf('[') + 1, body.indexOf(']'))
      if (inner.isEmpty) Nil
      else inner.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    Commit(
      version = field("version").takeWhile(c => c.isDigit).toLong,
      op = field("op").drop(1).takeWhile(_ != '"'),
      add = strArr(field("add")),
      remove = strArr(field("remove")),
      txn = fieldOpt("txn").map(_.drop(1).takeWhile(_ != '"')),
      schema = fieldOpt("schema").map(_.drop(1).takeWhile(_ != '"')),
      stats = fieldOpt("stats").map(_.drop(1).takeWhile(_ != '"')),
      dv = fieldOpt("dv").map(_.drop(1).takeWhile(_ != '"')),
      sidecars = fieldOpt("sidecars").map(strArr).getOrElse(Nil),
      constraints = fieldOpt("constraints").map(_.drop(1).takeWhile(_ != '"')),
      mapping = fieldOpt("mapping").map(_.drop(1).takeWhile(_ != '"')),
      partcols = fieldOpt("partcols").map(_.drop(1).takeWhile(_ != '"')),
      props = fieldOpt("props").map(_.drop(1).takeWhile(_ != '"')))
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** All commits in version order. A checkpoint (see [[checkpoint]]) is a
    * commit whose `add` is the full live set at its version — replay can
    * start there, so only it plus the tail is parsed. */
  private def commits(f: FileSystem, path: String): Seq[Commit] = {
    val all = allCommits(f, path)
    val lastCk = all.lastIndexWhere(_.op == "checkpoint")
    if (lastCk <= 0) all else all.drop(lastCk)
  }

  /** The FULL physical log, ignoring checkpoint truncation — commit files
    * are never deleted, so pre-checkpoint history stays reconstructible
    * for [[vacuum]]'s retention window. */
  private def allCommits(f: FileSystem, path: String): Seq[Commit] = {
    val dir = new Path(s"$path/$LogDir")
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq
      .filter(_.getPath.getName.endsWith(".json"))
      .sortBy(_.getPath.getName)
      // Memoize the read+parse per commit FILE (r17): replay re-lists
      // the log on every snapshot — that freshness is the multi-writer
      // contract and stays — but a commit file, once published, is
      // immutable (tryCommit is create-if-absent), so re-reading and
      // re-parsing every retained commit on every snapshot made a
      // K-commit workflow pay O(K²) log IO. The key carries the
      // listing's own mtime+length so a path REUSED after a whole-table
      // delete+recreate (the bench's freshStore idiom — the one way a
      // commit path's content can ever change) misses cleanly instead
      // of serving the previous table's line, plus the in-process
      // generation counter (see commitGen) that makes the same-second
      // same-length recreate miss deterministically.
      .map { st =>
        val qp = f.makeQualified(st.getPath).toString
        memo(s"$qp|${genOf(qp)}|${st.getModificationTime}|${st.getLen}", 'j') {
          parse(readText(f, st.getPath))
        }
      }
  }

  private def replay(f: FileSystem, path: String, cs: Seq[Commit]): Snapshot = {
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    val stats = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, ColRange]]
    val dv = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    val dvp = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    var schema: Option[String] = None
    var constraints: Option[String] = None
    var mapping: Option[String] = None
    var partcols: Option[String] = None
    var props: Option[String] = None
    cs.foreach { c =>
      c.remove.foreach { n =>
        live -= n; stats.remove(n): Unit; dv.remove(n): Unit; dvp.remove(n): Unit
      }
      c.add.foreach(n => live += n)
      // stats attach to files LIVE after this commit (historically only
      // ever the commit's own adds; bloom commits also annotate already-
      // live files) and MERGE per column — a bloom landing later must
      // not drop the min/max that rode the append, and vice versa
      c.stats.foreach { b64 =>
        decodeStats(b64).foreach { case (fl, m) =>
          if (live(fl)) stats(fl) = stats.getOrElse(fl, Map.empty[String, ColRange]) ++ m
        }
      }
      // vectors only ever target files live at their commit; concurrent
      // vectors on one file UNION (position marks commute)
      c.dv.foreach(b64 => decodeDv(b64).foreach { case (fl, rows) =>
        if (live(fl)) dv(fl) = (dv.getOrElse(fl, Nil) ++ rows).distinct.sorted
      })
      // sidecar payloads apply under exactly the inline rules (a commit
      // carries a payload inline OR sharded, never both); parquet-dv
      // REFERENCES attach per listed file, and die with the file — a
      // later restore that re-adds the file restates only the refs live
      // at the target version, so retired marks never resurrect
      c.sidecars.foreach { n =>
        val p = readSidecar(f, path, n)
        p.stats.foreach { case (fl, m) =>
          if (live(fl)) stats(fl) = stats.getOrElse(fl, Map.empty[String, ColRange]) ++ m
        }
        p.dv.foreach { case (fl, rows) =>
          if (live(fl)) dv(fl) = (dv.getOrElse(fl, Nil) ++ rows).distinct.sorted
        }
        p.dvParquet.foreach { case (dir, fls) =>
          fls.foreach { fl =>
            if (live(fl)) dvp(fl) = (dvp.getOrElse(fl, Nil) :+ dir).distinct
          }
        }
      }
      if (c.schema.isDefined) schema = c.schema
      if (c.constraints.isDefined) constraints = c.constraints
      if (c.mapping.isDefined) mapping = c.mapping
      if (c.partcols.isDefined) partcols = c.partcols
      if (c.props.isDefined) props = c.props
    }
    val (pairs, retired) = mapping.map(decodeMapping).getOrElse((Nil, Nil))
    Snapshot(
      if (cs.isEmpty) 0L else cs.last.version, live.toSeq,
      schema.map(decodeSchema), stats.toMap, dv.toMap, dvp.toMap,
      constraints.map(decodeConstraints).getOrElse(Nil), pairs, retired,
      partcols.map(decodePartitioning).getOrElse(Nil),
      props.map(decodeConstraints).getOrElse(Nil))
  }

  /** Whether `path` holds a transactional table — its commit log exists
    * with at least one commit. The disambiguator for path-shaped CLI
    * inputs (a literal directory whose last component happens to end in
    * `@v<digits>` is NOT a time-travel spec unless the prefix is a real
    * table). */
  def isTable(spark: SparkSession, path: String): Boolean =
    allCommits(fs(spark, path), path).nonEmpty

  /** Table-establishment guard (CTAS; the [[cloneTable]] rule made
    * reusable): true when `path` does not exist or is an empty
    * directory — creating a table over existing content would mix the
    * new data plane with whatever lived there. */
  def isEmptyLocation(spark: SparkSession, path: String): Boolean = {
    val f = fs(spark, path)
    val p = new Path(path)
    !f.exists(p) || f.listStatus(p).isEmpty
  }

  /** Current snapshot (version 0 = empty table, no log yet). */
  /** The latest committed version — ONE directory listing, zero
    * payload reads or decodes. The streaming source polls this per
    * trigger; a full [[snapshot]] replay here would re-read every
    * retained commit's payloads on every poll (the inline-payload
    * re-read cost the sf100 probe measured). */
  def latestVersion(spark: SparkSession, path: String): Long = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/$LogDir")
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong)
      .foldLeft(0L)(math.max)
  }

  def snapshot(spark: SparkSession, path: String): Snapshot = {
    val f = fs(spark, path)
    replay(f, path, commits(f, path))
  }

  /** Snapshot as of an historical version — time travel. Works for any
    * version in the retained (post-checkpoint) log; the files behind it
    * are guaranteed against [[vacuum]] while the version is within
    * vacuum's `retainVersions` window (see the retention contract
    * there). */
  def snapshotAt(spark: SparkSession, path: String, version: Long): Snapshot = {
    val f = fs(spark, path)
    val all = commits(f, path)
    // a FUTURE version must refuse, not silently read the current state
    // — "VERSION AS OF 99" on a v2 table answering with v2's data would
    // let the user believe they reproduced v99 (Delta raises
    // VersionNotFoundException here too)
    val latest = all.lastOption.fold(0L)(_.version)
    require(version <= latest,
      s"version $version does not exist at $path (latest is v$latest)")
    val cs = all.filter(_.version <= version)
    require(cs.nonEmpty || version == 0, s"version $version predates the retained log at $path")
    replay(f, path, cs)
  }

  /** Commit history, oldest first (op + files per version). */
  def history(spark: SparkSession, path: String): Seq[Commit] =
    commits(fs(spark, path), path)

  /** [[history]] as a DataFrame — the DESCRIBE HISTORY surface: one
    * row per retained commit, timestamped by the commit file's mtime
    * (the same clock [[versionAtTimestamp]] resolves time travel
    * against, so `ts` here is directly usable in a later
    * `TIMESTAMP AS OF`). O(retained commits) metadata lookups, no
    * data IO — the frame is log-scale regardless of table size. */
  def historyFrame(spark: SparkSession, path: String): DataFrame = {
    val f = fs(spark, path)
    val rows = commits(f, path).map { c =>
      (c.version,
        new java.sql.Timestamp(
          f.getFileStatus(logPath(path, c.version)).getModificationTime),
        c.op, c.add.size.toLong, c.remove.size.toLong)
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
          enforceConstraints(
            readFiles(spark, path, snap.files, snap.schema, snap.dv, dvp = snap.dvp,
              mapping = snap.mapping),
            Seq(name -> exprSql), "existing data", path)
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

  /** Table PROPERTIES — Delta's TBLPROPERTIES surface re-derived on the
    * log: free-form (key → value) pairs riding commits latest-wins
    * (like the schema), restated through checkpoints/clones so
    * truncation never loses them, and rewound by restore only if the
    * target's commit chain says so (a restore commit does not restate
    * properties — they are operational metadata, not data state). Keys
    * are case-preserving but case-insensitively unique. One commit per
    * statement — an ALTER with several pairs is atomic. */
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

  private def lc(n: String) = n.toLowerCase(java.util.Locale.ROOT)

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

  // ── writes ─────────────────────────────────────────────────────────

  /** Stage `df` as new immutable data files; returns their names. Staged
    * files are invisible until a commit lists them. */
  /** Stage the frame's partitions as immutable data files and harvest
    * their footer stats — (names, stats payload for the commit). */
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

  private def stage(
      df: DataFrame, path: String, collectStats: Boolean = true,
      partitionBy: Seq[String] = Nil,
      nullCounts: Boolean = true): (Seq[String], Option[String]) = {
    val tmp = s"$path/$DataDir/_stage-${UUID.randomUUID()}"
    val writer = df.write.mode("error")
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)).parquet(tmp)
    val f = fs(df.sparkSession, path)
    val tmpPath = new Path(tmp)
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
    val named = staged.toSeq.map { case (p, dir) =>
      val name = s"$dir${UUID.randomUUID()}.parquet"
      val dst = new Path(s"$path/$DataDir/$name")
      if (dir.nonEmpty) f.mkdirs(dst.getParent)
      require(f.rename(p, dst), s"rename failed for $p")
      name
    }
    f.delete(tmpPath, true)
    (named, if (collectStats) fileStats(f, path, named, nullCounts = nullCounts) else None)
  }

  /** Try to own version `v`; true iff this writer published the commit
    * file — atomically in both existence AND content (see inline). */
  private def tryCommit(f: FileSystem, path: String, c: Commit): Boolean = {
    val p = logPath(path, c.version)
    val bytes = render(c).getBytes(StandardCharsets.UTF_8)
    // Two atomicity requirements at once: EXISTENCE (exactly one of N
    // racing writers may own the version — create-if-absent) and CONTENT
    // (a concurrent reader must never observe a partially-written commit
    // — replay would die on the truncated JSON). A bare exclusive
    // create-then-write gives only the first, so both branches write the
    // full content to a writer-private temp name and then make it appear
    // under the final name in one metadata operation:
    //  - local: hard-link — link(2) fails atomically if the target
    //    exists (POSIX rename would silently overwrite, losing a race
    //    undetectably);
    //  - Hadoop FS: rename — HDFS rename is atomic and returns false if
    //    the destination exists.
    if (f.getScheme == "file") {
      val local = java.nio.file.Paths.get(f.makeQualified(p).toUri)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(s".${local.getFileName}.${UUID.randomUUID()}.tmp")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(local, tmp)
        bumpGen(f, p) // fresh file at this path — retire any memoized parse
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // the tmp vanished under us — a concurrent vacuum reclaimed it as
        // debris. Not a filesystem fault: treat it as a lost race; the
        // retry writes a fresh tmp (and may well win the same version).
        case _: java.nio.file.NoSuchFileException => false
      }
      finally java.nio.file.Files.deleteIfExists(tmp): Unit
    } else {
      val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID()}.tmp")
      val out = f.create(tmp, /* overwrite = */ true)
      try out.write(bytes)
      finally out.close()
      val won =
        try f.rename(tmp, p)
        catch { case _: FileAlreadyExistsException => false }
      if (!won) {
        f.delete(tmp, false)
        // Hadoop's boolean rename conflates "destination exists" (a lost
        // commit race — expected) with every other failure; only the
        // former may be swallowed, or a genuine IO problem would
        // masquerade as 20 lost races and a bogus livelock diagnosis.
        if (!f.exists(p))
          throw new java.io.IOException(
            s"commit rename $tmp -> $p failed but $p does not exist — " +
              "not a lost race; underlying filesystem error")
      }
      if (won) bumpGen(f, p) // fresh file at this path — retire any memoized parse
      won
    }
  }

  /** Have the deletion-vector marks on `inputs` changed between the
    * decided `base` snapshot and the latest one? A delete-dv commit adds
    * and removes NO files, so a rewrite's "inputs still live" check alone
    * would let it pass — and its replacement files, staged reading
    * through BASE's marks, would silently resurrect rows whose vectored
    * delete committed in between (a lost delete, violating
    * write-serializable isolation). Every rewrite op (compact /
    * compactZOrder / delete) re-checks this in its commit attempt;
    * merge is already safe via its strict version check, and
    * dv-AFTER-rewrite ordering is safe because the rewrite's commit
    * removes the marked files (the vanished-file check on the dv side). */
  private def dvDrifted(base: Snapshot, snap: Snapshot, inputs: Seq[String]): Boolean = {
    val in = inputs.toSet
    base.dv.view.filterKeys(in).toMap != snap.dv.view.filterKeys(in).toMap ||
      base.dvp.view.filterKeys(in).toMap != snap.dvp.view.filterKeys(in).toMap
  }

  /** Optimistic-commit loop shared by every write op. `attempt` sees the
    * latest snapshot and returns the [[CommitSpec]] to try at its
    * version + 1, or None to abort as a no-op (e.g. compaction inputs
    * vanished). The spec is decided per attempt so a retry restates it
    * against the freshest snapshot. */
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

  private def commitLoop(
      spark: SparkSession, path: String, op: String, txn: Option[String] = None)(
      attempt: Snapshot => Option[CommitSpec]): Option[Commit] = {
    val f = fs(spark, path)
    var tries = 0
    while (tries < MaxRetries) {
      val snap = replay(f, path, commits(f, path))
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
          if (tryCommit(f, path, c)) return Some(c)
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"$op at $path lost $MaxRetries optimistic-commit races — livelocked table?")
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

  /** Transactional append. Conflicts with nothing: data files are staged
    * once, then the commit retries under contention until a version slot
    * is won. Returns the committed version. If the loop throws (schema
    * drift, livelock) the staged files are deleted rather than orphaned
    * until a vacuum. Hive-style partitioning: pass `partitionBy` on the
    * CREATING append (or any later one, restated identically) — files
    * land under `col=value/` paths, partition values travel in the log
    * names, and [[readWhere]] prunes on them before any stats walk. */
  def append(df: DataFrame, path: String, collectStats: Boolean = true,
      partitionBy: Seq[String] = Nil): Long = {
    val cs = sessionCaseSensitive(df.sparkSession)
    // validate against the CURRENT constraint set before paying the
    // stage write; re-checked per commit attempt below if it drifts
    val pre = snapshot(df.sparkSession, path)
    var checked = pre.constraints
    enforceConstraints(df, checked, "append", path)
    // hive-style partitioning: `partitionBy` names are LOGICAL; the
    // effective list (PHYSICAL names, what stage and the log carry) is
    // fixed at table creation — later appends inherit it (pass Nil) or
    // must restate it identically; re-partitioning an existing table is
    // overwrite's job (mixing flat and partitioned files would break
    // the basePath read).
    val effParts = resolvePartitioning(pre, partitionBy, path)
    if (effParts.nonEmpty) {
      val logNames =
        if (pre.mapping.isEmpty) effParts
        else effParts.map(p => pre.mapping.find(_._2 == p).map(_._1).getOrElse(p))
      val missing = logNames.filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
      require(missing.isEmpty,
        s"append to partitioned table $path: frame lacks partition column(s) " +
          missing.mkString(", "))
    }
    // column-mapping mode: evolve on the LOGICAL level against the
    // pre-snapshot, stage under PHYSICAL names; a concurrent mapping/
    // schema change invalidates the staged names → conflict (mapping
    // changes are rare metadata ops; plain appends stay conflict-free)
    val mapped =
      if (pre.mapping.isEmpty) None
      else Some(evolveMapped(pre, df.schema, cs))
    val (files, stats) =
      stage(mapped.fold(df) { case (_, m2) => toPhysical(df, m2) }, path, collectStats,
        partitionBy = effParts, nullCounts = harvestNullCounts(pre))
    val f = fs(df.sparkSession, path)
    try
      commitLoop(df.sparkSession, path, "append") { snap =>
        if (snap.constraints != checked) {
          // a constraint landed while we were staging — the new gate
          // applies to THIS append too (its commit orders after the
          // constraint's full-table validation)
          enforceConstraints(df, snap.constraints, "append", path)
          checked = snap.constraints
        }
        if (snap.mapping != pre.mapping || snap.retired != pre.retired)
          throw new java.util.ConcurrentModificationException(
            s"append at $path conflicts: column mapping changed while staging — retry")
        if (snap.partitioning != pre.partitioning)
          throw new java.util.ConcurrentModificationException(
            s"append at $path conflicts: table partitioning changed while staging — retry")
        // ESTABLISHING partitioning (empty table at stage time) must still
        // hold at commit time: a concurrent FLAT append leaves
        // snap.partitioning == pre.partitioning (both Nil) but fills
        // snap.files — committing the partitioned batch then would mix
        // flat and hive-pathed live files under one basePath, which Spark
        // rejects as "conflicting directory structures" on every read.
        if (pre.partitioning.isEmpty && effParts.nonEmpty && snap.files.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"append at $path conflicts: a concurrent append filled the table while " +
              "this append was establishing partitioning — retry or overwrite")
        val pc =
          if (effParts != snap.partitioning) Some(encodePartitioning(effParts)) else None
        mapped match {
          case None =>
            Some(CommitSpec(files, Nil,
              Some(encodeSchema(evolve(snap.schema, df.schema, cs))), stats, partcols = pc))
          case Some((physSchema, m2)) =>
            if (snap.schema != pre.schema)
              throw new java.util.ConcurrentModificationException(
                s"append at $path conflicts: schema evolved concurrently under column mapping")
            val mp =
              if (m2 != pre.mapping) Some(encodeMapping(m2, pre.retired)) else None
            Some(CommitSpec(files, Nil, Some(encodeSchema(physSchema)), stats, mapping = mp,
              partcols = pc))
        }
      }.get.version
    catch {
      case e: Throwable =>
        files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
        throw e
    }
  }

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
    val (files, stats) =
      stage(df, path, partitionBy = partitionBy, nullCounts = harvestNullCounts(base))
    val f = fs(df.sparkSession, path)
    try {
      commitLoop(df.sparkSession, path, "overwrite") { snap =>
        if (snap.constraints != checked) { // see append's drift re-check
          enforceConstraints(df, snap.constraints, "overwrite", path)
          checked = snap.constraints
        }
        val vanished = base.files.toSet -- snap.files.toSet
        if (snap.version > base.version && vanished.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"overwrite at $path conflicts: files removed concurrently: " +
              vanished.take(3).mkString(", "))
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
      }.get.version
    } catch {
      case e: Throwable =>
        files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
        throw e
    }
  }

  /** Transactional compaction: rewrite the current file set as `target`
    * files in one commit. Pure physical — the read-back is row-identical.
    * Aborts as a no-op (returning None) if a concurrent commit removed
    * any input file, so it never resurrects overwritten data. */
  def compact(spark: SparkSession, path: String, target: Int = 1): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    val (compacted, cStats) =
      stage(toPhysical(
        readFiles(spark, path, base.files, base.schema, base.dv, dvp = base.dvp,
          mapping = base.mapping).repartition(target),
        base.mapping), path, partitionBy = base.partitioning)
    val f = fs(spark, path)
    val committed = commitLoop(spark, path, "compact") { snap =>
      if (!base.files.forall(snap.files.contains)) None
      // a concurrent delete-dv on an input file would be silently undone
      // by the rewrite (it read through BASE's marks) — abort, same
      // no-op contract as vanished inputs; the caller re-runs compact
      else if (dvDrifted(base, snap, base.files)) None
      // restate the LATEST schema (an append may have evolved it since
      // base — its files stay live, so its columns must stay declared)
      else Some(CommitSpec(compacted, base.files, snap.schema.map(encodeSchema), cStats))
    }
    if (committed.isEmpty)
      compacted.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
    committed.map(_.version)
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
    * is driver-side over file metadata (file-count scale); rows route
    * to their bin via a broadcast map on the probe `__file` leaf, so
    * the data plane is one scoped read + one keyed exchange on the
    * bin id. Deletion vectors on rewritten files materialize (their
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
    val f = fs(spark, path)
    // one recursive listing: relative name -> size (file-count scale)
    val dataDir = new Path(s"$path/$DataDir")
    val dataQ = f.makeQualified(dataDir).toString
    val sizes = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      val it = f.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        m += st.getPath.toString.substring(dataQ.length + 1) -> st.getLen
      }
      m
    }
    def dirKey(fl: String) = if (fl.indexOf('/') < 0) "" else dirOf(fl)
    val candidates = scoped
      .filter(fl => sizes.get(fl).exists(_ < minBytes))
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
    val leafBin = {
      import spark.implicits._
      assignment.map { case (fl, b) => (leafOf(fl), b) }.toDF("__file", "__bin")
    }
    val pre = readFiles(spark, path, inputs, base.schema, base.dv, withFile = true,
      dvp = base.dvp, mapping = base.mapping)
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
    // __file/__row ride in from the withFile probe and must not reach
    // the staged parquet (phantom physical columns).
    val joined = pre
      .join(org.apache.spark.sql.functions.broadcast(leafBin), "__file")
      .drop("__file", "__row")
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
    val (staged, sStats) =
      stage(toPhysical(routed, base.mapping), path, partitionBy = base.partitioning)
    val committed = commitLoop(spark, path, "compact") { snap =>
      if (!inputs.forall(snap.files.contains)) None
      else if (dvDrifted(base, snap, inputs)) None
      else Some(CommitSpec(staged, inputs, snap.schema.map(encodeSchema), sStats))
    }
    if (committed.isEmpty)
      staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
    committed.map(_.version)
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
    val df = readFiles(spark, path, inputs, base.schema, base.dv, dvp = base.dvp,
      mapping = base.mapping)
    require(!df.columns.contains("__z"), "table must not carry the reserved __z column")
    // persisted: the keyed frame feeds both the range-sampling and the
    // write pass (see the s24 lane note). DISK_ONLY (r18): the frame is
    // the full rewrite scope read exactly twice — a deserialized
    // in-memory copy of a large table would fight the range shuffle and
    // the write for executor memory at scale (guide §5).
    val keyed = df.withColumn("__z", Compaction.zOrderKey(df, zCols, bits))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val (staged, zStats) =
      try
        stage(toPhysical(
          keyed.repartitionByRange(target, col("__z")).sortWithinPartitions("__z").drop("__z"),
          base.mapping), path, partitionBy = base.partitioning)
      finally keyed.unpersist(): Unit
    val f = fs(spark, path)
    val committed = commitLoop(spark, path, "optimize-zorder") { snap =>
      if (!inputs.forall(snap.files.contains)) None
      // concurrent delete-dv on an input — see compact
      else if (dvDrifted(base, snap, inputs)) None
      else Some(CommitSpec(staged, inputs, snap.schema.map(encodeSchema), zStats))
    }
    if (committed.isEmpty)
      staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
    committed.map(_.version)
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
      partitionBy: Seq[String] = Nil): Long = {
    require(
      writerId.nonEmpty && !writerId.exists(c => c == '"' || c == '\\' || c == ':'),
      "writerId must be non-empty and free of quotes, backslashes and colons")
    val spark = df.sparkSession
    val f = fs(spark, path)
    val stamp = s"$writerId:$batchId"
    def committed: Option[Long] = commits(f, path).find(_.txn.contains(stamp)).map(_.version)
    committed match {
      case Some(v) => v
      case None =>
        val cs = sessionCaseSensitive(spark)
        val pre = snapshot(spark, path)
        var checked = pre.constraints
        enforceConstraints(df, checked, "appendOnce", path)
        // partitioning: inherit the table's layout (Nil), restate it, or
        // ESTABLISH it on a creating first batch — append's exact rule
        val effParts = resolvePartitioning(pre, partitionBy, path)
        if (effParts.nonEmpty) {
          val logNames =
            if (pre.mapping.isEmpty) effParts
            else effParts.map(p => pre.mapping.find(_._2 == p).map(_._1).getOrElse(p))
          val missing = logNames.filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
          require(missing.isEmpty,
            s"appendOnce to partitioned table $path: frame lacks partition column(s) " +
              missing.mkString(", "))
        }
        val mapped = // see append: logical evolution + physical staging
          if (pre.mapping.isEmpty) None
          else Some(evolveMapped(pre, df.schema, cs))
        val (files, stats) =
          stage(mapped.fold(df) { case (_, m2) => toPhysical(df, m2) }, path, collectStats,
            partitionBy = effParts, nullCounts = harvestNullCounts(pre))
        try
          commitLoop(spark, path, "append", txn = Some(stamp)) { snap =>
            if (committed.isDefined) None
            else {
              if (snap.constraints != checked) { // see append's drift re-check
                enforceConstraints(df, snap.constraints, "appendOnce", path)
                checked = snap.constraints
              }
              if (snap.mapping != pre.mapping || snap.retired != pre.retired)
                throw new java.util.ConcurrentModificationException(
                  s"appendOnce at $path conflicts: column mapping changed while staging")
              if (snap.partitioning != pre.partitioning)
                throw new java.util.ConcurrentModificationException(
                  s"appendOnce at $path conflicts: table partitioning changed while staging")
              // establishing partitioning must not race a concurrent flat
              // fill — see append's identical check
              if (pre.partitioning.isEmpty && effParts.nonEmpty && snap.files.nonEmpty)
                throw new java.util.ConcurrentModificationException(
                  s"appendOnce at $path conflicts: a concurrent append filled the table " +
                    "while this append was establishing partitioning")
              val pc =
                if (effParts != snap.partitioning) Some(encodePartitioning(effParts))
                else None
              mapped match {
                case None =>
                  Some(CommitSpec(files, Nil,
                    Some(encodeSchema(evolve(snap.schema, df.schema, cs))), stats,
                    partcols = pc))
                case Some((physSchema, m2)) =>
                  if (snap.schema != pre.schema)
                    throw new java.util.ConcurrentModificationException(
                      s"appendOnce at $path conflicts: schema evolved concurrently " +
                        "under column mapping")
                  val mp =
                    if (m2 != pre.mapping) Some(encodeMapping(m2, pre.retired)) else None
                  Some(CommitSpec(files, Nil, Some(encodeSchema(physSchema)), stats,
                    mapping = mp, partcols = pc))
              }
            }
          } match {
            case Some(c) => c.version
            case None => // a concurrent delivery of THIS batch won the race
              files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
              committed.get
          }
        catch {
          case e: Throwable =>
            files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
            throw e
        }
    }
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
    val f = fs(spark, path)
    val cs = commits(f, path)
    val snap = replay(f, path, cs)
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
    val added = tail.flatMap(_.add)
    val df =
      if (added.nonEmpty) readFiles(spark, path, added, snap.schema, mapping = snap.mapping)
      else
        // caught up (or the table has no commits yet): an EMPTY delta,
        // never an error — a poll loop must be able to run ahead of the
        // producer. With no schema on the log yet there is nothing to
        // type the frame with, so it is the zero-column empty frame.
        logicalSchema(snap) match {
          case Some(s) =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
          case None => spark.emptyDataFrame
        }
    (snap.version, df)
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
    *  - `delete-dv`: the NEWLY marked positions (this version's mark
    *    frame anti-joined against the previous version's) joined back to
    *    their rows → deletes. Exact, cost = the touched files — row
    *    positions identify the deleted rows without any diff.
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
    val f = fs(spark, path)
    val cs = commits(f, path)
    val snap = replay(f, path, cs)
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
    // disappears — the current-schema contract)
    val readSchema = snap.schema
    val curMap = snap.mapping

    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    // readFiles restricts marks to the read file set itself
    def effective(s0: Snapshot, files: Seq[String]): DataFrame =
      readFiles(spark, path, files, readSchema, s0.dv, dvp = s0.dvp, mapping = curMap)

    val parts: Seq[DataFrame] = tail.flatMap { c =>
      lazy val before = replay(f, path, cs.filter(_.version < c.version))
      lazy val after = replay(f, path, cs.filter(_.version <= c.version))
      c.op match {
        case "append" =>
          if (c.add.isEmpty) Nil
          else Seq(tagged(readFiles(spark, path, c.add, readSchema, mapping = curMap), "insert", c.version))
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
          val touched = dvTouchedFiles(f, path, c).filter(after.files.contains)
          if (touched.isEmpty) Nil
          else {
            val (bdv, bdvp) = restrictMarks(before.dv, before.dvp, touched)
            val beforeMarks = dvMarks(spark, path, bdv, bdvp)
            val (adv, advp) = restrictMarks(after.dv, after.dvp, touched)
            val afterMarks = dvMarks(spark, path, adv, advp)
            require(afterMarks.isDefined, s"delete-dv commit v${c.version} carries no marks")
            val fresh = beforeMarks.map(_._1).fold(afterMarks.get._1)(b =>
              afterMarks.get._1.join(b, Seq("__file", "__row"), "left_anti"))
            val rows = readFiles(spark, path, touched, readSchema, withFile = true, mapping = curMap)
              .join(fresh, Seq("__file", "__row"))
              .drop("__file", "__row")
            Seq(tagged(rows, "delete", c.version))
          }
        case "delete" =>
          if (c.remove.isEmpty) Nil
          else {
            val old = effective(before, c.remove)
            val gone =
              if (c.add.isEmpty) old
              else old.exceptAll(readFiles(spark, path, c.add, readSchema, mapping = curMap))
            Seq(tagged(gone, "delete", c.version))
          }
        // replace-where and update derive like merge: removed files'
        // rows delete, staged rows insert, identical rows cancel (an
        // update wave's untouched rows in a rewritten file, or a
        // restatement re-landing a row unchanged, are not changes)
        case "merge" | "replace-where" | "update" =>
          val old = if (c.remove.isEmpty) None else Some(effective(before, c.remove))
          val neu =
            if (c.add.isEmpty) None else Some(readFiles(spark, path, c.add, readSchema, mapping = curMap))
          val dels = old.map(o => tagged(neu.fold(o)(o.exceptAll), "delete", c.version))
          val ins = neu.map(n => tagged(old.fold(n)(n.exceptAll), "insert", c.version))
          dels.toSeq ++ ins.toSeq
        case "overwrite" =>
          val dels =
            if (before.files.isEmpty) Nil
            else Seq(tagged(effective(before, before.files), "delete", c.version))
          val ins =
            if (c.add.isEmpty) Nil
            else Seq(tagged(readFiles(spark, path, c.add, readSchema, mapping = curMap), "insert", c.version))
          dels ++ ins
        // a clone's (or convert's) creating commit restates existing
        // data into a fresh table: its adds are inserts, read through
        // the commit's own restated DV marks (none for convert)
        case "clone" | "convert" =>
          if (c.add.isEmpty) Nil
          else Seq(tagged(effective(after, c.add), "insert", c.version))
        case "restore" =>
          val b = if (before.files.isEmpty) None else Some(effective(before, before.files))
          val a = if (after.files.isEmpty) None else Some(effective(after, after.files))
          val dels = b.map(bf => tagged(a.fold(bf)(bf.exceptAll), "delete", c.version))
          val ins = a.map(af => tagged(b.fold(af)(af.exceptAll), "insert", c.version))
          dels.toSeq ++ ins.toSeq
        case other =>
          throw new IllegalStateException(
            s"row-level CDC cannot derive changes for op '$other' at v${c.version}")
      }
    }

    val df = parts match {
      case Nil =>
        val base = logicalSchema(snap) match {
          case Some(s) =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
          case None => spark.emptyDataFrame
        }
        tagged(base, "insert", snap.version)
      case ps => ps.reduce(_.unionByName(_))
    }
    (snap.version, df)
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
      val vanished = removed.filterNot(snap.files.contains)
      if (vanished.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"partition delete at $path conflicts: files removed concurrently: " +
            vanished.take(3).mkString(", "))
      Some(CommitSpec(Nil, removed, snap.schema.map(encodeSchema)))
    }
    Some(committed.map(_.version))
  }

  /** Directory (relative, `col=value[/…]`) of a partitioned data file. */
  private def dirOf(f: String) = f.substring(0, f.lastIndexOf('/'))

  /** Evaluate a predicate against the live PARTITION DIRECTORIES of
    * `base`: Some(matching dir set) when the table is partitioned and
    * the predicate is deterministic and references partition columns
    * exclusively — then its value is a constant per directory and the
    * decision runs on a partitions-count local frame (metadata class),
    * never the data. None when that evaluation does not apply and
    * per-row semantics are required. Shared by the partition-delete
    * fast path and [[replaceWhere]]. */
  private def partitionDirsMatching(
      spark: SparkSession, base: Snapshot,
      predicate: Column): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    if (base.partitioning.isEmpty) return None
    // logical names (what the predicate speaks) per physical partition col
    val logicalOf: Map[String, String] = base.partitioning.map { p =>
      lc(p) -> (if (base.mapping.isEmpty) p
                else base.mapping.find(_._2 == p).map(_._1).getOrElse(p))
    }.toMap
    val partLc = logicalOf.values.map(lc).toSet
    val expr = org.apache.spark.sql.graft.ColumnBridge.expression(predicate)
    val attrs = expr.collect {
      case u: UnresolvedAttribute => lc(u.nameParts.last)
      case a: AttributeReference => lc(a.name)
    }
    // attrs must be non-empty (a constant predicate may be row-dependent
    // through non-determinism — rand() — which per-file evaluation would
    // silently change; the general path keeps exact semantics there)
    if (attrs.isEmpty || !attrs.forall(partLc)) return None
    val logicalNames = base.partitioning.map(p => logicalOf(lc(p)))
    val types = logicalSchema(base).get.fields
      .map(f => lc(f.name) -> f.dataType).toMap
    val dirs = base.files.map(dirOf).distinct
    val rows = dirs.map { d =>
      val vals: Map[String, String] = d.split('/').iterator.flatMap { seg =>
        val eq = seg.indexOf('=')
        if (eq <= 0) None
        else {
          val v = unescapePathName(seg.substring(eq + 1))
          if (v == "__HIVE_DEFAULT_PARTITION__") None
          else Some(lc(unescapePathName(seg.substring(0, eq))) -> v)
        }
      }.toMap
      org.apache.spark.sql.Row.fromSeq(
        d +: base.partitioning.map(p => vals.get(lc(p)).orNull))
    }
    val schema = StructType(StructField("__dir", StringType) +:
      logicalNames.map(n => StructField(n, StringType)))
    val typed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .select(col("__dir") +: logicalNames.map(n =>
        col(n).cast(types(lc(n))).as(n)): _*)
    val filtered = typed.filter(predicate <=> lit(true))
    // A MIXED predicate (partition attrs AND a nondeterministic term,
    // e.g. p === 1 && rand() < 0.5) must fall through too: here the
    // coin would flip once per partition DIRECTORY, deleting or keeping
    // whole partitions where the copy-on-write path flips it per row.
    // Nondeterminism is judged on the RESOLVED condition — the analyzer
    // attaches each function's own deterministic flag — never a name
    // blocklist: SQL-parsed text arrives as UnresolvedFunction (whose
    // default deterministic is TRUE), and a UDF registered
    // .asNondeterministic() has no name any list could know. A
    // predicate this metadata frame cannot resolve at all falls through
    // to the per-row path, which surfaces the same analysis error on
    // the data itself.
    val resolvedCond =
      try filtered.queryExecution.analyzed.collectFirst {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl.condition
      }
      catch { case _: org.apache.spark.sql.AnalysisException => return None }
    if (!resolvedCond.forall(_.deterministic)) return None
    Some(filtered.select("__dir").collect().map(_.getString(0)).toSet)
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
    val cs = sessionCaseSensitive(spark)
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
    var checked = pre.constraints
    enforceConstraints(df, checked, "replace-where", path)
    val logNames =
      if (pre.mapping.isEmpty) pre.partitioning
      else pre.partitioning.map(p => pre.mapping.find(_._2 == p).map(_._1).getOrElse(p))
    val missing = logNames.filterNot(n => df.columns.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty,
      s"replaceWhere at $path: frame lacks partition column(s) ${missing.mkString(", ")}")
    val mapped =
      if (pre.mapping.isEmpty) None
      else Some(evolveMapped(pre, df.schema, cs))
    val (files, stats) =
      stage(mapped.fold(df) { case (_, m2) => toPhysical(df, m2) }, path,
        collectStats = true, partitionBy = pre.partitioning)
    val f = fs(spark, path)
    try
      commitLoop(spark, path, "replace-where") { snap =>
        if (snap.constraints != checked) { // see append's drift re-check
          enforceConstraints(df, snap.constraints, "replace-where", path)
          checked = snap.constraints
        }
        if (snap.mapping != pre.mapping || snap.retired != pre.retired)
          throw new java.util.ConcurrentModificationException(
            s"replaceWhere at $path conflicts: column mapping changed while staging")
        if (snap.partitioning != pre.partitioning)
          throw new java.util.ConcurrentModificationException(
            s"replaceWhere at $path conflicts: table partitioning changed while staging")
        // matching dirs re-resolved against THIS snapshot: a racing
        // append's rows in a matching partition are replaced (overwrite
        // semantics), in an unmatched partition they survive untouched
        val matched = partitionDirsMatching(spark, snap, predicate).getOrElse(
          throw new java.util.ConcurrentModificationException(
            s"replaceWhere at $path conflicts: partitioning vanished while staging"))
        val removed = snap.files.filter(fl => matched(dirOf(fl)))
        mapped match {
          case None =>
            Some(CommitSpec(files, removed,
              Some(encodeSchema(evolve(snap.schema, df.schema, cs))), stats))
          case Some((physSchema, m2)) =>
            if (snap.schema != pre.schema)
              throw new java.util.ConcurrentModificationException(
                s"replaceWhere at $path conflicts: schema evolved concurrently under column mapping")
            val mp =
              if (m2 != pre.mapping) Some(encodeMapping(m2, pre.retired)) else None
            Some(CommitSpec(files, removed, Some(encodeSchema(physSchema)), stats,
              mapping = mp))
        }
      }.get.version
      catch {
        case e: Throwable =>
          files.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
          throw e
      }
    } finally { if (ownPersist) df.unpersist(): Unit }
  }

  /** Remove every live file in ONE metadata commit — the native v2
    * `DELETE FROM t` with no (or an always-true) condition, and
    * `TRUNCATE TABLE`. Schema, layout, constraints and properties
    * survive; time travel still reads the data; CDC derives the wave as
    * deletes (op "delete"). None = the table was already empty. */
  def truncate(spark: SparkSession, path: String): Option[Long] =
    commitLoop(spark, path, "delete") { snap =>
      if (snap.files.isEmpty) None
      else Some(CommitSpec(Nil, snap.files, snap.schema.map(encodeSchema)))
    }.map(_.version)

  /** Can [[deletePartitions]] execute `predicate` purely from partition
    * metadata? The planning half of the native v2 DELETE contract
    * (`SupportsDelete.canDeleteWhere`): true only when the predicate
    * decides per partition DIRECTORY — deterministic, references
    * partition columns exclusively, on a partitioned table. A true here
    * is a promise the execution keeps with zero data IO. */
  def canPartitionDelete(spark: SparkSession, path: String, predicate: Column): Boolean = {
    val base = snapshot(spark, path)
    base.files.isEmpty || partitionDirsMatching(spark, base, predicate).isDefined
  }

  /** Metadata-only DELETE, or a LOUD refusal — never copy-on-write:
    * the native v2 DELETE's execution half. [[canPartitionDelete]] said
    * yes at planning; silently falling back to a rewrite here would
    * turn a promised O(metadata) drop into a data-plane job. Use
    * [[delete]] for general predicates (its partition fast path is this
    * same walk; past it, copy-on-write applies). */
  def deletePartitions(spark: SparkSession, path: String, predicate: Column): Option[Long] = {
    val base = snapshot(spark, path)
    if (base.files.isEmpty) return None
    partitionOnlyDelete(spark, path, base, predicate).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE at $path: the predicate does not decide per partition directory — " +
          "a row-level delete must rewrite data; use TxStore.delete / SQL DML on the " +
          "tx view for the copy-on-write path"))
  }

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
    val fullName = byLeaf(base.files) // probe __file is the leaf name
    val hit = readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
      dvp = base.dvp, mapping = base.mapping)
      .filter(predicate)
      .select(col("__file"))
      .distinct()
      .collect()
      .map(r => fullName(r.getString(0)))
      .toSeq
    if (hit.isEmpty) return None
    // reading THROUGH the vectors: the rewrite also materializes any
    // deletion vectors on the hit files (their marks die with the files)
    val kept =
      readFiles(spark, path, hit, base.schema, base.dv, dvp = base.dvp, mapping = base.mapping)
        .filter(not(predicate <=> lit(true)))
    val (staged, dStats) =
      stage(toPhysical(kept, base.mapping), path, partitionBy = base.partitioning)
    val f = fs(spark, path)
    try
      commitLoop(spark, path, "delete") { snap =>
        val vanished = hit.filterNot(snap.files.contains)
        if (vanished.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"delete at $path conflicts: rewrite inputs removed concurrently: " +
              vanished.take(3).mkString(", "))
        // a delete-dv that landed on a hit file after the probe: the
        // staged rewrite read through BASE's marks and would resurrect
        // the concurrently-deleted rows — loud conflict, caller retries
        if (dvDrifted(base, snap, hit))
          throw new java.util.ConcurrentModificationException(
            s"delete at $path conflicts: deletion vectors advanced on rewrite " +
              "inputs after the probe")
        Some(CommitSpec(staged, hit, snap.schema.map(encodeSchema), dStats))
      }.map(_.version)
    catch {
      case e: Throwable =>
        staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
        throw e
    }
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
    val fullName = byLeaf(base.files) // probe __file is the leaf name
    val hit = readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
      dvp = base.dvp, mapping = base.mapping)
      .filter(predicate)
      .select(col("__file"))
      .distinct()
      .collect()
      .map(r => fullName(r.getString(0)))
      .toSeq
    if (hit.isEmpty) return None
    val cur = readFiles(spark, path, hit, base.schema, base.dv, dvp = base.dvp, mapping = base.mapping)
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
    val (staged, uStats) =
      stage(toPhysical(updated, base.mapping), path, partitionBy = base.partitioning)
    val f = fs(spark, path)
    try
      commitLoop(spark, path, "update") { snap =>
        if (snap.constraints != base.constraints)
          throw new java.util.ConcurrentModificationException(
            s"update at $path conflicts: constraints changed after validation")
        val vanished = hit.filterNot(snap.files.contains)
        if (vanished.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"update at $path conflicts: rewrite inputs removed concurrently: " +
              vanished.take(3).mkString(", "))
        if (dvDrifted(base, snap, hit))
          throw new java.util.ConcurrentModificationException(
            s"update at $path conflicts: deletion vectors advanced on rewrite " +
              "inputs after the probe")
        Some(CommitSpec(staged, hit, snap.schema.map(encodeSchema), uStats))
      }.map(_.version)
    catch {
      case e: Throwable =>
        staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
        throw e
    }
  }

  /** Merge-on-read DELETE via DELETION VECTORS — the selective-delete
    * path where [[delete]]'s copy-on-write is the wrong trade: removing
    * three rows from a 1 GB file should cost one tiny log entry, not a
    * 1 GB rewrite. The probe finds matching (file, row position) pairs
    * through the scan's `_metadata.row_index`; the commit marks them
    * deleted; every read path anti-joins the marks out (readFiles).
    * Rewrites RETIRE vectors — compact/delete/merge read through them
    * and their replacement files carry none — so vectors never outlive
    * the files they annotate, and a periodic compact bounds read-side
    * anti-join work exactly as in Delta's DV design.
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
    val hits = readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
      dvp = base.dvp, mapping = base.mapping)
      .filter(predicate <=> lit(true))
      .select(col("__file"), col("__row"))
      .collect()
    if (hits.isEmpty) return None
    require(hits.length <= maxDvRows,
      s"deleteVectored matched ${hits.length} rows (> maxDvRows = $maxDvRows) — " +
        "a delete this bulky should not collect to the driver: use " +
        "deleteVectoredBulk() (distributed vectors) or delete() (copy-on-write)")
    val fullName = byLeaf(base.files) // probe __file is the leaf name
    val marks: Map[String, Seq[Long]] =
      hits.groupBy(r => fullName(r.getString(0)))
        .view.mapValues(_.map(_.getLong(1)).toSeq.sorted).toMap
    val f = fs(spark, path)
    // the marks don't depend on the snapshot — one sidecar serves every
    // commit attempt; deleted if the loop throws (vacuum catches a crash)
    val sc = if (hits.length > inlineDvRows) Seq(writeSidecar(f, path, Map.empty, marks)) else Nil
    try
      commitLoop(spark, path, "delete-dv") { snap =>
        val vanished = marks.keys.filterNot(snap.files.contains)
        if (vanished.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"delete-dv at $path conflicts: marked files removed concurrently: " +
              vanished.take(3).mkString(", "))
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
    * never opens the parquet. Reads union the dir into the same
    * (file, row) anti-join as inline marks, restricted per the ref map
    * (so marks retired by a rewrite can never re-apply to a
    * restore-re-added file). This is the Delta production DV shape:
    * vector payloads are data-plane files, the log carries references.
    *
    * Trade vs [[deleteVectored]]: a billion-mark delete costs one
    * distributed parquet write and a file-level collect of the touched
    * file NAMES; the read-side anti-join is no longer a guaranteed
    * broadcast (AQE decides from the marks' actual size). For
    * small/selective deletes the inline path remains the better plan —
    * one log line, broadcast anti-join, no extra file IO per read.
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
    readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
      dvp = base.dvp, mapping = base.mapping)
      .filter(predicate <=> lit(true))
      .select(col("__file"), col("__row"))
      .write.parquet(dirPath.toString)
    // file-LEVEL collect: which data files carry marks (bounded by the
    // snapshot's file count, never by row count)
    val fullName = byLeaf(base.files) // the parquet marks carry leaf names
    val marked = spark.read.schema("__file STRING, __row BIGINT").parquet(dirPath.toString)
      .select("__file").distinct().collect().map(r => fullName(r.getString(0))).toSeq.sorted
    if (marked.isEmpty) {
      f.delete(dirPath, true)
      return None
    }
    val sc = writeSidecar(f, path, Map.empty, Map.empty, Seq(dir -> marked))
    try
      commitLoop(spark, path, "delete-dv") { snap =>
        val vanished = marked.filterNot(snap.files.contains)
        if (vanished.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"delete-dv at $path conflicts: marked files removed concurrently: " +
              vanished.take(3).mkString(", "))
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
    * matching key (the file identity is captured AT the scan via
    * `_metadata.file_name` — see readFiles — so it survives the join),
    * then only those files are rewritten, anti-joined against the
    * update keys, with `updates` unioned in.
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
    mergeImpl(spark, path, updates, keys, txn = None, collectStats)

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
      collectStats: Boolean = true): Long = {
    require(
      writerId.nonEmpty && !writerId.exists(c => c == '"' || c == '\\' || c == ':'),
      "writerId must be non-empty and free of quotes, backslashes and colons")
    val stamp = s"$writerId:$batchId"
    def committed: Option[Long] =
      commits(fs(spark, path), path).find(_.txn.contains(stamp)).map(_.version)
    committed.getOrElse {
      try mergeImpl(spark, path, updates, keys, Some(stamp), collectStats)
      catch {
        case e: java.util.ConcurrentModificationException =>
          committed.getOrElse(throw e)
      }
    }
  }

  private def mergeImpl(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      txn: Option[String],
      collectStats: Boolean = true): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    require(!updates.columns.contains("__f"), "updates must not carry the reserved __f column")
    val base = snapshot(spark, path)
    val keyCols = keys.map(col)
    // The merge runs several actions over `updates` (validation counts,
    // the file probe, the rewrite union, the stage write) — persist it
    // for the duration or an expensive upstream plan (a delta rollup, a
    // stateful micro-batch) recomputes per action. Row count and
    // per-key uniqueness come from ONE aggregate job, not two.
    updates.persist()
    try {
      mergeBody(spark, path, updates, keys, keyCols, base, txn, collectStats)
    } finally updates.unpersist(): Unit
  }

  private def mergeBody(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      keyCols: Seq[Column],
      base: Snapshot,
      txn: Option[String],
      collectStats: Boolean): Long = {
    val counts = updates
      .agg(count(lit(1)).as("n"), count_distinct(struct(keyCols: _*)).as("k"))
      .head()
    val nUpdates = counts.getLong(0)
    if (nUpdates == 0) return base.version
    val distinctKeys = updates.select(keyCols: _*).distinct()
    require(
      counts.getLong(1) == nUpdates,
      s"updates must be unique per key (${keys.mkString(", ")}) — ambiguous winners")
    // every new row value comes from `updates`; merge's serializable
    // version check conflicts on any concurrent constraint commit, so
    // one validation against the decided snapshot suffices
    enforceConstraints(updates, base.constraints, "merge", path)
    val hit =
      if (base.files.isEmpty) Nil
      else {
        val cur =
          readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
            dvp = base.dvp, mapping = base.mapping)
        val fullName = byLeaf(base.files) // probe __file is the leaf name
        cur
          .join(distinctKeys, keys, "left_semi")
          .select("__file")
          .distinct()
          .collect()
          .map(r => fullName(r.getString(0)))
          .toSeq
      }
    // updates are FULL rows (they must carry every table column — a
    // missing column would silently null existing data) but may ADD
    // columns, evolving the schema like append does; kept rows read the
    // new columns as NULL through allowMissingColumns. Under column
    // mapping the evolution runs on the LOGICAL level (evolveMapped) and
    // the commit carries the extended mapping; merge's serializable
    // version check covers any concurrent mapping change.
    val cs = sessionCaseSensitive(spark)
    val (evolved, m2) =
      if (base.mapping.isEmpty) (evolve(base.schema, updates.schema, cs), base.mapping)
      else evolveMapped(base, updates.schema, cs)
    logicalSchema(base).foreach { t =>
      val missing = t.fieldNames.filterNot(updates.columns.contains)
      require(
        missing.isEmpty,
        s"updates must carry every table column (full-row upsert); missing: " +
          missing.mkString(", "))
    }
    val kept =
      if (hit.isEmpty) None
      else Some(
        readFiles(spark, path, hit, base.schema, base.dv, dvp = base.dvp, mapping = base.mapping)
          .join(distinctKeys, keys, "left_anti"))
    val out = kept.fold(updates)(_.unionByName(updates, allowMissingColumns = true))
    val (staged, mStats) =
      stage(toPhysical(out, m2), path, collectStats, partitionBy = base.partitioning)
    val f = fs(spark, path)
    try
      commitLoop(spark, path, "merge", txn = txn) { snap =>
        if (snap.version != base.version)
          throw new java.util.ConcurrentModificationException(
            s"merge at $path conflicts: table advanced from v${base.version} " +
              s"to v${snap.version} after the probe")
        val mp = if (m2 != base.mapping) Some(encodeMapping(m2, base.retired)) else None
        Some(CommitSpec(staged, hit, Some(encodeSchema(evolved)), mStats, mapping = mp))
      }.get.version
    catch {
      case e: Throwable =>
        staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
        throw e
    }
  }

  // ── general MERGE (ordered WHEN clauses) ───────────────────────────

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
    import MergeClause._
    require(keys.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    require(!updates.columns.contains("__m"), "updates must not carry the reserved __m column")
    require(!updates.columns.contains("__act"), "updates must not carry the reserved __act column")
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
    require(!tgtFields.fieldNames.contains("__act"),
      "the table must not carry the reserved __act column")
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
      // logical-level evolution under column mapping — see mergeBody
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
        else
          readFiles(spark, path, base.files, base.schema, base.dv, withFile = true,
            dvp = base.dvp, mapping = base.mapping)
            .join(distinctKeys, keys, "left_semi")
            .select("__file").distinct().collect()
            .map(r => byLeaf(base.files)(r.getString(0))).toSeq
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
          else pruneSnapFiles(base, org.apache.spark.sql.graft.ColumnBridge
            .expression(conds.flatten.reduce(_ || _)))._1
        }
      val hit = (keyHit ++ bySourceHit).distinct
      val srcCols = updates.columns.toSeq
      val src = updates.withColumn("__m", lit(true)).alias("s")
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
          val dispatched = anti.withColumn("__act", iact)
          insertCl.zipWithIndex.map { case (c, i) =>
            val rows = dispatched.filter(col("__act") === i)
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
          val cur = readFiles(spark, path, hit, base.schema, base.dv,
            dvp = base.dvp, mapping = base.mapping)
          val tgtCols = cur.columns.toSeq
          val tgt = cur.alias("t")
          val keyEq = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
          val joined = tgt.join(src, keyEq, "left")
          val matched = coalesce(col("__m"), lit(false))
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
          val dispatched = joined.withColumn("__act", act)
          val kept = dispatched.filter(col("__act") === -1)
            .select(tgtCols.map(n => col(s"t.$n")): _*)
          val updatedFrames: Seq[DataFrame] =
            matchedCl.zipWithIndex.collect {
              case (MatchedUpdate(_, set), i) =>
                val rows = dispatched.filter(col("__act") === i)
                set match {
                  case None => rows.select(srcCols.map(n => col(s"s.$n")): _*)
                  case Some(s0) => setProjection(rows, s0, tgtCols)
                }
            } ++ bySourceCl.zipWithIndex.collect {
              case (NotMatchedBySourceUpdate(_, s0), j) =>
                setProjection(dispatched.filter(col("__act") === (1000 + j)), s0, tgtCols)
            }
          // deletes: their rows simply land in no output frame.
          // The anti-join for inserts runs against the HIT-file content
          // only — sufficient, because by construction every current
          // row sharing a key with `updates` lives in a keyHit file.
          val anti = src.join(cur.select(keys.map(col): _*).distinct(), keys, "left_anti")
          (Some(kept), updatedFrames ++ insertFrames(anti))
        }
      val newValues =
        newValueFrames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      // a merge that matched NOTHING anywhere — no hit file, and no
      // source row surviving an insert clause — writes NO commit (the
      // delete/update None contract), never an empty version
      if (keptRows.isEmpty && newValues.forall(_.isEmpty)) return None
      // gate only rows that LAND with new values (kept rows are valid
      // by the live-table invariant; guarded-away rows never materialize)
      newValues.foreach(nv => enforceConstraints(nv, base.constraints, "merge", path))
      val out = (keptRows.toSeq ++ newValueFrames)
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse(updates.limit(0))
      val (staged, mStats) =
        stage(toPhysical(out, m2), path, collectStats, partitionBy = base.partitioning)
      val f = fs(spark, path)
      try
        Some(commitLoop(spark, path, "merge", txn) { snap =>
          if (snap.version != base.version)
            throw new java.util.ConcurrentModificationException(
              s"merge at $path conflicts: table advanced from " +
                s"v${base.version} to v${snap.version} after the probe")
          val mp = if (m2 != base.mapping) Some(encodeMapping(m2, base.retired)) else None
          Some(CommitSpec(staged, hit, evolvedOpt.map(encodeSchema), mStats, mapping = mp))
        }.get.version)
      catch {
        case e: Throwable =>
          staged.foreach(n => f.delete(new Path(s"$path/$DataDir/$n"), false))
          throw e
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
    import MergeClause._
    val clauses = Seq(
      matchedDelete.map(c => MatchedDelete(Some(c))),
      matchedUpdate.map(c => MatchedUpdate(Some(c), None)),
      notMatchedInsert.map(c => NotMatchedInsert(Some(c), None))).flatten
    // the historical contract: a no-op answers the CURRENT version
    mergeClauses(spark, path, updates, keys, clauses, collectStats, txn)
      .getOrElse(snapshot(spark, path).version)
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
      collectStats: Boolean = true): Long = {
    require(
      writerId.nonEmpty && !writerId.exists(c => c == '"' || c == '\\' || c == ':'),
      "writerId must be non-empty and free of quotes, backslashes and colons")
    val stamp = s"$writerId:$batchId"
    def committed: Option[Long] =
      commits(fs(spark, path), path).find(_.txn.contains(stamp)).map(_.version)
    committed.getOrElse {
      try mergeConditional(spark, path, updates, keys, matchedUpdate, matchedDelete,
        notMatchedInsert, collectStats, Some(stamp))
      catch {
        case e: java.util.ConcurrentModificationException =>
          committed.getOrElse(throw e)
      }
    }
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
    * sidecars of a lost attempt. Shared by [[checkpoint]] and
    * [[cloneTable]]. */
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
    require(!destF.exists(new Path(s"$dest/$LogDir")),
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
    val f = fs(spark, path)
    val cs = commits(f, path)
    require(cs.nonEmpty, s"no transaction log at $path")
    val at = cs.filter(c =>
      f.getFileStatus(logPath(path, c.version)).getModificationTime <= tsMillis)
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

  // ── reads ──────────────────────────────────────────────────────────

  /** The log schema (when present) is APPLIED, never inferred from
    * footers: files predating an added column read it as NULL, and the
    * reader costs zero metadata IO regardless of file count. Logs
    * written before schema tracking fall back to footer inference.
    *
    * Deletion vectors apply HERE, so every read path (current,
    * time-travel, stats-pruned, rewrite inputs) sees them: rows whose
    * (file, row position) is marked deleted are anti-joined out via
    * the scan's `_metadata.row_index` (position identity is the
    * parquet row order, stable under pushdown — probed in
    * TxStoreSpec). `withFile` keeps a `__file` column (the bare data
    * file name) for the copy-on-write probes — `_metadata.file_name`
    * is captured AT the scan, so unlike `input_file_name()` it
    * survives the anti-join. */
  /** A snapshot's deletion-vector state restricted to `files`: the
    * inline (file → positions) map, and the parquet-vector dirs each
    * restricted to the files its refs still cover (a dir may also hold
    * marks for files since removed — or removed-then-restored, where
    * the marks must NOT re-apply; the ref map is the source of truth,
    * the parquet is just position storage). */
  private def restrictMarks(
      dv: Map[String, Seq[Long]],
      dvp: Map[String, Seq[String]],
      files: Seq[String]): (Map[String, Seq[Long]], Map[String, Seq[String]]) = {
    val fileSet = files.toSet
    val relevant = dv.view.filterKeys(fileSet).toMap
    val relevantP: Map[String, Seq[String]] = {
      val byDir = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
      dvp.foreach { case (fl, dirs) =>
        if (fileSet(fl)) dirs.foreach(d => byDir(d) = fl :: byDir.getOrElse(d, Nil))
      }
      byDir.view.mapValues(_.reverse: Seq[String]).toMap
    }
    (relevant, relevantP)
  }

  /** Materialize [[restrictMarks]]' output as one (__file, __row) frame
    * — inline marks from the log, parquet marks from their sidecar dirs
    * — or None when there are no marks. The flag reports whether every
    * mark is inline (log-sized, safe to broadcast unconditionally). */
  private def dvMarks(
      spark: SparkSession,
      path: String,
      inline: Map[String, Seq[Long]],
      parquetDirs: Map[String, Seq[String]]): Option[(DataFrame, Boolean)] =
    if (inline.isEmpty && parquetDirs.isEmpty) None
    else {
      import spark.implicits._
      // the anti-join's probe column (`_metadata.file_name`) is the bare
      // LEAF name, so marks keyed by full partitioned names project to
      // their leaf here (leaf names are staged UUIDs — injective)
      val inlineDf =
        if (inline.isEmpty) None
        else Some(inline.toSeq
          .flatMap { case (f, rows) => rows.map(r => (leafOf(f), r)) }
          .toDF("__file", "__row"))
      val parquetMarks = parquetDirs.toSeq.map { case (dir, applicable) =>
        spark.read
          .schema("__file STRING, __row BIGINT")
          .parquet(sidecarPath(path, dir).toString)
          .filter(col("__file").isin(applicable.map(leafOf): _*))
      }
      Some(((inlineDf.toSeq ++ parquetMarks).reduce(_ unionByName _), parquetDirs.isEmpty))
    }

  private def readFiles(
      spark: SparkSession,
      path: String,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      dv: Map[String, Seq[Long]] = Map.empty,
      withFile: Boolean = false,
      dvp: Map[String, Seq[String]] = Map.empty,
      mapping: Seq[(String, String)] = Nil): DataFrame = {
    require(files.nonEmpty, s"empty snapshot at $path")
    // hive-partitioned file names carry col=value/ segments; basePath
    // makes the scan parse the partition values back out of the path
    // (typed by the user schema), exactly like a directory read would
    val partitioned = files.exists(_.indexOf('/') >= 0)
    val rdr = schema.fold(spark.read)(s => spark.read.schema(s))
    val reader = if (partitioned) rdr.option("basePath", s"$path/$DataDir") else rdr
    val base = reader.parquet(files.map(n => s"$path/$DataDir/$n"): _*)
    // the scan surfaces path-derived partition columns LAST regardless
    // of the declared schema order — readers see the LOG's order
    def ordered(d: DataFrame): DataFrame =
      if (!partitioned) d
      else schema.fold(d)(s => d.select(s.fieldNames.toSeq.map(col): _*))
    val (relevant, relevantP) = restrictMarks(dv, dvp, files)
    val physical =
      if (relevant.isEmpty && relevantP.isEmpty && !withFile) ordered(base)
      else {
        require(!base.columns.contains("__file") && !base.columns.contains("__row"),
          "table must not carry the reserved __file/__row columns")
        val dataCols = schema.fold(base.columns.toSeq)(_.fieldNames.toSeq).map(col)
        val withMeta = base.select(dataCols ++ Seq(
          col("_metadata.file_name").as("__file"),
          col("_metadata.row_index").as("__row")): _*)
        val filtered = dvMarks(spark, path, relevant, relevantP) match {
          case None => withMeta
          case Some((marks, inlineOnly)) =>
            // inline-only marks are log-sized — broadcast unconditionally
            // (the historical plan); once executor-written parquet marks
            // are in play their size is data-dependent, so leave the
            // strategy to AQE
            val marksSide =
              if (inlineOnly) org.apache.spark.sql.functions.broadcast(marks) else marks
            withMeta.join(marksSide, Seq("__file", "__row"), "left_anti")
        }
        // withFile keeps BOTH meta columns — the DV probe needs the row
        // position; the copy-on-write probes just ignore it
        if (withFile) filtered else filtered.drop("__row", "__file")
      }
    // column mapping: project physical → logical (a dropped column is
    // simply not selected); a pure projection, so pushdown/pruning of
    // the physical scan is unaffected
    if (mapping.isEmpty) physical
    else {
      val metaCols = if (withFile) Seq(col("__file"), col("__row")) else Nil
      physical.select(mapping.map { case (l, p) => col(p).as(l) } ++ metaCols: _*)
    }
  }

  /** Read the current snapshot. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val snap = snapshot(spark, path)
    readFiles(spark, path, snap.files, snap.schema, snap.dv, dvp = snap.dvp,
      mapping = snap.mapping)
  }

  /** Read an historical snapshot — time travel, with the schema AS OF
    * that version (a later-added column does not haunt the past). */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val snap = snapshotAt(spark, path, version)
    readFiles(spark, path, snap.files, snap.schema, snap.dv, dvp = snap.dvp,
      mapping = snap.mapping)
  }

  // ── data skipping (stats-pruned reads) ─────────────────────────────

  /** Can a row of a file with these column ranges POSSIBLY satisfy
    * `e`? Sound, not complete: unsupported expression shapes and
    * missing stats answer true (keep the file); only a comparison the
    * ranges REFUTE answers false. Supported: And/Or over {=, <, <=, >,
    * >=, IN, IS [NOT] NULL} between a column and a literal (either
    * side; the null tests consult the `<col>#n`/`#rows` facts) — numeric
    * literals against numeric ranges, string literals against string
    * ranges (pure-ASCII bounds only, where Java and parquet byte order
    * agree; a non-ASCII literal is simply not pruned on). NULL
    * soundness: ranges cover non-null values and none of the supported
    * comparisons is satisfiable by NULL, so refuting on ranges never
    * drops a qualifying row. */
  private def mayMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      ranges: Map[String, ColRange],
      phys: Map[String, String] = Map.empty): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    // predicates name LOGICAL columns; stats keys are PHYSICAL — `phys`
    // (lowercased logical → physical) translates under column mapping.
    // A logical name without a pair translates to itself, which finds no
    // stats and keeps the file — sound.
    def attr(x: Expression): Option[String] = {
      val raw = x match {
        case u: UnresolvedAttribute => Some(u.nameParts.last.toLowerCase(java.util.Locale.ROOT))
        case a: AttributeReference => Some(a.name.toLowerCase(java.util.Locale.ROOT))
        case _ => None
      }
      raw.map(n => phys.getOrElse(n, n).toLowerCase(java.util.Locale.ROOT))
    }
    // a literal as either a number or an ASCII string — the two range
    // kinds. NaN/Infinity have no BigDecimal form (toString would throw
    // mid-prune): such a literal is simply not pruned on — a NaN
    // comparison is never TRUE anyway, so keeping the file is sound.
    def value(x: Expression): Option[Either[BigDecimal, String]] = x match {
      case Literal(v, _) => v match {
        case n: java.lang.Number =>
          scala.util.Try(BigDecimal(n.toString)).toOption.map(scala.Left(_))
        case d: org.apache.spark.sql.types.Decimal => Some(scala.Left(d.toBigDecimal))
        case u: org.apache.spark.unsafe.types.UTF8String =>
          val str = u.toString
          if (str.forall(_ < 128)) Some(scala.Right(str)) else None
        case str: String if str.forall(_ < 128) => Some(scala.Right(str))
        case _ => None
      }
      case Cast(c, _, _, _) => value(c) // a literal widened by the DSL
      case _ => None
    }
    def range(name: String): Option[ColRange] =
      ranges.collectFirst { case (k, v) if k.toLowerCase(java.util.Locale.ROOT) == name => v }
    // is `col OP v` satisfiable inside the column's range? cmp encodes
    // OP via three flags: can the op be satisfied by values <v, =v, >v
    def sat(r: ColRange, v: Either[BigDecimal, String],
        lt: Boolean, eq: Boolean, gt: Boolean): Boolean = (r, v) match {
      case (NumRange(lo, hi), scala.Left(n)) =>
        (lt && lo < n) || (eq && lo <= n && n <= hi) || (gt && hi > n)
      case (StrRange(lo, hi), scala.Right(t)) =>
        (lt && lo < t) || (eq && lo <= t && t <= hi) || (gt && hi > t)
      case _ => true // kind mismatch (e.g. string literal vs numeric range)
    }
    // a PURE-EQUALITY comparison additionally consults the column's
    // bloom filter when one was built (`<col>#b` in the stats map): a
    // literal the bloom rejects cannot appear in the file. Range and
    // bloom refutations compose — either alone may skip.
    def bloomSat(name: String, v: Either[BigDecimal, String]): Boolean =
      range(name + "#b") match {
        case Some(b: BloomSum) => bloomContains(b, v)
        case _ => true
      }
    // NULL-presence refutation from the `<col>#n` / `#rows` facts:
    // `c IS NULL` is unsatisfiable in a file logged all-non-null,
    // `c IS NOT NULL` in a file logged all-null. Absent facts keep the
    // file; deletion vectors only shrink counts, so neither refutation
    // can go unsound under merge-on-read deletes.
    def isNullSat(e: Expression): Boolean = attr(e) match {
      case Some(c) => range(c + "#n") match {
        case Some(NumRange(n, _)) => n > 0
        case _ => true
      }
      case None => true
    }
    def isNotNullSat(e: Expression): Boolean = attr(e) match {
      case Some(c) => (range(c + "#n"), range("#rows")) match {
        case (Some(NumRange(n, _)), Some(NumRange(r, _))) => n < r
        case _ => true
      }
      case None => true
    }
    // col OP v with OP's (lt,eq,gt); the flipped orientation (v OP col)
    // mirrors the flags
    def test(a: Expression, b: Expression, lt: Boolean, eq: Boolean, gt: Boolean): Boolean = {
      val pureEq = eq && !lt && !gt
      (attr(a), value(b), attr(b), value(a)) match {
        case (Some(c), Some(v), _, _) =>
          range(c).forall(r => sat(r, v, lt, eq, gt)) && (!pureEq || bloomSat(c, v))
        case (_, _, Some(c), Some(v)) =>
          range(c).forall(r => sat(r, v, gt, eq, lt)) && (!pureEq || bloomSat(c, v))
        case _ => true
      }
    }
    def inList(a: Expression, vs: Seq[Expression]): Boolean =
      attr(a) match {
        case Some(c) =>
          // satisfiable iff ANY literal survives both the range and the
          // bloom; a non-literal element keeps the file
          vs.exists(x => value(x) match {
            case Some(v) =>
              range(c).forall(r => sat(r, v, lt = false, eq = true, gt = false)) &&
                bloomSat(c, v)
            case None => true
          })
        case None => true
      }
    // PREFIX refutation (`c LIKE 'p%'` / startsWith): truncate both
    // range endpoints to the prefix's length — the file's values can
    // carry prefix p iff lo[:|p|] <= p <= hi[:|p|] (the ORC/parquet
    // rule). Sound under truncation-at-harvest too: the harvest stores
    // exact ASCII bounds or none. Empty prefixes and non-ASCII
    // prefixes are simply not pruned on.
    def startsWithSat(a: Expression, b: Expression): Boolean =
      (attr(a), value(b)) match {
        case (Some(c), Some(scala.Right(p))) if p.nonEmpty =>
          range(c) match {
            case Some(StrRange(lo, hi)) =>
              lo.take(p.length) <= p && hi.take(p.length) >= p
            case _ => true
          }
        case _ => true
      }
    // The Spark-4 Column DSL yields UnresolvedFunction("and" | ">=" |
    // …) nodes (operators resolve to functions at ANALYSIS, which a
    // driver-side predicate never goes through); an already-analyzed
    // expression carries the typed And/LessThan/… nodes. Normalize both.
    def fname(f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction): String =
      f.nameParts.head.toLowerCase(java.util.Locale.ROOT)
    e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.lengthCompare(1) == 0 =>
        (fname(f), f.arguments) match {
          case ("and", Seq(l, r)) => mayMatch(l, ranges, phys) && mayMatch(r, ranges, phys)
          case ("or", Seq(l, r)) => mayMatch(l, ranges, phys) || mayMatch(r, ranges, phys)
          case ("=" | "==", Seq(a, b)) => test(a, b, lt = false, eq = true, gt = false)
          case ("<", Seq(a, b)) => test(a, b, lt = true, eq = false, gt = false)
          case ("<=", Seq(a, b)) => test(a, b, lt = true, eq = true, gt = false)
          case (">", Seq(a, b)) => test(a, b, lt = false, eq = false, gt = true)
          case (">=", Seq(a, b)) => test(a, b, lt = false, eq = true, gt = true)
          case ("in", a +: vs) if vs.nonEmpty => inList(a, vs)
          case ("isnull", Seq(a)) => isNullSat(a)
          case ("isnotnull", Seq(a)) => isNotNullSat(a)
          case ("startswith", Seq(a, b)) => startsWithSat(a, b)
          case _ => true
        }
      case And(l, r) => mayMatch(l, ranges, phys) && mayMatch(r, ranges, phys)
      case Or(l, r) => mayMatch(l, ranges, phys) || mayMatch(r, ranges, phys)
      case EqualTo(a, b) => test(a, b, lt = false, eq = true, gt = false)
      case LessThan(a, b) => test(a, b, lt = true, eq = false, gt = false)
      case LessThanOrEqual(a, b) => test(a, b, lt = true, eq = true, gt = false)
      case GreaterThan(a, b) => test(a, b, lt = false, eq = false, gt = true)
      case GreaterThanOrEqual(a, b) => test(a, b, lt = false, eq = true, gt = true)
      case In(a, vs) if vs.nonEmpty => inList(a, vs)
      case IsNull(a) => isNullSat(a)
      case IsNotNull(a) => isNotNullSat(a)
      case StartsWith(a, b) => startsWithSat(a, b)
      case _ => true
    }
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
  /** Filter-sizing helper: ~`bitsPerValue` bits per expected value per
    * file (rounded up to a 64-bit block; floor 64 Kbit). m/n ≈ 10 with
    * k = 7 sits at ~0.8% fp; an UNDER-sized filter saturates (fp → 1)
    * and prunes nothing — size to the data, not the default. */
  def bloomBits(rowsPerFile: Long, bitsPerValue: Int = 10): Int = {
    require(rowsPerFile >= 0 && bitsPerValue >= 1, "bad bloom sizing inputs")
    math.max(65536L, rowsPerFile * bitsPerValue / 64L * 64L + 64L).toInt
  }

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
    val schema = base.schema.getOrElse(
      throw new IllegalArgumentException(s"$path carries no log schema to type-check against"))
    // callers name LOGICAL columns; the scan, the hash input and the
    // stats key all use the PHYSICAL name (the probe translates back)
    val logSchema = logicalSchema(base).get
    val physFor = physByLogical(base)
    def physName(c: String) = physFor.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)
    val tpes: Map[String, Char] = cols.map { c =>
      val f = logSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      f.dataType match {
        case org.apache.spark.sql.types.LongType => physName(c) -> 'L'
        case org.apache.spark.sql.types.StringType => physName(c) -> 'S'
        case other => throw new IllegalArgumentException(
          s"bloom index supports bigint/string columns only; $c is $other")
      }
    }.toMap
    val pcols = cols.map(physName)
    val rdr0 = spark.read.schema(schema)
    val rdr = // partitioned tables: parse partition values from paths
      if (base.files.exists(_.indexOf('/') >= 0)) rdr0.option("basePath", s"$path/$DataDir")
      else rdr0
    val raw = rdr.parquet(base.files.map(n => s"$path/$DataDir/$n"): _*)
      .select(col("_metadata.file_name").as("__file") +: pcols.map(col): _*)
    // one exploded (file, col, block, mask) projection → one combinable agg
    val posCols = pcols.flatMap { c =>
      (0 until numHashes).map(i => struct(
        lit(c).as("c"),
        pmod(xxhash64(lit(i), col(c)), lit(numBits.toLong)).as("p")))
    }
    val perFile = raw
      .select(col("__file"), explode(array(posCols: _*)).as("h"))
      .filter(col("h.p").isNotNull)
      .groupBy(col("__file"), col("h.c").as("__c"), (col("h.p") / 64L).cast("long").as("__block"))
      .agg(bit_or(call_function("shiftleft", lit(1L), pmod(col("h.p"), lit(64L)).cast("int")))
        .as("__bits"))
      .collect() // files × cols × numBits/8 bytes — O(live files) metadata class
    val fullName = byLeaf(base.files) // the scan's file_name is the leaf
    val built = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, ColRange]]
    perFile.groupBy(r => (fullName(r.getString(0)), r.getString(1))).foreach {
      case ((file, c), rows) =>
        val bits = new Array[Long](numBits / 64)
        rows.foreach(r => bits(r.getLong(2).toInt) = r.getLong(3))
        built(file) = built.getOrElse(file, Map.empty) +
          (s"$c#b" -> BloomSum(tpes(c), numHashes, bits))
    }
    val rendered = renderStats(built.toMap)
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
      else Some(writeSidecar(fs(spark, path), path, built.toMap, Map.empty))
    def discardSidecar(): Unit = sidecarName.foreach { n =>
      try { fs(spark, path).delete(sidecarPath(path, n), false): Unit }
      catch { case _: Exception => () } // best-effort; vacuum sweeps debris
    }
    try commitLoop(spark, path, "bloom") { snap =>
      val vanished = base.files.toSet -- snap.files.toSet
      if (vanished.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"bloom build at $path conflicts: indexed files rewritten concurrently: " +
            vanished.take(3).mkString(", "))
      sidecarName match {
        case Some(sc) => Some(CommitSpec(Nil, Nil, None, sidecars = Seq(sc)))
        case None => Some(CommitSpec(Nil, Nil, None,
          Some(java.util.Base64.getEncoder.encodeToString(
            rendered.getBytes(StandardCharsets.UTF_8)))))
      }
    }.get.version
    catch { case t: Throwable => discardSidecar(); throw t }
  }

  /** Driver-side twin of the distributed bloom build's membership test:
    * hash the predicate literal with the SAME Catalyst xxhash64 the
    * build ran on column values (same seed chain, same input types), so
    * a set bit answers may-contain and a clear bit is a sound skip. */
  private def bloomContains(b: BloomSum, v: Either[BigDecimal, String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val typed: Option[CLit] = (b.tpe, v) match {
      case ('L', scala.Left(n)) =>
        if (n.isWhole && n.isValidLong) Some(CLit(n.toLongExact, LongType))
        else None // non-integral literal can't equal a bigint; keep (sound)
      case ('S', scala.Right(t)) =>
        Some(CLit(org.apache.spark.unsafe.types.UTF8String.fromString(t), StringType))
      case _ => None // kind mismatch — keep the file
    }
    typed.forall { litV =>
      val m = b.bits.length * 64L
      (0 until b.k).forall { i =>
        val h = XxHash64(Seq(CLit(i, IntegerType), litV), 42L)
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
        val p = ((h % m) + m) % m
        (b.bits((p / 64L).toInt) & (1L << (p % 64L).toInt)) != 0L
      }
    }
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
    val (kept, skipped) = pruneSnapFiles(snap, pred)
    (snap, kept, skipped)
  }

  /** The stats walk of [[pruneFiles]] against an already-replayed
    * snapshot: (kept, skipped). Partition pruning FIRST (O(partition
    * cols) per file, memoized per dir), then the per-file stats walk —
    * short-circuited, so a partition-refuted file never pays the stats
    * check. Shared by [[readWhere]]/[[readWhereAt]], [[pruneFiles]] and
    * the DSv2 scan ([[GraftScanBuilder]], which SQL reads plan). */
  private[sources] def pruneSnapFiles(
      snap: Snapshot,
      pred: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[String], Seq[String]) =
    pruneFileSubset(snap, pred, snap.files)

  /** [[pruneSnapFiles]] over an explicit file subset — the DSv2 scan
    * walks only the files its exact partition evaluation already kept. */
  private[sources] def pruneFileSubset(
      snap: Snapshot,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      files: Seq[String]): (Seq[String], Seq[String]) = {
    val phys = physByLogical(snap)
    val pranges = partitionRanges(snap)
    files.partition { f =>
      mayMatch(pred, pranges(f), phys) &&
        snap.stats.get(f).forall(ranges => mayMatch(pred, ranges, phys))
    }
  }

  /** Per-file byte sizes for `files` of `snap`: from the log's `#size`
    * facts when present (zero IO — the footer harvest records them at
    * stage time), else one getFileStatus per missing file (older logs,
    * `collectStats = false` writes). The DSv2 scan sizes its input
    * splits from this. */
  private[sources] def fileSizes(
      spark: SparkSession, path: String, snap: Snapshot,
      files: Seq[String]): Map[String, Long] = {
    val f = fs(spark, path)
    files.map { n =>
      val logged = snap.stats.get(n).flatMap(_.get("#size")).collect {
        case NumRange(lo, _) => lo.toLong
      }
      n -> logged.getOrElse(f.getFileStatus(new Path(s"$path/$DataDir/$n")).getLen)
    }.toMap
  }

  /** Total row count over `files` from the log's `#rows` facts — None
    * unless EVERY file carries one (a partial sum would silently
    * understate; the caller reports no estimate instead). */
  private[sources] def fileRowTotal(snap: Snapshot, files: Seq[String]): Option[Long] = {
    val counts = files.map(n => snap.stats.get(n).flatMap(_.get("#rows")).collect {
      case NumRange(lo, _) => lo.toLong
    })
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Stats-pruned read: `read(...).filter(predicate)` semantics, with
    * files whose logged ranges refute the predicate never entering the
    * scan (the predicate is STILL applied to the kept files — pruning is
    * an optimization, not the filter). Complements, not replaces, the
    * parquet row-group pushdown the scan already does: this tier skips
    * whole files from the log before any footer is opened.
    *
    * Partition-pruning note: a file holding ONE value of a column (the
    * partitioned-write layout — e.g. range-partitioned by a low-
    * cardinality key so each file owns one value) gets lo == hi stats,
    * and pruning on them IS Hive-style partition pruning — the log's
    * stats subsume a separate partition-column mechanism. */
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
    val (kept, _) = pruneSnapFiles(snap, pred)
    if (kept.isEmpty) {
      val schema = logicalSchema(snap).getOrElse(org.apache.spark.sql.types.StructType(Nil))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else readFiles(spark, path, kept, snap.schema, snap.dv, dvp = snap.dvp,
      mapping = snap.mapping).filter(predicate)
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

  def restore(
      spark: SparkSession, path: String, version: Long, shardFiles: Int = 512): Long = {
    val target = snapshotAt(spark, path, version)
    val f = fs(spark, path)
    val missing =
      target.files.filterNot(n => f.exists(new Path(s"$path/$DataDir/$n")))
    require(missing.isEmpty,
      s"restore to v$version impossible: ${missing.size} file(s) already reclaimed by " +
        s"vacuum (outside the retention window): ${missing.take(3).mkString(", ")}")
    // same multi-part restatement as checkpoint: the target's per-file
    // payloads are fixed (not per-attempt), so sidecars stage once;
    // parquet-vector refs restate as one (dir → files) sidecar — the
    // restore's remove-all leg resets current refs, this re-attaches
    // the target's
    val dvpRefs = dvpByDir(target)
    val dvpSc =
      if (dvpRefs.isEmpty) Nil
      else Seq(writeSidecar(f, path, Map.empty, Map.empty, dvpRefs))
    val payloadFiles = (target.stats.keySet ++ target.dv.keySet).toSeq.sorted
    val (sts, dvs, sc) =
      if (payloadFiles.size <= shardFiles) {
        val s0 =
          if (target.stats.isEmpty) None
          else Some(java.util.Base64.getEncoder.encodeToString(
            renderStats(target.stats).getBytes(StandardCharsets.UTF_8)))
        val d0 = if (target.dv.isEmpty) None else Some(encodeDv(target.dv))
        (s0, d0, dvpSc)
      } else {
        val shards = payloadFiles.grouped(shardFiles).map { group =>
          val g = group.toSet
          writeSidecar(f, path,
            target.stats.view.filterKeys(g).toMap,
            target.dv.view.filterKeys(g).toMap)
        }.toSeq
        (None, None, shards ++ dvpSc)
      }
    try
      commitLoop(spark, path, "restore") { snap =>
        // remove the CURRENT live set (fresh per retry) and re-add the
        // target's — same last-writer-wins semantics as overwrite; the
        // TARGET version's constraint set AND column mapping restore
        // with its data (its files were written/validated under them —
        // self-consistent per version)
        Some(CommitSpec(target.files, snap.files, target.schema.map(encodeSchema), sts, dvs, sc,
          Some(encodeConstraints(target.constraints)),
          Some(encodeMapping(target.mapping, target.retired)),
          Some(encodePartitioning(target.partitioning))))
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
    val f = fs(spark, path)
    // the FULL log: commit files are never deleted, and vacuum's victim
    // replay walks all of history — the window must resolve on the same
    // axis (a checkpoint truncates replay for READERS, not retention)
    val cs = allCommits(f, path)
    require(cs.nonEmpty, s"no transaction log at $path")
    val cutoffTs = System.currentTimeMillis() - windowMs
    val atEdge = cs.filter(c =>
      f.getFileStatus(logPath(path, c.version)).getModificationTime <= cutoffTs)
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
    vacuumVictims(f, path, retainVersions, ageGraceMs)._1
      .map(_.toString.substring(dataQ.length + 1))
  }

  /** The unreferenced-and-aged data files under `path` — the victim set
    * shared by [[vacuum]] (which deletes it) and [[vacuumPreview]]
    * (which reports it) — plus the full commit list and retention
    * cutoff the scan derived them from (vacuum's log-truncation leg
    * reuses both, so the log reads once per run). */
  private def vacuumVictims(
      f: FileSystem, path: String, retainVersions: Int,
      ageGraceMs: Long): (Seq[Path], Seq[Commit], Long) = {
    val dataDir = new Path(s"$path/$DataDir")
    val all = allCommits(f, path)
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
    keep ++= commits(f, path).flatMap(_.add)
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

  def vacuum(
      spark: SparkSession,
      path: String,
      retainVersions: Int = 2,
      ageGraceMs: Long = DefaultAgeGraceMs): Int = {
    require(retainVersions >= 1, s"retainVersions must be ≥ 1: $retainVersions")
    val f = fs(spark, path)
    val dataDir = new Path(s"$path/$DataDir")
    if (!f.exists(dataDir)) return 0
    val now = System.currentTimeMillis()
    def aged(s: org.apache.hadoop.fs.FileStatus): Boolean =
      now - s.getModificationTime >= ageGraceMs
    val listed = f.listStatus(dataDir).toSeq
    val (victims, all, cutoff) = vacuumVictims(f, path, retainVersions, ageGraceMs)
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
    // of never-renamed part files; one that died inside tryCommit leaves
    // a never-linked .<v>.json.<uuid>.tmp in the log dir
    val staleStages = listed
      .filter(s => s.getPath.getName.startsWith("_stage-") && aged(s))
      .map(_.getPath)
    staleStages.foreach(f.delete(_, true))
    val logDir = new Path(s"$path/$LogDir")
    val staleTmps =
      if (!f.exists(logDir)) Nil
      else f.listStatus(logDir).toSeq
        .filter(s => s.getPath.getName.startsWith(".") && s.getPath.getName.endsWith(".tmp") &&
          aged(s))
        .map(_.getPath)
    staleTmps.foreach(f.delete(_, false))
    // LOG truncation — the log must not grow forever either. A commit
    // file is prunable once it is BOTH behind the latest checkpoint
    // (replay never starts before one, and pre-checkpoint time travel
    // is already refused) AND outside the retention window (its
    // snapshot no longer protects any reader vacuum promises to
    // protect). Everything from min(checkpoint, window start) on stays,
    // so the full-log replay above keeps working for the whole window.
    val lastCk = all.filter(_.op == "checkpoint").lastOption.map(_.version)
    val prunedLogs = lastCk match {
      case None => Nil
      case Some(ck) =>
        val keepFrom = math.min(ck, cutoff)
        all.filter(_.version < keepFrom)
          .map(c => logPath(path, c.version))
    }
    prunedLogs.foreach(f.delete(_, false))
    // SIDECAR GC: a sidecar is reclaimable once no surviving commit file
    // references it — either its commit was just pruned above, or it is
    // a crash/lost-race orphan that was never referenced. The age grace
    // protects a mid-commit writer's freshly-staged sidecar exactly as
    // it protects staged data files.
    val prunedNames = prunedLogs.map(_.getName).toSet
    val referencedSc = all
      .filterNot(c => prunedNames.contains(logPath(path, c.version).getName))
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
    val scDir = new Path(s"$path/$LogDir/$SidecarDirName")
    val staleSidecars =
      if (!f.exists(scDir)) Nil
      else f.listStatus(scDir).toSeq
        .filter { s =>
          val n = s.getPath.getName
          !referencedSc.contains(n) && !referencedDvpq.contains(n) && aged(s)
        }
        .map(_.getPath)
    staleSidecars.foreach(f.delete(_, /* recursive = */ true))
    victims.size + staleStages.size + staleTmps.size + prunedLogs.size + staleSidecars.size
  }
}
