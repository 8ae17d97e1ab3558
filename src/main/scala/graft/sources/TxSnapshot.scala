package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge

import java.nio.charset.StandardCharsets
import java.util.UUID

import LogStore.sidecarPath
import TxStats._

/** TxStore's commit log read side: the commit and snapshot shapes, the
  * payload codecs and their decode memo, replay, and reading a
  * snapshot as a table. */
object TxSnapshot {

  private[sources] val DataDir = "data"

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

  final case class Snapshot(
      version: Long,
      files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      stats: FileStats = Map.empty,
      dv: Map[String, Seq[Long]] = Map.empty,
      /** Data file → PARQUET deletion-vector sidecar dirs whose marks
        * apply to it (see [[deleteVectoredBulk]]): positions live in
        * executor-written parquet under `_txlog/_sidecar/<uuid>.dvpq/`,
        * never on the driver — the scan's reader loads them beside the
        * inline marks. */
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
  private[sources] final case class CommitSpec(
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

  private[sources] def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
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
  private[sources] def memo[T <: AnyRef](key: String, kind: Char)(compute: => T): T = {
    if (decodeCache.size > 8192) decodeCache.clear()
    decodeCache.computeIfAbsent(kind + key, _ => compute).asInstanceOf[T]
  }

  // ── commit-file generation (r18 memo-key hardening) ────────────────
  // The commit-parse memo keys on (path, mtime, length), but local-FS
  // mtime granularity is typically 1 s and commit payloads are
  // fixed-width enough that lengths repeat — a table deleted and
  // recreated within the same second could be served the PREVIOUS
  // generation's parse (ADVICE r17 medium). A log store's put is
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
  private def commitKey(log: LogStore, version: Long) = s"${log.id}/$version"
  private def genOf(key: String): Long = {
    val g = commitGen.get(key)
    if (g == null) 0L else g.longValue()
  }

  /** Publish `c` through the log store; true iff this writer now owns
    * its version. A win bumps the commit's generation (see above). */
  private[sources] def publish(log: LogStore, c: Commit): Boolean =
    log.putIfAbsent(c.version, render(c).getBytes(StandardCharsets.UTF_8)) && {
      if (commitGen.size > 65536) { commitGen.clear(); decodeCache.clear() }
      commitGen.merge(commitKey(log, c.version), 1L, (a, b) => a + b)
      true
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

  private[sources] def encodeConstraints(cs: Seq[(String, String)]): String =
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

  private[sources] def encodePartitioning(cols: Seq[String]): String =
    java.util.Base64.getEncoder.encodeToString(
      cols.mkString("\t").getBytes(StandardCharsets.UTF_8))

  private def decodePartitioning(b64: String): Seq[String] =
    memo(b64, 'P') {
      val txt = new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
      if (txt.isEmpty) Nil else txt.split("\t", -1).toSeq
    }

  /** The bare data-file name (the part after the partition dirs) —
    * identical to the full log name on flat tables. Parquet deletion
    * marks and the bloom build's raw scan (`_metadata.file_name`) carry
    * the LEAF; the log, stats and inline deletion-vector keys carry the
    * FULL relative name; leaf names are staged UUIDs, so the leaf → full
    * map over a snapshot's live set is always injective. */
  private[sources] def leafOf(n: String): String = {
    val i = n.lastIndexOf('/')
    if (i < 0) n else n.substring(i + 1)
  }

  private[sources] def byLeaf(files: Seq[String]): Map[String, String] =
    files.iterator.map(n => leafOf(n) -> n).toMap

  private[sources] def encodeMapping(m: Seq[(String, String)], retired: Seq[String]): String =
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

  /** Lowercased logical → physical lookup for predicate-pruning
    * translation. */
  private[sources] def physByLogical(snap: Snapshot): Map[String, String] =
    snap.mapping.map { case (l, p) => l.toLowerCase(java.util.Locale.ROOT) -> p }.toMap

  private[sources] def lc(n: String) = n.toLowerCase(java.util.Locale.ROOT)

  /** Rename a logical frame's columns to their physical names before
    * staging — identity when the mapping is. Columns without a pair
    * (pre-evolution callers extend the mapping first) pass through. */
  private[sources] def toPhysical(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    if (mapping.isEmpty) df
    else {
      val byLogical = mapping.map { case (l, p) =>
        l.toLowerCase(java.util.Locale.ROOT) -> p
      }.toMap
      df.select(df.columns.toIndexedSeq.map(c =>
        col(c).as(byLogical.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c))): _*)
    }

  /** Schema evolution in MAPPING mode: evolve on the LOGICAL level
    * (same widening/duplicate rules as [[evolve]]), then assign each
    * genuinely new logical column a physical name — its own name when
    * never used by any live or retired physical column, else a
    * suffixed fresh one (the no-resurrection rule). Returns the new
    * physical schema and the extended mapping. */
  private[sources] def evolveMapped(
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

  private[sources] def normalize(
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
  private[sources] def widened(
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
  private[sources] def evolve(
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

  // ── deletion vectors in the log (merge-on-read DELETE) ─────────────
  // A delete-dv commit adds/removes NO files: it marks row POSITIONS of
  // live files as deleted ({"file":[idx,...],...}, base64-wrapped like
  // the other structured payloads). The scan's reader skips the marked
  // positions by the parquet row index — a
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

  private[sources] def encodeDv(m: Map[String, Seq[Long]]): String =
    java.util.Base64.getEncoder.encodeToString(renderDv(m).getBytes(StandardCharsets.UTF_8))

  private[sources] def decodeDv(b64: String): Map[String, Seq[Long]] =
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

  /** One sidecar's decoded payloads: a stats shard, a packed-inline dv
    * shard, and references to PARQUET deletion-vector dirs (each with
    * the data files its marks apply to — file-LEVEL metadata, so replay
    * never opens the parquet). */
  private[sources] final case class SidecarPayload(
      stats: FileStats,
      dv: Map[String, Seq[Long]],
      dvParquet: Seq[(String, Seq[String])])

  /** Write one sidecar holding a shard of restated per-file stats and/or
    * packed deletion-vector marks. Plain create under a fresh UUID name
    * — no race possible, and the file is invisible to replay until a
    * commit references it. Content: up to two lines, `stats:<b64 of
    * renderStats>` and `dvp:<b64 of renderDvPacked>`. */
  private[sources] def writeSidecar(
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
  private[sources] def readSidecar(f: FileSystem, path: String, name: String): SidecarPayload =
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

  // ── log primitives ─────────────────────────────────────────────────

  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def logStore(spark: SparkSession, path: String): LogStore =
    LogStore(fs(spark, path), path)

  private[sources] def render(c: Commit): String = {
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

  private[sources] def parse(s: String): Commit = {
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

  /** All commits in version order. A checkpoint (see [[TxStore.checkpoint]])
    * is a commit whose `add` is the full live set at its version — replay
    * can start there, so only it plus the tail is parsed. */
  private[sources] def commits(log: LogStore): Seq[Commit] = fromLastCheckpoint(allCommits(log))

  private[sources] def fromLastCheckpoint(all: Seq[Commit]): Seq[Commit] = {
    val lastCk = all.lastIndexWhere(_.op == "checkpoint")
    if (lastCk <= 0) all else all.drop(lastCk)
  }

  /** The FULL physical log, ignoring checkpoint truncation — commit files
    * are never deleted, so pre-checkpoint history stays reconstructible
    * for [[TxStore.vacuum]]'s retention window.
    *
    * Memoizes the read+parse per commit FILE (r17): replay re-lists the
    * log on every snapshot — that freshness is the multi-writer contract
    * and stays — but a published commit is immutable (the log store's
    * put is create-if-absent), so re-reading and re-parsing every
    * retained commit on every snapshot made a K-commit workflow pay
    * O(K²) log IO. The key carries the listing's own mtime+length so a
    * path REUSED after a whole-table delete+recreate (the bench's
    * freshStore idiom — the one way a commit path's content can ever
    * change) misses cleanly instead of serving the previous table's
    * line, plus the in-process generation counter (see commitGen) that
    * makes the same-second same-length recreate miss deterministically. */
  private[sources] def allCommits(log: LogStore): Seq[Commit] =
    log.listFrom(0L).map { lf =>
      val key = commitKey(log, lf.version)
      memo(s"$key|${genOf(key)}|${lf.mtime}|${lf.length}", 'j')(parse(log.read(lf.version)))
    }

  private[sources] def replay(log: LogStore, cs: Seq[Commit]): Snapshot = {
    val (f, path) = (log.fs, log.table)
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

  // ── reads ──────────────────────────────────────────────────────────

  /** `snap` narrowed to `files` and their deletion marks — what a
    * rewrite or change-feed frame reads. */
  private[sources] def restricted(snap: Snapshot, files: Seq[String]): Snapshot = {
    val keep = files.toSet
    snap.copy(files = files, dv = snap.dv.filter(e => keep(e._1)),
      dvp = snap.dvp.filter(e => keep(e._1)))
  }

  /** The probe columns a read may add: a row's table-relative data
    * file, and the row's position in it. */
  private[sources] val FileCol: String = GraftMetaColumns.File.name
  private[sources] val Position: Seq[String] = Seq(FileCol, GraftMetaColumns.RowIndex.name)

  /** `snap` read as a table: the v2 scan of a [[GraftTable]] pinned to
    * it, which applies the log schema (never footers: a file predating
    * an added column reads it as NULL), the column mapping, the
    * partition layout and the deletion marks, and prunes files on the
    * query's filters. `meta` adds probe columns ([[FileCol]],
    * [[Position]]) after the table's own. */
  private[sources] def readSnap(
      spark: SparkSession, path: String, snap: Snapshot, meta: Seq[String] = Nil): DataFrame = {
    val df = ColumnBridge.dataFrame(spark,
      DataSourceV2Relation.create(new GraftTable(spark, path, snap), None, None))
    if (meta.isEmpty) df
    else {
      require(!df.columns.exists(c => meta.exists(_.equalsIgnoreCase(c))),
        s"table at $path must not carry the reserved ${meta.mkString("/")} columns")
      df.select(col("*") +: meta.map(df.metadataColumn): _*)
    }
  }
}
