package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, bit_or, call_function, col, explode, lit, pmod, struct, xxhash64}

import java.nio.charset.StandardCharsets

import TxSnapshot._

/** TxStore's file statistics: per-file column ranges, null counts and
  * blooms in the log, their harvest from parquet footers, and the
  * pruning walk that skips files from them. */
object TxStats {

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

  /** Hive path unescaping (the inverse of the `%xx` escaping Spark's
    * partitioned writer applies to special characters in values).
    * `private[sources]`: [[GraftPartitionEval.rawValues]] is its one
    * caller, so every reader of a partition value decodes the same way. */
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

  /** Synthetic lo == hi column ranges from a file's decoded partition
    * values ([[GraftPartitionEval.Dirs.values]], what the scan emits) —
    * partition pruning rides the SAME sound mayMatch walker as min/max
    * stats (a partition file holds exactly one value of each partition
    * column, so [v, v] is its exact range). Numerics prune on NumRange,
    * dates on their epoch day (the Catalyst DateType literal's value),
    * ASCII strings on StrRange; any other type, and a NULL value, yields
    * no range — the file is kept, which is always sound. Memoized per
    * partition DIR: many files share one. */
  private[sources] def partitionRanges(
      dirs: GraftPartitionEval.Dirs): String => Map[String, ColRange] = {
    import org.apache.spark.sql.types._
    def range(v: Any, dt: DataType): Option[ColRange] = (dt, v) match {
      case (DateType, d: Integer) => Some(NumRange(BigDecimal(d), BigDecimal(d)))
      case (_: DecimalType, d: Decimal) => Some(NumRange(d.toBigDecimal, d.toBigDecimal))
      case (_: NumericType, n: java.lang.Number) =>
        scala.util.Try(BigDecimal(n.toString)).toOption.map(b => NumRange(b, b))
      case (StringType, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(u.toString).filter(_.forall(_ < 128)).map(x => StrRange(x, x))
      case _ => None
    }
    val cache = scala.collection.mutable.HashMap.empty[String, Map[String, ColRange]]
    rel => cache.getOrElseUpdate(dirs.dirOf(rel), {
      val row = dirs.values(rel)
      dirs.schema.fields.indices.flatMap { i =>
        range(row.get(i, dirs.schema(i).dataType), dirs.schema(i).dataType)
          .map(dirs.physical(i) -> _)
      }.toMap
    })
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
  private[sources] def renderStats(m: FileStats): String = {
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

  private[sources] def parseStats(s: String): FileStats = {
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
    * non-null range refutes the predicate never loses a row.
    *
    * `foreign = true` marks files ADOPTED from another writer
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
  private[sources] def fileStats(
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

  private[sources] def decodeStats(b64: String): FileStats =
    memo(b64, 't') {
      parseStats(new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8))
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
  private[sources] def mayMatch(
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
    // is `col OP v` satisfiable inside the column's range? sat encodes
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

  /** Per-file bloom filters over `cols` of `base`, built in ONE
    * distributed pass over the live files: k seeded xxhash64 positions
    * per value, map-side `bit_or` into 64-bit blocks keyed by (file,
    * block) — the ext45 Bloom shape per file. The driver collect is
    * files × numBits/8 bytes, the O(live files) metadata class. Keys are
    * `<physical col>#b`; see [[TxStore.buildBlooms]]. */
  private[sources] def bloomStats(
      spark: SparkSession, path: String, base: Snapshot, cols: Seq[String],
      numBits: Int, numHashes: Int): FileStats = {
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
    built.toMap
  }

  /** Driver-side twin of the distributed bloom build's membership test:
    * hash the predicate literal with the SAME Catalyst xxhash64 the
    * build ran on column values (same seed chain, same input types), so
    * a set bit answers may-contain and a clear bit is a sound skip. */
  private def bloomContains(b: BloomSum, v: Either[BigDecimal, String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val probe: Option[CLit] = (b.tpe, v) match {
      case ('L', scala.Left(n)) =>
        if (n.isWhole && n.isValidLong) Some(CLit(n.toLongExact, LongType))
        else None // non-integral literal can't equal a bigint; keep (sound)
      case ('S', scala.Right(t)) =>
        Some(CLit(org.apache.spark.unsafe.types.UTF8String.fromString(t), StringType))
      case _ => None // kind mismatch — keep the file
    }
    probe.forall { litV =>
      val m = b.bits.length * 64L
      (0 until b.k).forall { i =>
        val h = XxHash64(Seq(CLit(i, IntegerType), litV), 42L)
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
        val p = ((h % m) + m) % m
        (b.bits((p / 64L).toInt) & (1L << (p % 64L).toInt)) != 0L
      }
    }
  }

  /** The stats walk of [[pruneFiles]] against an already-replayed
    * snapshot: (kept, skipped). Partition pruning FIRST (O(partition
    * cols) per file, memoized per dir), then the per-file stats walk —
    * short-circuited, so a partition-refuted file never pays the stats
    * check. Shared by [[readWhere]]/[[readWhereAt]], [[pruneFiles]] and
    * the DSv2 scan ([[GraftScanBuilder]], which SQL reads plan). */
  private[sources] def pruneSnapFiles(
      spark: SparkSession, snap: Snapshot,
      pred: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[String], Seq[String]) =
    pruneFileSubset(new GraftPartitionEval.Dirs(spark, snap), pred, snap.files)

  /** [[pruneSnapFiles]] over an explicit file subset of `dirs`'
    * snapshot — the DSv2 scan walks only the files its exact partition
    * evaluation already kept. */
  private[sources] def pruneFileSubset(
      dirs: GraftPartitionEval.Dirs,
      pred: org.apache.spark.sql.catalyst.expressions.Expression,
      files: Seq[String]): (Seq[String], Seq[String]) = {
    val snap = dirs.snap
    val phys = physByLogical(snap)
    val pranges = partitionRanges(dirs)
    files.partition { f =>
      mayMatch(pred, pranges(f), phys) &&
        snap.stats.get(f).forall(ranges => mayMatch(pred, ranges, phys))
    }
  }

  /** Per-file byte sizes for `files` of `snap`: from the log's `#size`
    * facts when present (zero IO — the footer harvest records them at
    * stage time), else one getFileStatus per missing file (older logs,
    * `collectStats = false` writes). The DSv2 scan sizes its input
    * splits from this, and compactSmallFiles its bins. */
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
}
