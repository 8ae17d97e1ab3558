package graft

import graft.sources.{GraftScan, TxStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DataSource v2 provider: `spark.read.format("graft")` and the
  * TxStore API, which plans the same scan, must return the rows an
  * oracle outside graft's reader computes across every table shape
  * (flat, partitioned, column-mapped, deletion-vectored), prune files
  * inside Catalyst from the SAME log walk `readWhere` uses, and accept
  * runtime (dynamic-pruning) filters at execution start. */
class GraftDataSourceSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-dsv2").toString + "/t"

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  private def v2(path: String): DataFrame = spark.read.format("graft").load(path)

  /** The record of the one graft scan in `df`'s executed plan. */
  private def scanOf(df: DataFrame): GraftScan.Planned = {
    val planned = GraftScan.planned(df)
    assert(planned.size === 1, s"expected one graft scan: $planned")
    planned.head
  }

  /** Order-insensitive comparison of a frame's rows, in its column
    * order, with expected rows. */
  private def assertRows(got: DataFrame, want: Seq[Seq[Any]]): Unit = {
    def sorted(rs: Seq[Seq[Any]]) = rs.sortBy(_.mkString("|"))
    assert(sorted(got.collect().map(_.toSeq).toSeq) === sorted(want))
  }

  /** The (id, payload) rows [[rows]] writes. */
  private def expected(ids: Seq[Int]): Seq[Seq[Any]] = ids.map(i => Seq(i.toLong, s"v$i"))

  /** Both reads of `t` — the v2 source and TxStore's — hold `want`. */
  private def assertReads(t: String, want: Seq[Seq[Any]]): Unit = {
    assertRows(v2(t), want)
    assertRows(TxStore.read(spark, t), want)
  }

  test("v2 read round-trips a flat table; schema is the log schema") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    TxStore.append(rows(5, from = 10), t)
    val df = v2(t)
    assert(df.schema.fieldNames.toSeq === Seq("id", "payload"))
    assertReads(t, expected(0 until 15))
    assert(df.count() === 15) // empty-projection scan (count star)
  }

  test("v2 pushed filters prune the IDENTICAL file set readWhere prunes") {
    val t = tmpDir()
    // one file per id-century so min/max ranges separate cleanly
    for (c <- 0 until 4)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    val pred = col("id") >= 250L && col("id") < 320L
    val (_, keptV1, skippedV1) = TxStore.pruneFiles(spark, t, pred)
    val got = v2(t).filter(pred)
    assert(got.collect().length === 70)
    val ev = scanOf(got)
    assert(ev.kept.toSet === keptV1.toSet,
      s"v2 kept ${ev.kept.size} files, readWhere kept ${keptV1.size}")
    assert(ev.skipped.toSet === skippedV1.toSet)
    assert(ev.skipped.nonEmpty, "the fixture must actually skip files")
    assertRows(v2(t).filter(pred), expected(250 until 320))
    assertRows(TxStore.readWhere(spark, t, pred), expected(250 until 320))
  }

  test("v2 reads a hive-partitioned table with typed partition values") {
    val t = tmpDir()
    val df = (0 until 40).map(i => (i.toLong, i % 4, s"p$i")).toDF("id", "shard", "payload")
    TxStore.append(df, t, partitionBy = Seq("shard"))
    val got = v2(t)
    // partition columns surface LAST in the v2 schema (hive layout)
    assert(got.schema.fieldNames.toSeq.sorted === Seq("id", "payload", "shard"))
    assert(got.schema("shard").dataType === org.apache.spark.sql.types.IntegerType)
    val want = (0 until 40).map(i => Seq(i.toLong, i % 4, s"p$i"))
    assertRows(got.select("id", "shard", "payload"), want)
    assertRows(TxStore.read(spark, t).select("id", "shard", "payload"), want)
    // a partition predicate prunes to that partition's files only
    val shard2 = v2(t).filter(col("shard") === 2)
    assert(shard2.collect().length === 10)
    val ev = scanOf(shard2)
    assert(ev.kept.forall(_.startsWith("shard=2/")),
      s"partition pruning must keep only shard=2 files, kept ${ev.kept}")
  }

  test("v2 time travel: versionAsOf and timestampAsOf pin historical snapshots") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // v1
    TxStore.append(rows(10, from = 10), t) // v2
    assert(spark.read.format("graft").option("versionAsOf", 1).load(t).count() === 10)
    assert(v2(t).count() === 20)
    val ts = graft.sources.TxStore.history(spark, t).last.version
    assert(ts === 2L)
    intercept[Exception](
      spark.read.format("graft").option("versionAsOf", 99).load(t).count())
  }

  test("v2 applies inline deletion vectors (row-index skip, row-based scan)") {
    val t = tmpDir()
    TxStore.append(rows(100).repartition(2), t)
    TxStore.deleteVectored(spark, t, col("id") % 10 === 3L)
    val got = v2(t)
    assert(got.count() === 90)
    assert(got.filter(col("id") % 10 === 3L).count() === 0)
    assertReads(t, expected((0 until 100).filter(_ % 10 != 3)))
  }

  test("v2 applies parquet-vectored (sidecar) deletion vectors executor-side") {
    val t = tmpDir()
    TxStore.append(rows(200).repartition(2), t)
    TxStore.deleteVectoredBulk(spark, t, col("id") >= 150L)
    assertReads(t, expected(0 until 150))
    assert(v2(t).count() === 150)
  }

  test("v2 reads a column-mapped table under logical names; filters still prune") {
    val t = tmpDir()
    for (c <- 0 until 3)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    TxStore.renameColumn(spark, t, "payload", "note")
    val got = v2(t)
    assert(got.schema.fieldNames.toSeq === Seq("id", "note"))
    assertReads(t, expected(0 until 300))
    val one = v2(t).filter(col("id") === 250L)
    assert(one.collect().length === 1)
    val ev = scanOf(one)
    assert(ev.skipped.size === 2, s"mapped-table pruning must skip 2 of 3 files: $ev")
  }

  test("v2 runtime filtering: a broadcast dim filter prunes fact files at execution") {
    val t = tmpDir()
    // fact partitioned by region key — 8 partitions, one file each
    val fact = (0 until 800).map(i => (i.toLong, i % 8, i * 2.0))
      .toDF("order_id", "region_id", "amount")
    TxStore.append(fact, t, partitionBy = Seq("region_id"))
    // tiny dim: only regions 6 and 7 survive its filter. The dim must
    // be FILE-backed — a local relation constant-folds its filter away
    // and DPP (correctly) sees no selective predicate to reuse
    val dimPath = t + "_dim"
    (0 until 8).map(i => (i, if (i >= 6) "keep" else "drop"))
      .toDF("r_id", "flag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val joined = v2(t)
      .join(broadcast(dim.filter(col("flag") === "keep")),
        col("region_id") === col("r_id"))
      .agg(sum("amount").as("total"), count(lit(1)).as("n"))
    // collect runs THIS plan: its fact scan receives the runtime filter
    val Array(row) = joined.collect()
    assert(row.getLong(1) === 200L)
    val total = TxStore.snapshot(spark, t).files.size
    val ev = scanOf(joined)
    assert(ev.runtimeFilterCount > 0,
      "the scan must have received a runtime (dynamic pruning) filter")
    assert(ev.kept.nonEmpty && ev.kept.size < total,
      s"runtime filter must prune fact files: kept ${ev.kept.size} of $total; " +
        s"filters=${ev.runtimeFilters}")
    assert(ev.kept.forall(f => f.startsWith("region_id=6/") || f.startsWith("region_id=7/")),
      s"kept files must be the dim-selected partitions only: ${ev.kept}")
    assert(ev.kept.size === total / 4,
      s"exactly the two selected regions' files survive: ${ev.kept.size} vs $total/4")
  }

  test("scan metrics: kept, skipped, runtime filters and pushed aggregates reach the plan and the status store") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plans = new AdaptiveSparkPlanHelper {}
    val status = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    // run `df`, then read the four metrics off its executed graft scan and
    // off the execution the SQL UI and the event log show
    def metrics(df: DataFrame): (Map[String, Long], Map[String, String]) = {
      df.collect()
      val scans = plans.collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }
      assert(scans.size === 1, s"expected one graft scan: $scans")
      val keys = Seq("filesKept", "filesSkipped", "runtimeFilters", "aggregatePushed")
      val ms = keys.map(k => k -> scans.head.metrics(k)).toMap
      org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark.sparkContext, 30000L)
      val shown = status.executionsList().reverseIterator
        .map(e => status.executionMetrics(e.executionId))
        .find(m => ms.values.forall(x => m.contains(x.id)))
        .getOrElse(fail("no execution in the status store holds the scan's metrics"))
      (ms.map { case (k, m) => k -> m.value }, ms.map { case (k, m) => k -> shown(m.id) })
    }
    def check(df: DataFrame, kept: Long, skipped: Long, runtime: Long, pushed: Long): Unit = {
      val want = Map("filesKept" -> kept, "filesSkipped" -> skipped,
        "runtimeFilters" -> runtime, "aggregatePushed" -> pushed)
      val (inPlan, inStore) = metrics(df)
      assert(inPlan === want)
      assert(inStore === want.map { case (k, v) => k -> v.toString })
    }

    // a pruned read: the walk's own kept and skipped counts
    val t = tmpDir()
    for (c <- 0 until 4)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("id") < 50L)
    check(v2(t).filter(col("id") < 50L), kept.size.toLong, skipped.size.toLong, 0L, 0L)

    // the runtime-filtered broadcast join: the files of two of eight regions
    val f = tmpDir()
    TxStore.append((0 until 800).map(i => (i.toLong, i % 8)).toDF("order_id", "region_id"),
      f, partitionBy = Seq("region_id"))
    val dimPath = f + "_dim"
    (0 until 8).map(i => (i, if (i >= 6) "keep" else "drop"))
      .toDF("r_id", "flag").write.parquet(dimPath)
    val joined = v2(f)
      .join(broadcast(spark.read.parquet(dimPath).filter(col("flag") === "keep")),
        col("region_id") === col("r_id"))
      .agg(count(lit(1)).as("n"))
    val total = TxStore.snapshot(spark, f).files.size.toLong
    check(joined, total / 4, total - total / 4, 1L, 0L)

    // a pushed aggregate: log facts answer, every file is skipped
    check(v2(t).agg(count(lit(1))), 0L, 4L, 0L, 1L)
  }

  test("one planning record per scan: reading and running the plan replans nothing") {
    val t = tmpDir()
    for (c <- 0 until 4)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    val df = v2(t).filter(col("id") < 50L)
    val before = scanOf(df)
    assert(scanOf(df) eq before)
    assert(df.collect().length === 50)
    assert(scanOf(df) eq before, "running the plan must reuse the scan's record")
    // a plan without a graft scan has nothing to report
    intercept[IllegalArgumentException](GraftScan.planned(spark.range(3).toDF()))
  }

  test("v2 metadata-only aggregates: COUNT/MIN/MAX answer from log facts, zero files planned") {
    val t = tmpDir()
    val df = (0 until 300).map(i => (i.toLong, s"u${i % 7}", i * 1.5, i % 3))
      .toDF("id", "user", "score", "part")
    TxStore.append(df, t, partitionBy = Seq("part"))
    val agg = v2(t).agg(
      count(lit(1)).as("n"), count(col("user")).as("nu"),
      min("id").as("min_id"), max("id").as("max_id"),
      min("score").as("lo"), max("score").as("hi"),
      min("user").as("u_lo"), max("user").as("u_hi"),
      min("part").as("p_lo"), max("part").as("p_hi"))
    val got = agg.collect().head
    assert(got.getLong(0) === 300L && got.getLong(1) === 300L)
    assert(got.getLong(2) === 0L && got.getLong(3) === 299L)
    assert(got.getDouble(4) === 0.0 && got.getDouble(5) === 448.5)
    assert(got.getString(6) === "u0" && got.getString(7) === "u6")
    assert(got.getInt(8) === 0 && got.getInt(9) === 2) // partition col, from path values
    val ev = scanOf(agg)
    assert(ev.aggregatePushed && ev.kept.isEmpty,
      s"aggregates must answer from log facts with zero files planned: $ev")

    // refusal paths stay CORRECT, just unpushed: DATA-column filters,
    // DISTINCT, unsupported funcs, and deletion marks (partition-only
    // filters and partition GROUP BYs push — separate tests below)
    val dataFiltered = v2(t).filter(col("id") >= 100L).agg(count(lit(1)))
    assert(dataFiltered.collect().head.getLong(0) === 200L)
    assert(!scanOf(dataFiltered).aggregatePushed)
    assert(v2(t).agg(countDistinct(col("user"))).head().getLong(0) === 7L)
    assert(v2(t).groupBy("part").count().count() === 3)
    assert(v2(t).agg(sum("id")).head().getLong(0) === (0L until 300L).sum)
    TxStore.deleteVectored(spark, t, col("id") === 5L)
    val marked = v2(t).agg(count(lit(1)))
    assert(marked.collect().head.getLong(0) === 299L,
      "deletion marks must fall back to the real scan")
    assert(!scanOf(marked).aggregatePushed)
  }

  test("v2 aggregate pushdown handles nulls exactly: proven-all-null files skip, NULL answers") {
    val t = tmpDir()
    TxStore.append((0 until 50).map(i => (i.toLong, None: Option[String]))
      .toDF("id", "payload").repartition(1), t) // all-null payload
    TxStore.append((50 until 90).map(i => (i.toLong, Some(s"v$i")))
      .toDF("id", "payload").repartition(1), t)
    val agg = v2(t).agg(
      count(col("payload")).as("np"),
      min("payload").as("lo"), max("payload").as("hi"))
    val got = agg.collect().head
    assert(got.getLong(0) === 40L, "count(col) = rows minus logged nulls")
    assert(got.getString(1) === "v50" && got.getString(2) === "v89",
      "the proven-all-null file contributes nothing to min/max")
    assert(scanOf(agg).aggregatePushed)
    // a column that is null EVERYWHERE answers SQL NULL — from facts
    val t2 = tmpDir()
    TxStore.append((0 until 10).map(i => (i.toLong, None: Option[String]))
      .toDF("id", "payload"), t2)
    val agg2 = v2(t2).agg(min("payload"), max("payload"), count(col("payload")))
    val r2 = agg2.collect().head
    assert(r2.isNullAt(0) && r2.isNullAt(1) && r2.getLong(2) === 0L)
    assert(scanOf(agg2).aggregatePushed)
  }

  test("SQL over CREATE TABLE USING graft: pruning and aggregates ride the catalog path") {
    val t = tmpDir()
    for (c <- 0 until 4)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    spark.sql(s"CREATE TABLE graft_sql_tab USING graft OPTIONS (path '$t')")
    try {
      val all = spark.sql("SELECT count(*) AS n FROM graft_sql_tab")
      assert(all.collect().head.getLong(0) === 400L)
      assert(scanOf(all).aggregatePushed,
        "SQL count(*) must answer from log facts")
      val some = spark.sql(
        "SELECT count(*) AS n FROM graft_sql_tab WHERE id BETWEEN 150 AND 180")
      assert(some.collect().head.getLong(0) === 31L)
      val ev = scanOf(some)
      assert(ev.kept.size === 1 && ev.skipped.size === 3,
        s"SQL WHERE must prune from the log walk: $ev")
    } finally spark.sql("DROP TABLE graft_sql_tab")
  }

  test("v2 estimateStatistics reports log-fact sizes (broadcastable filtered reads)") {
    val t = tmpDir()
    for (c <- 0 until 4)
      TxStore.append(rows(100, from = c * 100).repartition(1), t)
    // a selective filter shrinks the reported size to the kept file(s)
    val full = v2(t).queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = v2(t).filter(col("id") < 50L).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < full, s"pruned stats $pruned must be under full $full")
  }

  test("partition filters consume exactly: filtered aggregates push, data conjuncts refuse") {
    val t = tmpDir()
    val df = (0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "part")
    TxStore.append(df, t, partitionBy = Seq("part"))
    val agg = v2(t).filter(col("part") === 1)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    val got = agg.collect().head
    assert(got.getLong(0) === 100L)
    assert(got.getLong(1) === 1L && got.getLong(2) === 298L)
    val ev = scanOf(agg)
    assert(ev.aggregatePushed && ev.kept.isEmpty,
      "a partition-filtered aggregate must answer from facts, zero files planned")
    // the consumed filter needs no post-scan re-evaluation; rows exact
    assert(v2(t).filter(col("part") === 1).count() === 100L)
    assert(v2(t).filter(col("part") === 1).select(sum("id")).head().getLong(0)
      === (0L until 300L).filter(_ % 3 == 1).sum)
    // a data-column conjunct refuses the aggregate pushdown (stays right)
    val refused = v2(t).filter(col("part") === 1 && col("id") >= 0L).agg(count(lit(1)))
    assert(refused.collect().head.getLong(0) === 100L)
    assert(!scanOf(refused).aggregatePushed)
  }

  test("GROUP BY partition columns answers one row per live dir from facts") {
    val t = tmpDir()
    val df = (0 until 300).map(i => (i.toLong, i % 3, s"u${i % 5}"))
      .toDF("id", "part", "user")
    TxStore.append(df, t, partitionBy = Seq("part"))
    val grouped = v2(t).groupBy("part")
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    val g = grouped.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(g.toSeq === Seq((0, 100L, 0L, 297L), (1, 100L, 1L, 298L), (2, 100L, 2L, 299L)))
    val ev = scanOf(grouped)
    assert(ev.aggregatePushed && ev.kept.isEmpty,
      "GROUP BY a partition column must answer from facts, zero files planned")
    // filtered + grouped composes: only the selected partitions' rows out
    val fg = v2(t).filter(col("part") >= 1).groupBy("part").agg(count(lit(1)).as("n"))
    assert(fg.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L))
    val fgEv = scanOf(fg)
    assert(fgEv.aggregatePushed && fgEv.kept.isEmpty)
    // grouping by a DATA column refuses (stays right through the scan)
    val byUser = v2(t).groupBy("user").count()
    assert(byUser.collect().length === 5)
    assert(!scanOf(byUser).aggregatePushed)
  }

  test("null partition dirs: Kleene consumption semantics and NULL group keys") {
    val t = tmpDir()
    val df = Seq((1L, Some(1)), (2L, Some(1)), (3L, None), (4L, Some(2)))
      .toDF("id", "part")
    TxStore.append(df, t, partitionBy = Seq("part"))
    // NOT(part = 1) is NULL for the null dir — SQL drops those rows
    assert(v2(t).filter(not(col("part") === 1)).select("id")
      .as[Long].collect().toSet === Set(4L))
    assert(v2(t).filter(col("part").isNull).count() === 1L)
    assert(v2(t).filter(col("part").isNotNull).count() === 3L)
    // the NULL group surfaces from the null dir; count(part) excludes it
    val byPart = v2(t).groupBy("part").agg(count(lit(1)))
    assert(byPart.collect().length === 3)
    assert(scanOf(byPart).aggregatePushed)
    val nonNull = v2(t).agg(count(col("part")))
    assert(nonNull.collect().head.getLong(0) === 3L)
    assert(scanOf(nonNull).aggregatePushed)
  }

  test("metadata columns _file and _commit_version answer from the log") {
    val t = tmpDir()
    TxStore.append(rows(10).repartition(1), t) // v1
    TxStore.append(rows(5, from = 10).repartition(1), t) // v2
    // hidden: a bare read does not surface them …
    assert(!v2(t).columns.contains("_file"))
    // … but a by-name reference resolves, per-file constants from log
    // metadata (zero extra IO)
    val got = v2(t).select(col("id"), col("_file"), col("_commit_version")).collect()
    assert(got.forall(_.getString(1).endsWith(".parquet")))
    val versionById = got.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 10L).forall(versionById(_) === 1L))
    assert((10L until 15L).forall(versionById(_) === 2L))
    assert(got.map(_.getString(1)).distinct.sorted.toSeq ===
      TxStore.snapshot(spark, t).files.sorted)
    // composes with hive partitions (meta rides AFTER partition values)
    val tp = tmpDir()
    TxStore.append((0 until 20).map(i => (i.toLong, i % 2)).toDF("id", "part"),
      tp, partitionBy = Seq("part"))
    val rows2 = v2(tp).select(col("part"), col("_file")).collect()
    assert(rows2.forall(r => r.getString(1).startsWith(s"part=${r.getInt(0)}/")))
  }

  test("string partition filters are consumed, non-ASCII literals included") {
    import org.apache.spark.sql.catalyst.plans.logical
    val t = tmpDir()
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "pt")
    TxStore.append(df, t, partitionBy = Seq("pt"))
    // the Filter node vanishes from the plan: the scan decides it
    val consumed = v2(t).filter(col("pt") >= "b")
    assert(consumed.queryExecution.optimizedPlan
      .collect { case f: logical.Filter => f }.isEmpty,
      "an ASCII partition comparison must be consumed (no post-scan Filter)")
    assert(consumed.count() === 2L)
    // a NON-ASCII literal is consumed too: Spark's own predicate decides
    // it over the values the scan emits, in Spark's UTF-8 binary order,
    // so no order of graft's own has to agree with Spark's
    val nonAscii = v2(t).filter(col("pt") > "π")
    assert(nonAscii.queryExecution.optimizedPlan
      .collect { case f: logical.Filter => f }.isEmpty,
      "a non-ASCII partition comparison must be consumed (no post-scan Filter)")
    assert(nonAscii.count() === 0L)
  }

  test("prefix predicates prune files from string ranges; walk and scan agree") {
    val t = tmpDir()
    val df = (0 until 400).map(i => (i.toLong, f"k$i%05d")).toDF("id", "key")
    for (c <- 0 until 4)
      TxStore.append(
        df.filter(col("id") >= c * 100L && col("id") < (c + 1) * 100L).repartition(1), t)
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("key").startsWith("k001"))
    assert(kept.size === 1 && skipped.size === 3,
      s"the prefix must keep exactly the covering file (kept ${kept.size})")
    val got = v2(t).filter(col("key").startsWith("k001"))
    assert(got.collect().length === 100)
    assert(scanOf(got).kept.toSet == kept.toSet,
      "the v2 scan must skip the same prefix-refuted files")
    // a longer prefix narrows within the file; rows stay exact
    assert(v2(t).filter(col("key").startsWith("k0010")).count() === 10L)
    // a prefix ABOVE every range refutes everything
    val (_, kept2, _) = TxStore.pruneFiles(spark, t, col("key").startsWith("z"))
    assert(kept2.isEmpty)
    assert(v2(t).filter(col("key").startsWith("z")).count() === 0L)
  }

  test("group-key pushdown keys on emitted values: raws merge, DATE keys push") {
    // a convert-adopted foreign layout can carry raws that differ
    // textually but cast to one typed value: part=01 and part=1 on an
    // INT column must land ONE group row (complete pushdown — Spark
    // never re-merges), matching what the ordinary scan would emit
    val t = tmpDir() + "/estate"
    Seq((1L, "01"), (2L, "1"), (3L, "2"))
      .toDF("id", "part").write.partitionBy("part").parquet(t)
    TxStore.convert(spark, t)
    assert(v2(t).schema("part").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val grouped = v2(t).groupBy("part").agg(count(lit(1)).as("n"))
    val g = grouped.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(g === Seq((1, 2L), (2, 1L)),
      s"part=01 and part=1 must merge into one typed group (got $g)")
    val ev = scanOf(grouped)
    assert(ev.aggregatePushed && ev.kept.isEmpty,
      "the merged-key group-by must still answer from facts")

    // a DATE key pushes as well: the keys are the decoded values the
    // scan emits, so no type needs a parser of graft's own
    val d = tmpDir() + "/dated"
    Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-02-03"))
      .toDF("id", "part").write.partitionBy("part").parquet(d)
    TxStore.convert(spark, d)
    assert(v2(d).schema("part").dataType ===
      org.apache.spark.sql.types.DateType)
    val dated = v2(d).groupBy("part").agg(count(lit(1)).as("n"))
    val byDay = dated.collect().map(r => (r.getDate(0).toString, r.getLong(1))).sorted.toSeq
    assert(byDay === Seq(("2024-01-01", 2L), ("2024-02-03", 1L)))
    assert(scanOf(dated).aggregatePushed,
      "a DATE group key must answer from the log's facts")
  }

  test("partition decisions agree with filters on the emitted rows") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.plans.logical
    // a convert-adopted INT layout: raws that differ textually (01, 1),
    // the null dir, and a raw the cast reads as NULL (abc). SQL BETWEEN
    // reaches a metadata delete unoptimized, as a runtime-replaceable
    // expression over a common-expression `With`.
    val ints = tmpDir() + "/ints"
    Seq[(Long, String)]((1L, "01"), (2L, "1"), (3L, "2"), (4L, null), (5L, "3"))
      .toDF("id", "part").write.partitionBy("part").parquet(ints)
    TxStore.convert(spark, ints)
    val three = TxStore.snapshot(spark, ints).files.filter(_.startsWith("part=3/"))
    assert(three.size === 1)
    graft.sources.ForeignLayout.relabel(spark, ints, three.head, "part=abc")
    assert(v2(ints).schema("part").dataType === org.apache.spark.sql.types.IntegerType)
    val dates = tmpDir() + "/dates"
    Seq[(Long, String)]((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-02-03"), (4L, null))
      .toDF("id", "part").write.partitionBy("part").parquet(dates)
    TxStore.convert(spark, dates)
    assert(v2(dates).schema("part").dataType === org.apache.spark.sql.types.DateType)

    def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq
    val cases: Seq[(String, Seq[Column])] = Seq(
      ints -> Seq(col("part") === 1, col("part").isin(1, 2), col("part").isNull,
        not(col("part") === 1), col("part").between(1, 2), expr("part BETWEEN 2 AND 5")),
      dates -> Seq(col("part") === "2024-01-01", col("part").isin("2024-02-03"),
        col("part").isNull, not(col("part") === "2024-01-01"), col("part") > "2024-01-15",
        expr("part BETWEEN '2024-01-15' AND '2024-03-01'")))
    for ((t, preds) <- cases; p <- preds) {
      // the rows a filter Spark evaluates on the emitted rows keeps
      val emitted = v2(t).localCheckpoint()
      val want = rowsOf(emitted.filter(p))
      val scan = v2(t).filter(p)
      assert(scan.queryExecution.optimizedPlan.collect { case f: logical.Filter => f }.isEmpty,
        s"$p must be consumed by the scan")
      assertRows(scan, want)
      // GROUP BY the partition column pushes and equals the unpushed plan
      val grouped = v2(t).filter(p).groupBy("part").agg(count(lit(1)).as("n"))
      assertRows(grouped, rowsOf(emitted.filter(p).groupBy("part").agg(count(lit(1)).as("n"))))
      assert(scanOf(grouped).aggregatePushed, s"GROUP BY under $p must answer from facts")
      // a metadata delete removes exactly the directories whose rows match
      val v = TxStore.snapshot(spark, t).version
      val deleted = TxStore.deletePartitions(spark, t, p)
      assert(deleted.isDefined === want.nonEmpty, s"$p")
      assertRows(TxStore.read(spark, t), rowsOf(emitted.filter(!(p <=> lit(true)))))
      deleted.foreach(_ => TxStore.restore(spark, t, v))
    }
  }

  test("reads keep the declared COLUMN ORDER for partitioned tables") {
    val t = tmpDir()
    // partition column declared FIRST — the parquet factory emits it
    // last; the reorder wrapper must restore the declared order
    val df = Seq((0, 1L, "a"), (1, 2L, "b"), (0, 3L, "c")).toDF("part", "id", "payload")
    TxStore.append(df, t, partitionBy = Seq("part"))
    assert(v2(t).columns.toSeq === Seq("part", "id", "payload"))
    assert(TxStore.read(spark, t).columns.toSeq === Seq("part", "id", "payload"))
    // positional consumers see the declared order of fields
    val want = Seq(Seq(0, 1L, "a"), Seq(1, 2L, "b"), Seq(0, 3L, "c"))
    assertReads(t, want)
    // a projection keeps ITS order, wherever the partition column sits
    assert(v2(t).select("payload", "part", "id").columns.toSeq ===
      Seq("payload", "part", "id"))
    assert(v2(t).select("payload", "part", "id").head().toSeq.map(_.getClass.getSimpleName)
      === Seq("String", "Integer", "Long"))
    // deletion-vector path reorders too (row-based reader)
    TxStore.deleteVectored(spark, t, col("id") === 2L)
    assert(v2(t).columns.toSeq === Seq("part", "id", "payload"))
    assertReads(t, want.filterNot(_(1) == 2L))
  }

  /** The rows a read of `t` at `version` must return, computed without
    * graft's reader: a raw parquet read of the snapshot's live files
    * under the log schema, the marked positions removed here, and the
    * physical columns named as the column mapping says. */
  private def oracle(t: String, version: Long): Seq[Seq[Any]] = {
    val snap = TxStore.snapshotAt(spark, t, version)
    val phys = snap.schema.get
    def leaf(f: String) = f.substring(f.lastIndexOf('/') + 1)
    val raw = spark.read.schema(phys).option("basePath", s"$t/data")
      .parquet(snap.files.map(f => s"$t/data/$f"): _*)
      .select(phys.fieldNames.toSeq.map(col) ++ Seq(
        col("_metadata.file_name").as("leaf"), col("_metadata.row_index").as("pos")): _*)
      .collect()
    val inline = snap.dv.toSeq.flatMap { case (f, ps) => ps.map(p => (leaf(f), p)) }
    val sidecar = snap.dvp.toSeq.flatMap { case (f, dirs) =>
      dirs.flatMap(d => spark.read.parquet(s"$t/_txlog/_sidecar/$d")
        .filter(col("__file") === leaf(f)).collect().map(r => (r.getString(0), r.getLong(1))))
    }
    val marked = (inline ++ sidecar).toSet
    val physOrder = if (snap.mapping.isEmpty) phys.fieldNames.toSeq else snap.mapping.map(_._2)
    raw.toSeq.filterNot(r => marked((r.getAs[String]("leaf"), r.getAs[Long]("pos"))))
      .map(r => physOrder.map(r.getAs[Any]))
  }

  /** Run `df`, then check that each graft scan in its executed plan
    * reports the four scan metrics, the kept count its own record's. */
  private def assertScanMetrics(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
      }
    assert(scans.nonEmpty, s"no graft scan in\n${df.queryExecution.executedPlan}")
    scans.foreach { b =>
      val keys = Seq("filesKept", "filesSkipped", "runtimeFilters", "aggregatePushed")
      assert(keys.forall(b.metrics.contains), s"metrics ${b.metrics.keys}")
      assert(b.metrics("filesKept").value ===
        b.scan.asInstanceOf[GraftScan].planned.kept.size.toLong)
    }
  }

  test("a vectored delete in one partition leaves reads of the others columnar") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val t = tmpDir()
    TxStore.append((0 until 90).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "payload", "bucket"), t, partitionBy = Seq("bucket"))
    TxStore.deleteVectored(spark, t, col("bucket") === "p1" && col("id") < 30L)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.dv.nonEmpty && snap.dv.keys.forall(_.contains("bucket=p1")), snap.dv.keys)
    def scanExec(df: DataFrame): BatchScanExec = {
      df.collect()
      val scans = new AdaptiveSparkPlanHelper {}
        .collectWithSubqueries(df.queryExecution.executedPlan) {
          case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
        }
      assert(scans.size === 1, df.queryExecution.executedPlan)
      scans.head
    }
    // readWhere pins a snapshot of its kept files; a filter on a whole
    // read prunes inside the scan, against the full snapshot's marks
    for (other <- Seq(TxStore.readWhere(spark, t, col("bucket") === "p0"),
        TxStore.read(spark, t).filter(col("bucket") === "p0"))) {
      assert(scanExec(other).supportsColumnar, "no kept file is marked: the scan stays columnar")
      assertRows(other.select("id", "payload"), expected((0 until 90).filter(_ % 3 == 0)))
    }
    val all = TxStore.read(spark, t)
    assert(!scanExec(all).supportsColumnar, "a kept marked file needs the row-based reader")
    assertRows(all.select("id", "payload"),
      expected((0 until 90).filterNot(i => i % 3 == 1 && i < 30)))
  }

  test("two reads of one TxStore frame plan equal scans, so the plan reuses their exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val t = tmpDir()
    TxStore.append(rows(100).repartition(4), t)
    val r = TxStore.read(spark, t)
    val byKey = r.groupBy((col("id") % 10).as("k")).count()
    val both = byKey.union(byKey)
    assert(both.collect().length === 20)
    val reused = new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(both.queryExecution.executedPlan) { case e: ReusedExchangeExec => e }
    assert(reused.nonEmpty, s"no reused exchange in\n${both.queryExecution.executedPlan}")
  }

  test("TxStore reads of a marked, partitioned, column-mapped table equal a raw-parquet oracle") {
    val t = tmpDir()
    def part(n: Int, from: Int) =
      (from until from + n).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toDF("id", "payload", "bucket")
    TxStore.append(part(60, 0), t, partitionBy = Seq("bucket")) // v1
    TxStore.append(part(40, 60), t) // v2
    TxStore.renameColumn(spark, t, "payload", "note") // v3
    TxStore.deleteVectored(spark, t, col("id") % 7 === 0L) // v4: inline marks
    TxStore.deleteVectoredBulk(spark, t, col("id") >= 80L) // v5: parquet marks
    TxStore.append(part(10, 100).withColumnRenamed("payload", "note"), t) // v6
    val snap = TxStore.snapshot(spark, t)
    assert(snap.version === 6L && snap.dv.nonEmpty && snap.dvp.nonEmpty && snap.mapping.nonEmpty)
    val cols = Seq("id", "note", "bucket")

    val now = TxStore.read(spark, t)
    assertRows(now.select(cols.map(col): _*), oracle(t, 6))
    assertScanMetrics(now)
    val v2Read = TxStore.readAt(spark, t, 2)
    assertRows(v2Read.select("id", "payload", "bucket"), oracle(t, 2))
    assertScanMetrics(v2Read)
    val v5Read = TxStore.readAt(spark, t, 5)
    assertRows(v5Read.select(cols.map(col): _*), oracle(t, 5))
    assertScanMetrics(v5Read)

    val pred = col("id") < 40L && col("bucket") === "p1"
    val where = TxStore.readWhere(spark, t, pred)
    assertRows(where.select(cols.map(col): _*),
      oracle(t, 6).filter(r => r(0).asInstanceOf[Long] < 40L && r(2) == "p1"))
    assertScanMetrics(where)
    val (_, kept, _) = TxStore.pruneFiles(spark, t, pred)
    assert(GraftScan.planned(where).flatMap(_.kept).toSet === kept.toSet,
      "readWhere reads exactly the files pruneFiles keeps")

    // each commit's change rows: what left the oracle, what joined it
    def diff(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Seq[Seq[Any]] =
      b.foldLeft(a)((rest, r) => rest.diff(Seq(r)))
    for (v <- Seq(4L, 5L, 6L)) {
      val changes = TxStore.readChangesBetween(spark, t, v - 1, v)
      val (before, after) = (oracle(t, v - 1), oracle(t, v))
      assertRows(changes.filter(col("_change_type") === "delete").select(cols.map(col): _*),
        diff(before, after))
      assertRows(changes.filter(col("_change_type") === "insert").select(cols.map(col): _*),
        diff(after, before))
      assertScanMetrics(changes)
    }
  }
}
