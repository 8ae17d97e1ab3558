package graft

import java.nio.file.Files

/** Drives the CLI dispatcher (Main.run) end-to-end against sf0.001 —
  * the product surface a reference user actually invokes. */
class CliSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-cli").toString

  test("clean-corpus step writes survivors matching the operator output") {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "clean-corpus",
      "data-dir" -> sf("sf0.001"),
      "out-dir" -> out))
    val written = spark.read.parquet(s"$out/clean_corpus")
    val direct = ops.CorpusClean.cleanClustered(Tables.documents(spark, sf("sf0.001")))
    assert(written.count() === direct.count())
    assert(written.columns.toSeq ===
      Seq("doc_id", "n_chars", "n_tokens", "stopword_ratio"))
    // survivor sets identical, not just same size
    assert(written.select("doc_id").except(direct.select("doc_id")).count() === 0)
  }

  test("greedy survivor rule drops at least as many docs as clustering") {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "clean-corpus", "data-dir" -> sf("sf0.001"),
      "out-dir" -> out, "survivor-rule" -> "greedy"))
    val greedy = spark.read.parquet(s"$out/clean_corpus").count()
    val clustered = ops.CorpusClean.cleanClustered(
      Tables.documents(spark, sf("sf0.001"))).count()
    assert(greedy <= clustered) // greedy over-drops on transitive chains
  }

  test("the full attribution pipeline runs through the CLI dispatcher") {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "all", "data-dir" -> sf("sf0.001"), "out-dir" -> out))
    assert(spark.read.parquet(s"$out/attribution_customer_journey").count() > 0)
    assert(spark.read.option("header", "true").csv(s"$out/channel_reporting").count() > 0)
  }

  test("unknown steps and flags fail loudly") {
    intercept[RuntimeException] {
      Main.run(spark, Map("step" -> "clean-corpse", "data-dir" -> sf("sf0.001")))
    }
    intercept[RuntimeException] {
      Main.run(spark, Map(
        "step" -> "clean-corpus", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "survivor-rule" -> "fastest"))
    }
  }

  test("sql step: the flagship report as one SQL file matches the Scala pipeline") {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "query" -> "sql/flagship_report.sql"))
    val viaSql = spark.read.parquet(s"$out/sql_result")
    val viaScala = SparkEntry.queries("flagship_report")(spark, sf("sf0.001"))
    assert(viaSql.columns.toSeq === viaScala.columns.toSeq)
    assert(viaSql.count() === viaScala.count() && viaSql.count() > 0)
    assert(viaSql.exceptAll(viaScala).isEmpty && viaScala.exceptAll(viaSql).isEmpty,
      "SQL-step result must row-match the DataFrame flagship")
  }

  test("sql step: --tx registers transactional tables beside the fixture views") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/txtbl"
    graft.sources.TxStore.append(
      Tables.events(spark, sf("sf0.001")).filter(col("event_id") % 7 === 0), table)
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mytx=$table",
      "sql" -> ("SELECT t.event_type, COUNT(*) AS n FROM mytx t " +
        "JOIN events e ON t.event_id = e.event_id GROUP BY 1")))
    val got = spark.read.parquet(s"$out/sql_result")
    assert(got.columns.toSeq === Seq("event_type", "n"))
    assert(got.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0) ===
      Tables.events(spark, sf("sf0.001")).filter(col("event_id") % 7 === 0).count())
    // malformed --tx refuses loudly
    intercept[RuntimeException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> "nopath", "sql" -> "SELECT 1"))
    }
  }

  test("sql step: a --tx name shadows the fixture view of that name for reads and writes") {
    import org.apache.spark.sql.functions.col
    val table = s"${tmp()}/evshadow"
    val ev = Tables.events(spark, sf("sf0.001"))
    val mine = ev.filter(col("event_id") % 5 === 0)
    graft.sources.TxStore.append(mine, table)
    def step(sql: String) = {
      val out = tmp()
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"events=$table", "sql" -> sql))
      spark.read.parquet(s"$out/sql_result")
    }
    val n = mine.count()
    assert(n < ev.count())
    assert(step("SELECT COUNT(*) FROM events").as[Long].head === n)
    // a write to the name lands in the same table a read then sees
    step("DELETE FROM events WHERE event_id % 10 = 0")
    val left = mine.filter(col("event_id") % 10 =!= 0).count()
    assert(left < n && graft.sources.TxStore.read(spark, table).count() === left)
    assert(step("SELECT COUNT(*) FROM events").as[Long].head === left)
    step("ALTER TABLE events ADD COLUMN note STRING")
    assert(graft.sources.TxStore.read(spark, table).columns.contains("note"))
    // the other fixture views still resolve
    assert(step("SELECT COUNT(*) FROM sessions").as[Long].head > 0)
  }

  test("sql step: names outside --tx resolve in Spark's session catalog") {
    val dir = tmp()
    val table = s"$dir/rtx"
    graft.sources.TxStore.append(Tables.events(spark, sf("sf0.001")).limit(10), table)
    def step(sql: String) = {
      val out = tmp()
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"rtx=$table", "sql" -> sql))
      spark.read.parquet(s"$out/sql_result")
    }
    spark.sql(s"CREATE TABLE cli_meta USING parquet LOCATION '$dir/meta' " +
      "AS SELECT id FROM range(3)")
    try {
      // a metastore table, unqualified and database-qualified, beside a --tx name
      assert(step("SELECT (SELECT COUNT(*) FROM cli_meta) AS a, " +
        "(SELECT COUNT(*) FROM default.cli_meta) AS b, (SELECT COUNT(*) FROM rtx) AS c")
        .as[(Long, Long, Long)].head === ((3L, 3L, 10L)))
      assert(step("SHOW TABLES").select("tableName").as[String].collect().toSet
        .intersect(Set("cli_meta", "rtx")) === Set("cli_meta", "rtx"))
      // a plain CREATE TABLE lands in the metastore the caller sees
      graft.sources.TxCatalog.session(spark, graft.sources.TxCatalog.parse(spark, s"rtx=$table"))
        .sql(s"CREATE TABLE cli_made (a INT) USING parquet LOCATION '$dir/made'")
      assert(spark.catalog.tableExists("cli_made"))
      assert(step("SELECT current_catalog()").as[String].head === "spark_catalog")
      // a --tx name is not a metastore table: it cannot be dropped
      intercept[UnsupportedOperationException](step("DROP TABLE rtx"))
      assert(graft.sources.TxStore.read(spark, table).count() === 10)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cli_meta")
      spark.sql("DROP TABLE IF EXISTS cli_made")
    }
  }

  test("sql step: DELETE and UPDATE DML on a --tx view translate to the TxStore API") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/dmltbl"
    val ev = Tables.events(spark, sf("sf0.001")).filter(col("event_id") % 7 === 0)
    graft.sources.TxStore.append(ev, table)
    // twin table driven through the Scala API — SQL DML must be ≡
    val twin = s"$dir/twintbl"
    graft.sources.TxStore.append(ev, twin)
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"evtx=$table",
      "sql" -> "DELETE FROM evtx WHERE evtx.event_type = 'view'"))
    graft.sources.TxStore.delete(spark, twin, col("event_type") === "view")
    val viaSql = graft.sources.TxStore.read(spark, table)
    assert(viaSql.filter(col("event_type") === "view").count() === 0)
    assert(viaSql.count() === graft.sources.TxStore.read(spark, twin).count())
    // the commit went through the same log machinery
    assert(graft.sources.TxStore.history(spark, table).last.op === "delete")
    // the step result is the commit's own CHANGED ROWS (CDF), not a
    // full-table re-land: exactly the deleted 'view' rows, tagged
    val changed = spark.read.parquet(s"$out/sql_result")
    assert(changed.count() === ev.filter(col("event_type") === "view").count())
    assert(changed.select("_change_type").distinct().as[String].collect().toSeq
      === Seq("delete"))

    // UPDATE with an expression assignment and WHERE
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
      "tx" -> s"evtx=$table",
      "sql" -> "UPDATE evtx SET value = value * 2 WHERE event_type = 'click'"))
    graft.sources.TxStore.update(spark, twin, col("event_type") === "click",
      Map("value" -> (col("value") * 2)))
    val sq = graft.sources.TxStore.read(spark, table)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    val tw = graft.sources.TxStore.read(spark, twin)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(sq === tw)

    // DML against a view that is no table refuses loudly (Spark's error)
    val ex = intercept[org.apache.spark.SparkException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "sql" -> "DELETE FROM events WHERE event_id = 1"))
    }
    assert(ex.getMessage.contains("Unexpected table relation"), ex.getMessage)
  }

  test("sql step: MERGE INTO a --tx view runs the keyed conditional merge") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/mergetbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.filter(col("event_id") % 10 =!= 0), table)
    val twin = s"$dir/mergetwin"
    graft.sources.TxStore.append(ev.filter(col("event_id") % 10 =!= 0), twin)
    // the update wave as a --tx table for USING (the step's session sees
    // the fixture views and --tx names, not the caller's temp views)
    val wave = s"$dir/wave"
    graft.sources.TxStore.append(
      ev.filter(col("event_id") % 5 === 0).withColumn("value", -col("value")), wave)
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
      "tx" -> s"evtx=$table,wave=$wave",
      "sql" -> ("MERGE INTO evtx AS t USING wave AS s ON t.event_id = s.event_id " +
        "WHEN MATCHED AND t.event_type = 'click' THEN UPDATE SET * " +
        "WHEN MATCHED AND t.event_type = 'purchase' THEN DELETE " +
        "WHEN NOT MATCHED AND s.user_id % 2 = 0 THEN INSERT *")))
    graft.sources.TxStore.mergeConditional(spark, twin,
      graft.sources.TxStore.read(spark, wave), keys = Seq("event_id"),
      matchedUpdate = Some(col("t.event_type") === "click"),
      matchedDelete = Some(col("t.event_type") === "purchase"),
      notMatchedInsert = Some(col("s.user_id") % 2 === 0))
    val sq = graft.sources.TxStore.read(spark, table)
      .select("event_id", "event_type", "value").as[(Long, String, Double)]
      .collect().toSet
    val tw = graft.sources.TxStore.read(spark, twin)
      .select("event_id", "event_type", "value").as[(Long, String, Double)]
      .collect().toSet
    assert(sq === tw && sq.nonEmpty)
    assert(graft.sources.TxStore.history(spark, table).last.op === "merge")
    // untranslatable shapes refuse with the reason, not a silent no-op
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"evtx=$table,wave=$wave",
        "sql" -> ("MERGE INTO evtx t USING wave s ON t.event_id > s.event_id " +
          "WHEN MATCHED THEN UPDATE SET *")))
    }
    assert(ex.getMessage.contains("MERGE ON"))
  }

  test("sql step: INSERT INTO / OVERWRITE / OVERWRITE PARTITION on a --tx view") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/instbl"
    // partitioned three-bucket table
    val zrows = (0 until 30).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "payload", "bucket")
    graft.sources.TxStore.append(zrows, table, partitionBy = Seq("bucket"))
    def run(sql: String): Unit =
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"instbl=$table", "sql" -> sql))
    // plain INSERT INTO appends by position, inheriting the layout
    run("INSERT INTO instbl VALUES (100, 'x', 'p0'), (101, 'y', 'p1')")
    assert(graft.sources.TxStore.read(spark, table).count() === 32)
    assert(graft.sources.TxStore.history(spark, table).last.op === "append")
    assert(graft.sources.TxStore.snapshot(spark, table).files.forall(_.contains("bucket=")))
    // static-PARTITION insert: the spec pins the partition column
    run("INSERT INTO instbl PARTITION (bucket='p2') VALUES (102, 'z')")
    assert(graft.sources.TxStore.read(spark, table)
      .filter(col("id") === 102L).select("bucket").head.getString(0) === "p2")
    // INSERT OVERWRITE PARTITION replaces exactly the addressed region
    run("INSERT OVERWRITE instbl PARTITION (bucket='p0') VALUES (200, 'n')")
    assert(graft.sources.TxStore.history(spark, table).last.op === "replace-where")
    val p0 = graft.sources.TxStore.read(spark, table).filter(col("bucket") === "p0")
      .select("id").as[Long].collect().toSet
    assert(p0 === Set(200L), s"p0 must hold only the overwrite batch, got $p0")
    assert(graft.sources.TxStore.read(spark, table)
      .filter(col("bucket") === "p1").count() === 11, "p1 untouched")
    // full INSERT OVERWRITE replaces the table, layout preserved
    run("INSERT OVERWRITE instbl VALUES (1, 'a', 'p0'), (2, 'b', 'p1')")
    assert(graft.sources.TxStore.read(spark, table).count() === 2)
    assert(graft.sources.TxStore.snapshot(spark, table).files.forall(_.contains("bucket=")),
      "overwrite keeps the hive layout")
    // arity mismatch refuses before anything commits (Spark's analyzer)
    val ex = intercept[org.apache.spark.sql.AnalysisException](run("INSERT INTO instbl VALUES (1)"))
    assert(ex.getMessage.contains("INSERT_COLUMN_ARITY_MISMATCH"), ex.getMessage)
    // a PARTITION clause naming a DATA column refuses — it would
    // silently clobber that column with the constant
    val ex2 = intercept[org.apache.spark.sql.AnalysisException](
      run("INSERT INTO instbl PARTITION (payload='z') VALUES (103, 'p1')"))
    assert(ex2.getMessage.contains("non-partition column"))
    // dynamic partition overwrite of an empty batch is a no-op
    val before = graft.sources.TxStore.history(spark, table).size
    dynamicOverwrite(run("INSERT OVERWRITE instbl PARTITION (bucket) " +
      "SELECT id, payload, bucket FROM instbl WHERE id < 0"))
    assert(graft.sources.TxStore.history(spark, table).size === before,
      "empty dynamic overwrite must not commit")
    // duplicate UPDATE SET targets refuse
    val ex3 = intercept[IllegalArgumentException](
      run("UPDATE instbl SET payload = 'a', payload = 'b'"))
    assert(ex3.getMessage.contains("duplicate"))
  }

  test("sql step: MERGE column assignments + NOT MATCHED BY SOURCE ≡ the Scala clause API") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.sources.TxStore.MergeClause._
    val dir = tmp()
    def seed(path: String): Unit =
      graft.sources.TxStore.append(
        (0L to 9L).map(i => (i, s"p$i", i.toDouble)).toDF("id", "payload", "score"), path)
    val table = s"$dir/clausetbl"; seed(table)
    val twin = s"$dir/clausetwin"; seed(twin)
    val cwave = s"$dir/cwave"
    graft.sources.TxStore.append(
      (6L to 12L).map(i => (i, s"s$i", i * 10.0)).toDF("id", "payload", "score"), cwave)
    val tx = s"ct=$table,cwave=$cwave"
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
      "tx" -> tx,
      "sql" -> ("MERGE INTO ct AS t USING cwave AS s ON t.id = s.id " +
        "WHEN MATCHED AND t.id < 8 THEN UPDATE SET payload = t.payload || '+' || s.payload, " +
        "  score = t.score + s.score " +
        "WHEN MATCHED THEN DELETE " +
        "WHEN NOT MATCHED AND s.id <= 11 THEN INSERT (id, score) VALUES (s.id, s.score) " +
        "WHEN NOT MATCHED BY SOURCE AND t.id <= 1 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.id <= 3 THEN UPDATE SET payload = 'stale'")))
    graft.sources.TxStore.mergeClauses(spark, twin, graft.sources.TxStore.read(spark, cwave),
      Seq("id"), Seq(
      MatchedUpdate(Some(col("t.id") < 8L), Some(Map(
        "payload" -> concat(col("t.payload"), lit("+"), col("s.payload")),
        "score" -> (col("t.score") + col("s.score"))))),
      MatchedDelete(None),
      NotMatchedInsert(Some(col("s.id") <= 11L), Some(Map(
        "id" -> col("s.id"), "score" -> col("s.score")))),
      NotMatchedBySourceDelete(Some(col("t.id") <= 1L)),
      NotMatchedBySourceUpdate(Some(col("t.id") <= 3L), Map("payload" -> lit("stale")))))
    val sq = graft.sources.TxStore.read(spark, table)
      .as[(Long, Option[String], Double)].collect().toSet
    val tw = graft.sources.TxStore.read(spark, twin)
      .as[(Long, Option[String], Double)].collect().toSet
    assert(sq === tw && sq.nonEmpty, s"SQL $sq != Scala twin $tw")
    assert(sq.exists(_._2.isEmpty), "column-list INSERT leaves unassigned columns NULL")
    // a BY SOURCE clause referencing the source refuses loudly (Spark
    // resolves BY SOURCE clauses against the target only)
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> tx,
        "sql" -> ("MERGE INTO ct t USING cwave s ON t.id = s.id " +
          "WHEN NOT MATCHED BY SOURCE AND s.score > 0 THEN DELETE")))
    }
    assert(ex.getMessage.contains("UNRESOLVED_COLUMN"), ex.getMessage)
    // duplicate SET targets inside a merge clause refuse
    val ex2 = intercept[IllegalArgumentException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> tx,
        "sql" -> ("MERGE INTO ct t USING cwave s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET payload = 'a', payload = 'b'")))
    }
    assert(ex2.getMessage.contains("duplicate"), ex2.getMessage)
  }

  test("sql step: MERGE USING a subquery; DELETE without WHERE empties the table") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/subqtbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.filter(col("event_id") % 4 === 0), table)
    // USING (subquery) — the source is planned through Catalyst like
    // any query; the whole fixture catalog is in scope
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
      "tx" -> s"evtx=$table",
      "sql" -> ("MERGE INTO evtx t USING " +
        "(SELECT event_id, ts, user_id, event_type, -value AS value, props " +
        " FROM events WHERE event_id % 2 = 0) s " +
        "ON t.event_id = s.event_id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")))
    val got = graft.sources.TxStore.read(spark, table)
    // all %2==0 fixture rows are now present with negated value
    assert(got.count() === ev.filter(col("event_id") % 2 === 0).count())
    assert(got.filter(col("value") > 0).count() === 0, "every merged row negated")
    // DELETE with no WHERE: SQL semantics = all rows
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
      "tx" -> s"evtx=$table", "sql" -> "DELETE FROM evtx"))
    assert(graft.sources.TxStore.read(spark, table).count() === 0)
    // …and the table is still appendable (schema intact in the log)
    graft.sources.TxStore.append(ev.limit(5), table)
    assert(graft.sources.TxStore.read(spark, table).count() === 5)
  }

  test("sql step: a query prints each graft scan's pruning, read from its own plan") {
    import org.apache.spark.sql.functions.col
    val table = s"${tmp()}/readtbl"
    graft.sources.TxStore.append(
      Tables.events(spark, sf("sf0.001")).repartitionByRange(8, col("event_id")), table)
    val (_, kept, skipped) =
      graft.sources.TxStore.pruneFiles(spark, table, col("event_id") <= 100L)
    assert(skipped.nonEmpty, "range layout + selective predicate must skip files")
    val out = tmp()
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"rtx=$table", "sql" -> "SELECT event_id FROM rtx WHERE event_id <= 100"))
    }
    val lines = stdout.toString.linesIterator.filter(_.startsWith("[graft] sql scan")).toSeq
    assert(lines === Seq(s"[graft] sql scan on 'rtx' @v1: skipped ${skipped.size} of " +
      s"${kept.size + skipped.size} files from log metadata"), stdout.toString)
    assert(spark.read.parquet(s"$out/sql_result").count() ===
      graft.sources.TxStore.read(spark, table).filter(col("event_id") <= 100L).count())
    // an aggregate answered from log facts reads no file, and says so
    val aggOut = new java.io.ByteArrayOutputStream()
    Console.withOut(aggOut) {
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
        "tx" -> s"rtx=$table", "sql" -> "SELECT (SELECT COUNT(*) FROM rtx VERSION AS OF 1) AS n"))
    }
    assert(aggOut.toString.linesIterator.filter(_.startsWith("[graft] sql scan")).toSeq ===
      Seq("[graft] sql scan on 'rtx' @v1: aggregate answered from log metadata, no file read"),
      aggOut.toString)
  }

  test("sql step: the pruning line reports the scan that ran, runtime filters included") {
    val dir = tmp()
    val (fact, dim) = (s"$dir/fact", s"$dir/dim")
    // fact partitioned by region, one file each; only regions 6 and 7
    // survive the dim's filter, which prunes fact files at execution
    graft.sources.TxStore.append((0 until 800).map(i => (i.toLong, i % 8, i * 2.0))
      .toDF("order_id", "region_id", "amount"), fact, partitionBy = Seq("region_id"))
    graft.sources.TxStore.append((0 until 8).map(i => (i, if (i >= 6) "keep" else "drop"))
      .toDF("r_id", "flag"), dim)
    val tx = s"fact=$fact,dim=$dim"
    val sql = "SELECT /*+ BROADCAST(d) */ f.order_id, f.amount FROM fact f " +
      "JOIN dim d ON f.region_id = d.r_id WHERE d.flag = 'keep'"
    val df = graft.sources.TxCatalog.session(spark, graft.sources.TxCatalog.parse(spark, tx)).sql(sql)
    assert(df.collect().length === 200)
    val planned = graft.sources.GraftScan.planned(df)
    val factScan = planned.find(_.runtimeFilterCount > 0)
      .getOrElse(fail(s"no runtime filter reached the fact scan: $planned"))
    assert(factScan.skipped.nonEmpty, s"the runtime filter must prune fact files: $factScan")
    def line(name: String, p: graft.sources.GraftScan.Planned) =
      s"[graft] sql scan on '$name' @v${p.version}: skipped ${p.skipped.size} of " +
        s"${p.kept.size + p.skipped.size} files from log metadata"
    val want = planned.map(p => line(if (p eq factScan) "fact" else "dim", p)).toSet
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(stdout) {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
        "tx" -> tx, "sql" -> sql))
    }
    val lines = stdout.toString.linesIterator.filter(_.startsWith("[graft] sql scan")).toSet
    assert(lines === want, stdout.toString)
  }

  test("sql step: tx reads prune files from log metadata; VERSION/TIMESTAMP AS OF syntax") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/readtbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.repartitionByRange(8, col("event_id")), table) // v1
    // the SQL path must skip the SAME file set readWhere skips…
    val (_, kept, skipped) =
      graft.sources.TxStore.pruneFiles(spark, table, col("event_id") <= 100L)
    assert(skipped.nonEmpty, "range layout + selective predicate must skip files")
    val session = graft.sources.TxCatalog.session(spark,
      graft.sources.TxCatalog.parse(spark, s"rtx=$table"))
    def scanned(sql: String): (Long, graft.sources.GraftScan.Planned) = {
      val df = session.sql(sql)
      val n = df.collect().length.toLong
      (n, graft.sources.GraftScan.planned(df).find(_.kept.nonEmpty)
        .getOrElse(fail(s"the scan kept no file for: $sql")))
    }
    val (n, planned) = scanned("SELECT event_id, value FROM rtx WHERE rtx.event_id <= 100")
    assert((planned.kept.toSet, planned.skipped.toSet) === ((kept.toSet, skipped.toSet)),
      "SQL pruning must decide exactly as readWhere's stats walk")
    // …and return the rows of an unpruned read
    val viaApi = graft.sources.TxStore.read(spark, table).filter(col("event_id") <= 100L)
      .select("event_id", "value").as[(Long, Double)].collect().toSet
    assert(session.sql("SELECT event_id, value FROM rtx WHERE event_id <= 100")
      .as[(Long, Double)].collect().toSet === viaApi && n === viaApi.size.toLong && n > 0)
    // a conjunct the walk can't interpret weakens pruning, never drops rows
    val (mixed, _) = scanned(
      "SELECT event_id FROM rtx WHERE event_id <= 100 AND length(event_type) > 0")
    assert(mixed === viaApi.size.toLong)
    // VERSION AS OF n ≡ readAt(n) ≡ the @vN-flag registration
    graft.sources.TxStore.delete(spark, table, col("event_type") === "view") // v2
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"rtx=$table,rold=$table@v1",
      "sql" -> ("SELECT (SELECT COUNT(*) FROM rtx VERSION AS OF 1) AS syntax, " +
        "(SELECT COUNT(*) FROM rold) AS flag, (SELECT COUNT(*) FROM rtx) AS now")))
    val r = spark.read.parquet(s"$out/sql_result").head
    val atV1 = graft.sources.TxStore.readAt(spark, table, 1L).count()
    assert(r.getLong(0) === atV1 && r.getLong(1) === atV1,
      s"VERSION AS OF must equal readAt and the @vN flag path: $r vs $atV1")
    assert(r.getLong(2) < atV1, "the current view sees the delete")
    // TIMESTAMP AS OF a post-commit instant resolves to the latest version
    val out2 = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out2,
      "tx" -> s"rtx=$table",
      "sql" -> "SELECT COUNT(*) AS n FROM rtx TIMESTAMP AS OF '2100-01-01'"))
    assert(spark.read.parquet(s"$out2/sql_result").head.getLong(0)
      === graft.sources.TxStore.read(spark, table).count())
    // pruning composes with time travel: the v1 filter must skip files too
    val (prunedV1, tt) =
      scanned("SELECT event_id FROM rtx VERSION AS OF 1 WHERE event_id <= 100")
    assert(tt.version === 1L && tt.skipped.nonEmpty)
    assert(prunedV1 ===
      graft.sources.TxStore.readAt(spark, table, 1L).filter(col("event_id") <= 100L).count())
  }

  test("sql step: a one-partition DELETE lands exactly its changed rows as the artifact") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/pdeltbl"
    val rows = (0 until 300).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "payload", "bucket")
    graft.sources.TxStore.append(rows, table, partitionBy = Seq("bucket"))
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"pd=$table", "sql" -> "DELETE FROM pd WHERE bucket = 'p1'"))
    // metadata-only commit (whole-partition removes, zero adds)…
    val c = graft.sources.TxStore.history(spark, table).last
    assert(c.op === "delete" && c.add.isEmpty && c.remove.nonEmpty)
    // …whose artifact is exactly the 100 deleted rows, never the table
    val changed = spark.read.parquet(s"$out/sql_result")
    assert(changed.count() === 100)
    assert(changed.filter(col("_change_type") =!= "delete").count() === 0)
    assert(changed.select("id").as[Long].collect().toSet
      === (0 until 300).filter(_ % 3 == 1).map(_.toLong).toSet)
  }

  test("sql step: CTAS round-trip — create, query, DML, time travel on the created table") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/ctastbl"
    def run(sql: String, txArg: Option[String] = None, out: String = tmp()): String = {
      val base = Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> out, "sql" -> sql)
      Main.run(spark, txArg.fold(base)(t => base + ("tx" -> t)))
      out
    }
    // CREATE … USING graft PARTITIONED BY … AS SELECT over the fixture
    // catalog, on a --tx name whose path holds no table yet
    run("CREATE TABLE ctas USING graft PARTITIONED BY (event_type) " +
      "AS SELECT event_id, user_id, event_type, value FROM events WHERE event_id % 9 = 0",
      Some(s"ctas=$table"))
    assert(graft.sources.TxStore.isTable(spark, table))
    assert(graft.sources.TxStore.tablePartitioning(spark, table) === Seq("event_type"))
    val n0 = graft.sources.TxStore.read(spark, table).count()
    assert(n0 === Tables.events(spark, sf("sf0.001"))
      .filter(col("event_id") % 9 === 0).count() && n0 > 0)
    assert(graft.sources.TxStore.history(spark, table).map(_.op) === Seq("append"),
      "v1 holds the rows")
    // SELECT through --tx sees the created table
    val out1 = run("SELECT COUNT(*) AS n FROM ctas", Some(s"ctas=$table"))
    assert(spark.read.parquet(s"$out1/sql_result").head.getLong(0) === n0)
    // DML on it (partition delete), then time travel back to v1
    run("DELETE FROM ctas WHERE event_type = 'click'", Some(s"ctas=$table"))
    val out2 = run("SELECT (SELECT COUNT(*) FROM ctas VERSION AS OF 1) AS before, " +
      "(SELECT COUNT(*) FROM ctas) AS after", Some(s"ctas=$table"))
    val r = spark.read.parquet(s"$out2/sql_result").head
    assert(r.getLong(0) === n0 && r.getLong(1) < n0)
    // a second CTAS on the name refuses (Spark's table-exists error);
    // IF NOT EXISTS no-ops
    val ex = intercept[org.apache.spark.sql.AnalysisException](
      run("CREATE TABLE ctas USING graft AS SELECT 1 AS x", Some(s"ctas=$table")))
    assert(ex.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"), ex.getMessage)
    run("CREATE TABLE IF NOT EXISTS ctas USING graft AS SELECT 1 AS x", Some(s"ctas=$table"))
    assert(graft.sources.TxStore.snapshot(spark, table).version === 2L, "no-op kept v2")
    // …and a non-empty non-table location refuses (the cloneTable rule)
    val occupied = s"$dir/occupied"
    Tables.events(spark, sf("sf0.001")).limit(1).write.parquet(occupied)
    val ex2 = intercept[IllegalArgumentException](
      run("CREATE TABLE o USING graft AS SELECT 1 AS x", Some(s"o=$occupied")))
    assert(ex2.getMessage.contains("not empty"), ex2.getMessage)
    // a plain CREATE TABLE would create nothing at a --tx path: refused
    val ex3 = intercept[IllegalArgumentException](
      run("CREATE TABLE fresh (x INT) USING graft", Some(s"fresh=$dir/fresh")))
    assert(ex3.getMessage.contains("AS SELECT"), ex3.getMessage)
    assert(!graft.sources.TxStore.isTable(spark, s"$dir/fresh"))
  }

  test("sql step: --tx name=path@vN registers a read-only time-travel view") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/ttbl"
    graft.sources.TxStore.append(
      Tables.events(spark, sf("sf0.001")).filter(col("event_id") % 7 === 0), table) // v1
    val v1Count = graft.sources.TxStore.read(spark, table).count()
    graft.sources.TxStore.delete(spark, table, col("event_type") === "view") // v2
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"now=$table,then=$table@v1",
      "sql" -> "SELECT (SELECT COUNT(*) FROM then) AS before, (SELECT COUNT(*) FROM now) AS after"))
    val r = spark.read.parquet(s"$out/sql_result").head
    assert(r.getLong(0) === v1Count && r.getLong(1) < v1Count,
      s"time-travel view must read the pre-delete snapshot: $r")
    // DML against the @vN view refuses — you cannot write to the past
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"then=$table@v1",
        "sql" -> "DELETE FROM then WHERE event_id = 7"))
    }
    assert(ex.getMessage.contains("read-only"))
    // …and so does ALTER
    val exAlter = intercept[org.apache.spark.SparkException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"then=$table@v1",
        "sql" -> "ALTER TABLE then SET TBLPROPERTIES ('k'='v')"))
    }
    assert(exAlter.getMessage.contains("read-only"), exAlter.getMessage)
    assert(graft.sources.TxStore.snapshot(spark, table).version === 2L)
  }

  test("sql step hardening: no-op MERGE reports no commit; ON typo refuses; literal @vN paths") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/hardtbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.limit(20), table) // v1
    // an EMPTY USING source matches nothing: the step reports no
    // commit, not 'committed v1' (ADVICE r13)
    val session = graft.sources.TxCatalog.session(spark,
      graft.sources.TxCatalog.parse(spark, s"hard=$table"))
    session.sql("SELECT * FROM hard WHERE event_id < 0").createOrReplaceTempView("emptywave")
    val (changes, written) = graft.sources.TxCatalog.artifact(session.sql(
      "MERGE INTO hard t USING emptywave s ON t.event_id = s.event_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(written.map(_.op) === Some("merge"))
    assert(written.flatMap(_.version).isEmpty, s"no-op merge must report no commit, got $written")
    assert(changes.isEmpty)
    assert(graft.sources.TxStore.snapshot(spark, table).version === 1L)
    // 'ON t.k = t.k' — both sides qualify the TARGET (a typo): refuses
    // instead of silently running the keyed join on k (ADVICE r13)
    session.sql("SELECT * FROM hard LIMIT 5").createOrReplaceTempView("wave5")
    val ex = intercept[IllegalArgumentException] {
      session.sql("MERGE INTO hard t USING wave5 s ON t.event_id = t.event_id " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(ex.getMessage.contains("TARGET column"), ex.getMessage)
    // a literal table path whose last component ends in '@v<digits>' is
    // NOT a time-travel spec when the prefix isn't a table (ADVICE r13)
    val weird = s"$dir/weird@v2"
    graft.sources.TxStore.append(ev.limit(7), weird)
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"w=$weird", "sql" -> "SELECT COUNT(*) AS n FROM w"))
    assert(spark.read.parquet(s"$out/sql_result").head.getLong(0) === 7L)
    // …and when the prefix IS a table, a trailing '/' escapes to the literal
    val amb = s"$dir/amb"
    graft.sources.TxStore.append(ev.limit(3), amb) // a real table at the prefix
    graft.sources.TxStore.append(ev.limit(9), s"$amb@v1") // and a literal '@v1' sibling
    val out2 = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out2,
      "tx" -> s"a=$amb@v1/", "sql" -> "SELECT COUNT(*) AS n FROM a"))
    assert(spark.read.parquet(s"$out2/sql_result").head.getLong(0) === 9L,
      "trailing slash must escape the time-travel interpretation")
    // the LAST '@v' splits: an earlier '@v' inside the path is path text
    val vaulted = s"$dir/da@vault/vtbl"
    graft.sources.TxStore.append(ev.limit(4), vaulted)
    graft.sources.TxStore.append(ev.limit(2), vaulted) // v2
    val out3 = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out3,
      "tx" -> s"vv=$vaulted@v1", "sql" -> "SELECT COUNT(*) AS n FROM vv"))
    assert(spark.read.parquet(s"$out3/sql_result").head.getLong(0) === 4L,
      "a path containing '@v' must still time-travel on its SUFFIX")
    // a FUTURE version refuses — never silently the current state
    val exV = intercept[IllegalArgumentException](
      graft.sources.TxStore.readAt(spark, vaulted, 99L))
    assert(exV.getMessage.contains("does not exist"), exV.getMessage)
  }

  test("sql step: inline --sql over a fixture view; missing statement refuses") {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "sql" -> "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1"))
    val got = spark.read.parquet(s"$out/sql_result")
    assert(got.columns.toSeq === Seq("event_type", "n") && got.count() > 0)
    intercept[RuntimeException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp()))
    }
  }

  test("sql step: maintenance under a differently-cased name still advances the view") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/casetbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.filter(col("event_id") % 2 === 0), table) // v1
    graft.sources.TxStore.append(ev.filter(col("event_id") % 2 =!= 0), table) // v2
    val v1Count = ev.filter(col("event_id") % 2 === 0).count()
    // RESTORE spelled 'MT' against the registered name 'mt' resolves
    // case-insensitively (ADVICE r14)
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mt=$table", "sql" -> "RESTORE TABLE MT TO VERSION AS OF 1"))
    assert(spark.read.parquet(s"$out/sql_result")
      .select("restored_to").as[Long].head === 1L)
    // the name 'mt' advances: a later statement reads the POST-restore
    // snapshot, and the caller's session gained no view and kept its
    // current catalog
    val out2 = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out2,
      "tx" -> s"mt=$table", "sql" -> "SELECT COUNT(*) AS n FROM Mt"))
    assert(spark.read.parquet(s"$out2/sql_result").as[Long].head === v1Count)
    assert(!spark.catalog.tableExists("mt"), "--tx names are never temp views")
    assert(spark.catalog.currentCatalog() === "spark_catalog")
  }

  test("sql step: TBLPROPERTIES lifecycle — SET, SHOW, UNSET, DESCRIBE DETAIL") {
    val dir = tmp()
    val table = s"$dir/propstbl"
    graft.sources.TxStore.append(
      Tables.events(spark, sf("sf0.001")).limit(20), table)
    def sql(stmt: String): String = {
      val out = tmp()
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"mt=$table", "sql" -> stmt))
      s"$out/sql_result"
    }
    val set = spark.read.parquet(
      sql("ALTER TABLE mt SET TBLPROPERTIES ('team'='data-eng', 'pii'='false')"))
    // an ALTER lands its own commit's history row
    assert(set.select("op").as[String].collect().toSeq === Seq("set-properties"))
    val shown = spark.read.parquet(sql("SHOW TBLPROPERTIES mt"))
    assert(shown.columns.toSeq === Seq("key", "value"))
    assert(shown.as[(String, String)].collect().toMap ===
      Map("team" -> "data-eng", "pii" -> "false"))
    spark.read.parquet(sql("ALTER TABLE mt UNSET TBLPROPERTIES ('pii')"))
    assert(spark.read.parquet(sql("SHOW TBLPROPERTIES mt"))
      .as[(String, String)].collect().toMap === Map("team" -> "data-eng"))
    // a missing key refuses without IF EXISTS, no-ops with it
    intercept[IllegalArgumentException](sql("ALTER TABLE mt UNSET TBLPROPERTIES ('ghost')"))
    spark.read.parquet(sql("ALTER TABLE mt UNSET TBLPROPERTIES IF EXISTS ('ghost')"))
    // DESCRIBE DETAIL surfaces the property set
    val det = spark.read.parquet(sql("DESCRIBE DETAIL mt"))
    assert(det.select("properties").as[String].head === "team=data-eng")
  }

  test("sql step: VACUUM RETAIN n HOURS resolves wall-clock retention to versions") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/hourstbl"
    val ev = Tables.events(spark, sf("sf0.001")).limit(40)
    graft.sources.TxStore.append(ev, table) // v1
    graft.sources.TxStore.overwrite(ev.limit(20), table) // v2 — orphans v1
    graft.sources.TxStore.overwrite(ev.limit(10), table) // v3 — orphans v2
    graft.sources.TxStore.checkpoint(spark, table) // v4
    for (v <- Seq(1L, 2L)) // v1+v2 committed two hours ago, v3+v4 fresh
      assert(new java.io.File(f"$table/_txlog/$v%020d.json")
        .setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mt=$table",
      "sql" -> "VACUUM mt RETAIN 1 HOURS GRACE 0 MS DRY RUN"))
    val victims = spark.read.parquet(s"$out/sql_result").as[String].collect().sorted.toSeq
    // the 1-hour window resolves to 3 retained versions (v2 at the
    // edge, v3+v4 inside) — identical victims to the VERSIONS form
    assert(victims === graft.sources.TxStore.vacuumPreview(spark, table, 3, 0L).sorted)
    assert(victims.nonEmpty, "the aged layout must have reapable files (v1's)")

    // a BARE vacuum honors the table's own retention policy property
    // (graft.vacuum.retainHours); an explicit retainVersions property
    // wins over it; an explicit RETAIN clause would win over both
    def sqlOut(stmt: String): String = {
      val o = tmp()
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> o,
        "tx" -> s"mt=$table", "sql" -> stmt))
      s"$o/sql_result"
    }
    spark.read.parquet(sqlOut(
      "ALTER TABLE mt SET TBLPROPERTIES ('graft.vacuum.retainHours'='1')"))
    val viaProp = spark.read.parquet(sqlOut("VACUUM mt GRACE 0 MS DRY RUN"))
      .as[String].collect().sorted.toSeq
    assert(viaProp === victims, "bare VACUUM must resolve the hours property")
    spark.read.parquet(sqlOut(
      "ALTER TABLE mt SET TBLPROPERTIES ('graft.vacuum.retainVersions'='100')"))
    assert(spark.read.parquet(sqlOut("VACUUM mt GRACE 0 MS DRY RUN"))
      .as[String].collect().isEmpty,
      "retainVersions=100 (whole log) must win over retainHours and reap nothing")
  }

  test("sql step: CREATE TABLE SHALLOW CLONE publishes the snapshot at a new path") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/clonesrc"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.limit(50), table) // v1
    graft.sources.TxStore.setTableProperties(spark, table, Seq("team" -> "x")) // v2
    graft.sources.TxStore.deleteVectored(spark, table, col("event_id") % 10 === 1L) // v3
    val dest = s"$dir/clonedst"
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mt=$table", "sql" -> s"CREATE TABLE '$dest' SHALLOW CLONE mt"))
    val summary = spark.read.parquet(s"$out/sql_result")
    assert(summary.select("op").as[String].head === "shallow-clone")
    assert(summary.select("dest").as[String].head === dest)
    // the clone reads identically (DV marks restated) and carries the
    // property set; the source is untouched
    val src = graft.sources.TxStore.read(spark, table)
    val dst = graft.sources.TxStore.read(spark, dest)
    assert(dst.count() === src.count())
    assert(dst.exceptAll(src).isEmpty && src.exceptAll(dst).isEmpty)
    assert(graft.sources.TxStore.tableProperties(spark, dest).toMap === Map("team" -> "x"))
    assert(graft.sources.TxStore.snapshot(spark, dest).version === 1L)
    // an unknown clone source refuses loudly, with Spark's own error
    intercept[org.apache.spark.sql.AnalysisException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"mt=$table",
        "sql" -> s"CREATE TABLE '$dest' SHALLOW CLONE nosuchview"))
    }
  }

  test("sql step: OPTIMIZE / DESCRIBE HISTORY / RESTORE / VACUUM maintenance lifecycle") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/mainttbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(
      ev.filter(col("event_id") % 2 === 0).repartition(1), table) // v1
    for (w <- 0 until 4) // odd-id trickle: v2..v5
      graft.sources.TxStore.append(
        ev.filter(col("event_id") % 8 === 2 * w + 1).repartition(1), table)
    val before = graft.sources.TxStore.read(spark, table).count()
    def sql(stmt: String): String = {
      val out = tmp()
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"mt=$table", "sql" -> stmt))
      s"$out/sql_result"
    }

    // OPTIMIZE = bin-packing compact; readback row-identical, the
    // artifact is a one-row summary, never table data
    val opt = spark.read.parquet(sql("OPTIMIZE mt"))
    assert(opt.count() === 1)
    assert(opt.select("op").as[String].head === "optimize")
    assert(opt.select("rewrote").as[Boolean].head)
    assert(graft.sources.TxStore.history(spark, table).last.op === "compact")
    assert(graft.sources.TxStore.read(spark, table).count() === before)
    assert(graft.sources.TxStore.snapshot(spark, table).files.size === 1)

    // DESCRIBE HISTORY answers the log as a frame, ops in order
    val hist = spark.read.parquet(sql("DESCRIBE HISTORY mt"))
    assert(hist.columns.toSeq === Seq("version", "ts", "op", "n_add", "n_remove"))
    assert(hist.orderBy("version").select("op").as[String].collect().toSeq ===
      graft.sources.TxStore.history(spark, table).map(_.op))

    // RESTORE TO VERSION AS OF 1 lands a NEW commit whose readback is
    // exactly the v1 snapshot (the even-id half)
    val rst = spark.read.parquet(sql("RESTORE TABLE mt TO VERSION AS OF 1"))
    assert(rst.select("restored_to").as[Long].head === 1L)
    assert(graft.sources.TxStore.history(spark, table).last.op === "restore")
    val restored = graft.sources.TxStore.read(spark, table)
    assert(restored.count() === ev.filter(col("event_id") % 2 === 0).count())
    assert(restored.filter(col("event_id") % 2 =!= 0).count() === 0)

    // RESTORE TO TIMESTAMP AS OF resolves against commit-file mtimes —
    // the same clock DESCRIBE HISTORY reports, so its ts feeds back in.
    // The latest commit's ts targets that commit itself (the restore
    // just landed v7, so this restore is content-preserving — the
    // even-id half must survive through the vacuum below)
    val ts = spark.read.parquet(sql("DESC HISTORY mt"))
      .orderBy("version").select("ts").as[java.sql.Timestamp].collect().last
    val viaTs = spark.read.parquet(
      sql(s"RESTORE mt TO TIMESTAMP AS OF '${ts.toString}'"))
    assert(viaTs.select("restored_to").as[Long].head ===
      graft.sources.TxStore.versionAtTimestamp(spark, table, ts.getTime))

    // VACUUM past a checkpoint reaps what the restore orphaned; DRY RUN
    // first answers the victim list WITHOUT deleting, and the real reap
    // deletes exactly that set
    graft.sources.TxStore.checkpoint(spark, table)
    val preview = spark.read.parquet(sql("VACUUM mt RETAIN 1 VERSIONS GRACE 0 MS DRY RUN"))
      .as[String].collect().toSet
    assert(preview.size >= 4)
    assert(preview.forall(fl => new java.io.File(s"$table/data/$fl").exists()))
    // the reap count covers the previewed data files plus log/sidecar
    // debris the preview (data-side by contract) does not name
    val vac = spark.read.parquet(sql("VACUUM mt RETAIN 1 VERSIONS GRACE 0 MS"))
    assert(vac.select("files_deleted").as[Long].head >= preview.size.toLong)
    assert(preview.forall(fl => !new java.io.File(s"$table/data/$fl").exists()))
    assert(graft.sources.TxStore.read(spark, table).count() ===
      ev.filter(col("event_id") % 2 === 0).count())

    // maintenance on a view refuses loudly with Spark's own error —
    // never a silent no-op
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "sql" -> "OPTIMIZE events"))
    }
    assert(ex.getMessage.contains("EXPECT_TABLE_NOT_VIEW"), ex.getMessage)
    // DESCRIBE of a plain view still belongs to Catalyst (only
    // DESCRIBE HISTORY intercepts)
    Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
      "out-dir" -> tmp(), "sql" -> "DESCRIBE events"))
  }

  test("sql step: OPTIMIZE WHERE … ZORDER BY scopes to partitions ≡ compactZOrder") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/zopttbl"
    val twin = s"$dir/zopttwin"
    val ev = Tables.events(spark, sf("sf0.001"))
    graft.sources.TxStore.append(ev.repartition(4), table, partitionBy = Seq("event_type"))
    graft.sources.TxStore.append(ev.repartition(4), twin, partitionBy = Seq("event_type"))
    val untouched = graft.sources.TxStore.snapshot(spark, table)
      .files.filterNot(_.startsWith("event_type=click/"))
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mt=$table",
      "sql" -> "OPTIMIZE mt WHERE event_type = 'click' ZORDER BY (event_id, user_id)"))
    graft.sources.TxStore.compactZOrder(spark, twin, Seq("event_id", "user_id"),
      where = Some(col("event_type") === "click"))
    val c = graft.sources.TxStore.history(spark, table).last
    assert(c.op === "optimize-zorder")
    assert(c.remove.nonEmpty && c.remove.forall(_.startsWith("event_type=click/")))
    // other partitions' files are untouched bytes
    val after = graft.sources.TxStore.snapshot(spark, table).files
    assert(untouched.forall(after.contains))
    // ≡ the Scala twin: same rows, same file-set shape
    val a = graft.sources.TxStore.read(spark, table)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    val b = graft.sources.TxStore.read(spark, twin)
      .select("event_id", "value").as[(Long, Double)].collect().toMap
    assert(a === b)
    // SHOW PARTITIONS answers the live partition dirs from the log —
    // one row per event_type, no directory listing involved — in
    // Spark's one `partition` column
    val outP = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> outP,
      "tx" -> s"mt=$table", "sql" -> "SHOW PARTITIONS mt"))
    val parts = spark.read.parquet(s"$outP/sql_result")
    assert(parts.columns.toSeq === Seq("partition"))
    assert(parts.as[String].collect().sorted.toSeq ===
      ev.select("event_type").distinct().as[String].collect().sorted.toSeq.map("event_type=" + _))
    // DESCRIBE DETAIL: one row of log-resident table facts
    val outD = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> outD,
      "tx" -> s"mt=$table", "sql" -> "DESCRIBE DETAIL mt"))
    val det = spark.read.parquet(s"$outD/sql_result")
    assert(det.count() === 1)
    assert(det.select("location").as[String].head === table)
    assert(det.select("partition_columns").as[String].head === "event_type")
    assert(det.select("num_files").as[Long].head ===
      graft.sources.TxStore.snapshot(spark, table).files.size.toLong)
    assert(det.select("size_bytes").as[Long].head > 0L)
    // SHOW PARTITIONS on an unpartitioned table refuses with Spark's
    // own error; other SHOW forms are Spark's too
    val flat = s"$dir/flattbl"
    graft.sources.TxStore.append(ev.limit(10), flat)
    val exP = intercept[org.apache.spark.sql.AnalysisException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"ft=$flat", "sql" -> "SHOW PARTITIONS ft"))
    }
    assert(exP.getMessage.contains("not partitioned"), exP.getMessage)
    Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
      "out-dir" -> tmp(), "sql" -> "SHOW TABLES"))
    // an unparseable clause refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"mt=$table",
        "sql" -> "OPTIMIZE mt INTO 3 FILES"))
    }
    assert(ex.getMessage.contains("unrecognized clause"))
  }

  test("sql step: SHOW PARTITIONS / TBLPROPERTIES on a metastore table are Spark's") {
    val dir = tmp()
    def step(stmt: String): String = {
      val out = tmp()
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "sql" -> stmt))
      s"$out/sql_result"
    }
    try {
      step(s"CREATE TABLE cli_pq (a INT, b STRING) USING parquet PARTITIONED BY (b) " +
        s"LOCATION '$dir/pq' TBLPROPERTIES ('owner_team' = 'ops')")
      step("INSERT INTO cli_pq VALUES (1, 'x'), (2, 'y')")
      assert(spark.read.parquet(step("SHOW PARTITIONS cli_pq")).as[String].collect().sorted
        .toSeq === Seq("b=x", "b=y"))
      val props = spark.read.parquet(step("SHOW TBLPROPERTIES cli_pq"))
      assert(props.columns.toSeq === Seq("key", "value"))
      assert(props.as[(String, String)].collect().contains("owner_team" -> "ops"))
    } finally spark.sql("DROP TABLE IF EXISTS cli_pq")
  }

  test("sql step: maintenance names resolve like any other Spark name") {
    import org.apache.spark.sql.functions.col
    val table = s"${tmp()}/namestbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    for (w <- 0 until 3) // three small files
      graft.sources.TxStore.append(ev.filter(col("event_id") % 3 === w).repartition(1), table)
    def step(tx: String, stmt: String): String = {
      val out = tmp()
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> tx, "sql" -> stmt))
      s"$out/sql_result"
    }
    // a backquoted name
    val opt = spark.read.parquet(step(s"mt=$table", "OPTIMIZE `mt`"))
    assert(opt.select("rewrote").as[Boolean].head)
    assert(graft.sources.TxStore.history(spark, table).last.op === "compact")
    // a database-qualified name
    val preview = spark.read.parquet(step(s"mt=$table", "VACUUM default.mt GRACE 0 MS DRY RUN"))
    assert(preview.columns.toSeq === Seq("file"))
    assert(preview.as[String].collect().sorted.toSeq ===
      graft.sources.TxStore.vacuumPreview(spark, table, 2, 0L).sorted)
    // a leading comment, and a trailing ';'
    graft.sources.TxStore.append(ev.limit(5).repartition(1), table)
    val v = graft.sources.TxStore.snapshot(spark, table).version
    spark.read.parquet(step(s"mt=$table", "-- nightly\nOPTIMIZE mt"))
    assert(graft.sources.TxStore.snapshot(spark, table).version === v + 1)
    assert(graft.sources.TxStore.history(spark, table).last.op === "compact")
    val hist = spark.read.parquet(step(s"mt=$table", "/* audit */ DESCRIBE HISTORY mt;"))
    assert(hist.count() === graft.sources.TxStore.history(spark, table).size.toLong)
    // a name pinned to a version is read-only: OPTIMIZE refuses, HISTORY reads
    val ex = intercept[IllegalArgumentException](step(s"old=$table@v1", "OPTIMIZE old"))
    assert(ex.getMessage.contains("read-only"), ex.getMessage)
    spark.read.parquet(step(s"old=$table@v1", "DESCRIBE HISTORY old"))
    assert(graft.sources.TxStore.history(spark, table).last.op === "compact")
  }

  test("maintenance SQL runs on a caller's session built without graft's extension") {
    val plain = org.apache.spark.sql.graft.SessionBridge.plain(spark)
    assert(!plain.sessionState.sqlParser.isInstanceOf[graft.sources.GraftSqlParser])
    // the driver contract tunes the session it is handed, and the lanes'
    // own REQUIREs check each statement's commit
    Seq("s47_sql_maintenance", "s49_tx_convert").foreach { q =>
      assert(SparkEntry.queries(q)(plain, sf("sf0.001")).count() > 0, q)
    }
    import org.apache.spark.sql.functions.col
    val table = s"${tmp()}/plaintbl"
    val ev = Tables.events(spark, sf("sf0.001"))
    for (w <- 0 until 2)
      graft.sources.TxStore.append(ev.filter(col("event_id") % 2 === w).repartition(1), table)
    val out = tmp()
    Main.run(plain, Map("step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "tx" -> s"mt=$table", "sql" -> "OPTIMIZE mt"))
    assert(spark.read.parquet(s"$out/sql_result").select("rewrote").as[Boolean].head)
    assert(graft.sources.TxStore.history(spark, table).last.op === "compact")
  }

  test("sql step: ALTER TABLE — rename/add/drop columns and CHECK constraints as SQL") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/ddltbl"
    val ev = Tables.events(spark, sf("sf0.001")).filter(col("event_id") <= 100)
    graft.sources.TxStore.append(ev, table) // v1
    def sql(stmt: String): String = {
      val out = tmp()
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
        "tx" -> s"mt=$table", "sql" -> stmt))
      s"$out/sql_result"
    }

    // RENAME COLUMN: metadata-only; current reads see the new name,
    // time travel keeps the historical one
    spark.read.parquet(sql("ALTER TABLE mt RENAME COLUMN value TO score"))
    val renamed = graft.sources.TxStore.read(spark, table)
    assert(renamed.columns.contains("score") && !renamed.columns.contains("value"))
    assert(graft.sources.TxStore.readAt(spark, table, 1L).columns.contains("value"))
    assert(renamed.select("score").as[Double].collect().sorted.toSeq ===
      ev.select("value").as[Double].collect().sorted.toSeq)

    // ADD COLUMN: schema restates, existing rows read NULL
    spark.read.parquet(sql("ALTER TABLE mt ADD COLUMN tag STRING"))
    val withTag = graft.sources.TxStore.read(spark, table)
    assert(withTag.columns.contains("tag"))
    assert(withTag.filter(col("tag").isNotNull).count() === 0)

    // ADD CONSTRAINT validates and then gates writes; DROP removes it
    spark.read.parquet(sql("ALTER TABLE mt ADD CONSTRAINT nonneg CHECK (score >= 0)"))
    assert(graft.sources.TxStore.tableConstraints(spark, table).map(_._1) === Seq("nonneg"))
    val bad = withTag.limit(1).withColumn("score", org.apache.spark.sql.functions.lit(-1.0))
    intercept[IllegalArgumentException] {
      graft.sources.TxStore.append(bad, table)
    }
    spark.read.parquet(sql("ALTER TABLE mt DROP CONSTRAINT nonneg"))
    assert(graft.sources.TxStore.tableConstraints(spark, table).isEmpty)
    // IF EXISTS on an absent constraint: no commit, an empty artifact
    val v0 = graft.sources.TxStore.snapshot(spark, table).version
    val skipped = spark.read.parquet(sql("ALTER TABLE mt DROP CONSTRAINT IF EXISTS nope"))
    assert(skipped.count() === 0)
    assert(graft.sources.TxStore.snapshot(spark, table).version === v0)

    // DROP COLUMN retires the column; the artifact is its commit's row
    val dropped = spark.read.parquet(sql("ALTER TABLE mt DROP COLUMN props"))
    assert(dropped.select("op").as[String].collect().toSeq === Seq("drop-column"))
    assert(!graft.sources.TxStore.read(spark, table).columns.contains("props"))
    // every ALTER above was metadata-only: v1's data files, untouched
    assert(graft.sources.TxStore.snapshot(spark, table).files.toSet ===
      graft.sources.TxStore.snapshotAt(spark, table, 1L).files.toSet)

    // refusals: NOT NULL adds, non-tx targets, unsupported ALTER shapes,
    // time-travel names — each names its reason and commits nothing
    val v1 = graft.sources.TxStore.snapshot(spark, table).version
    val exNull = intercept[org.apache.spark.SparkException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"mt=$table",
        "sql" -> "ALTER TABLE mt ADD COLUMN req STRING NOT NULL"))
    }
    assert(exNull.getMessage.contains("NOT NULL"), exNull.getMessage)
    val exTx = intercept[org.apache.spark.sql.AnalysisException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "sql" -> "ALTER TABLE events DROP COLUMN value"))
    }
    assert(exTx.getMessage.contains("expects a table"), exTx.getMessage)
    // an ALTER shape the table format cannot honor refuses with the
    // reason (SET TBLPROPERTIES graduated to a supported statement in
    // round 15 — SET LOCATION stands in as the unsupported shape)
    val exShape = intercept[org.apache.spark.SparkException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"mt=$table",
        "sql" -> "ALTER TABLE mt SET LOCATION '/elsewhere'"))
    }
    assert(exShape.getMessage.contains("unsupported ALTER"), exShape.getMessage)
    val exPinned = intercept[org.apache.spark.SparkException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"old=$table@v1",
        "sql" -> "ALTER TABLE old ADD COLUMN late STRING"))
    }
    assert(exPinned.getMessage.contains("read-only"), exPinned.getMessage)
    assert(graft.sources.TxStore.snapshot(spark, table).version === v1)
  }

  test("sql step: CONVERT TO TX adopts a plain parquet estate, then SQL queries it") {
    import org.apache.spark.sql.functions.col
    val est = s"${tmp()}/estate"
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.write.partitionBy("event_type").parquet(est)
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out,
      "sql" -> s"CONVERT TO TX '$est'"))
    val sum = spark.read.parquet(s"$out/sql_result")
    assert(sum.select("op").as[String].head === "convert")
    assert(sum.select("version").as[Long].head === 1L)
    assert(sum.select("n_files").as[Long].head > 0L)
    // the adopted table registers and serves pruned SQL reads like any
    // other tx table
    val out2 = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out2,
      "tx" -> s"ct=$est",
      "sql" -> "SELECT COUNT(*) AS n FROM ct WHERE event_type = 'click'"))
    assert(spark.read.parquet(s"$out2/sql_result").as[Long].head ===
      ev.filter(col("event_type") === "click").count())
    // converting an existing table refuses loudly
    val ex = intercept[IllegalArgumentException] {
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "sql" -> s"CONVERT TO TX '$est'"))
    }
    assert(ex.getMessage.contains("already a transactional table"))
  }

  test("sql step: graft.appendOnly lifecycle - SET gates DELETE, UNSET lifts it") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val table = s"$dir/aotab"
    graft.sources.TxStore.append(
      Tables.events(spark, sf("sf0.001")).limit(200), table)
    def run(stmt: String): Unit = {
      Main.run(spark, Map(
        "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> tmp(),
        "tx" -> s"ao=$table", "sql" -> stmt))
    }
    run("ALTER TABLE ao SET TBLPROPERTIES ('graft.appendOnly'='true')")
    val ex = intercept[Exception] { run("DELETE FROM ao WHERE ao.event_id = 1") }
    assert(ex.getMessage.contains("appendOnly"),
      s"DELETE on an append-only table must name the gate: ${ex.getMessage}")
    assert(graft.sources.TxStore.read(spark, table).count() === 200)
    // INSERT still lands through the same SQL surface
    run("INSERT INTO ao SELECT * FROM ao LIMIT 5")
    assert(graft.sources.TxStore.read(spark, table).count() === 205)
    run("ALTER TABLE ao UNSET TBLPROPERTIES ('graft.appendOnly')")
    run("DELETE FROM ao WHERE ao.event_id = 1")
    assert(graft.sources.TxStore.read(spark, table)
      .filter(col("event_id") === 1L).count() === 0)
  }

  /** Run `body` under `spark.sql.sources.partitionOverwriteMode=dynamic`. */
  private def dynamicOverwrite[T](body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "dynamic")
    try body finally spark.conf.unset(key)
  }

  test("sql step: INSERT OVERWRITE static vs dynamic partitions") {
    import org.apache.spark.sql.functions.col
    val dir = tmp()
    val rows = (0 until 30).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toDF("id", "payload", "bucket")
    val table = s"$dir/dyntbl"
    graft.sources.TxStore.append(rows, table, partitionBy = Seq("bucket"))
    val twin = s"$dir/dyntwin"
    graft.sources.TxStore.append(rows, twin, partitionBy = Seq("bucket"))
    def run(sql: String): Unit =
      Main.run(spark, Map("step" -> "sql", "data-dir" -> sf("sf0.001"),
        "out-dir" -> tmp(), "tx" -> s"dt=$table", "sql" -> sql))
    def history = graft.sources.TxStore.history(spark, table)
    // dynamic: the batch replaces exactly the partitions it holds rows
    // for ≡ replaceWhere on them
    dynamicOverwrite(run("INSERT OVERWRITE dt PARTITION (bucket) " +
      "SELECT id + 100, payload, bucket FROM dt WHERE bucket = 'p1'"))
    assert(history.last.op === "replace-where")
    graft.sources.TxStore.replaceWhere(
      rows.filter(col("bucket") === "p1").withColumn("id", col("id") + 100L), twin,
      col("bucket") === "p1")
    val got = graft.sources.TxStore.read(spark, table).as[(Long, String, String)].collect().toSet
    assert(got === graft.sources.TxStore.read(spark, twin).as[(Long, String, String)].collect().toSet)
    assert(got.count(_._3 == "p1") === 10 && got.filter(_._3 == "p1").forall(_._1 >= 100L))
    // an empty batch holds no partition: nothing commits
    val before = history.size
    dynamicOverwrite(run("INSERT OVERWRITE dt PARTITION (bucket) " +
      "SELECT id, payload, bucket FROM dt WHERE id < 0"))
    assert(history.size === before, "empty dynamic overwrite must not commit")
    // static mode (Spark's default): the same statement overwrites the
    // whole table with the empty batch
    run("INSERT OVERWRITE dt PARTITION (bucket) SELECT id, payload, bucket FROM dt WHERE id < 0")
    assert(history.last.op === "overwrite")
    assert(graft.sources.TxStore.read(spark, table).count() === 0)
  }

  private def sqlStep(stmt: String): String = {
    val out = tmp()
    Main.run(spark, Map(
      "step" -> "sql", "data-dir" -> sf("sf0.001"), "out-dir" -> out, "sql" -> stmt))
    out
  }

  test("sql step: statements that return no columns run and land no sql_result") {
    val dir = tmp()
    try {
      val created = sqlStep("CREATE VIEW cli_nocols_v AS SELECT 1 AS a")
      assert(!new java.io.File(s"$created/sql_result").exists)
      assert(spark.catalog.tableExists("cli_nocols_v"))
      sqlStep(s"CREATE TABLE cli_nocols_t (a INT) USING parquet LOCATION '$dir/pt'")
      assert(spark.catalog.tableExists("cli_nocols_t"))
      // a query after them still lands its rows
      val read = sqlStep("SELECT a FROM cli_nocols_v")
      assert(spark.read.parquet(s"$read/sql_result").head.getInt(0) === 1)
      sqlStep("DROP TABLE cli_nocols_t")
      assert(!spark.catalog.tableExists("cli_nocols_t"))
    } finally {
      spark.sql("DROP VIEW IF EXISTS cli_nocols_v")
      spark.sql("DROP TABLE IF EXISTS cli_nocols_t")
    }
  }

  test("sql step: a qualified CTAS in the session catalog runs through Spark") {
    try {
      sqlStep("CREATE TABLE default.cli_ctas_qq USING parquet AS SELECT 1L AS id")
      assert(spark.table("default.cli_ctas_qq").as[Long].collect().toSeq === Seq(1L))
    } finally spark.sql("DROP TABLE IF EXISTS default.cli_ctas_qq")
  }

  test("sql step: a CTAS into the graft catalog runs through Spark") {
    val warehouse = tmp()
    val keys = Seq("spark.sql.catalog.graft", "spark.sql.catalog.graft.warehouse")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)
    try {
      sqlStep("CREATE NAMESPACE graft.p")
      sqlStep("CREATE TABLE graft.p.cli_ctas_t USING graft AS SELECT 1L AS id")
      val table = s"$warehouse/p/cli_ctas_t"
      assert(graft.sources.TxStore.isTable(spark, table))
      assert(graft.sources.TxStore.read(spark, table).as[Long].collect().toSeq === Seq(1L))
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
