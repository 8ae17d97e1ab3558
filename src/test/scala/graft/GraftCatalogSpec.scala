package graft

import graft.sources.{GraftScan, TxStore}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** The `spark.sql.catalog.graft` TableCatalog (VERDICT r16 #2):
  * name-addressed tables over the TxStore machinery — the catalog
  * holds no state of its own, so every lifecycle step below must be
  * observable in the table directory's own log. Also covers SQL DML
  * on catalog names through `spark.sql` (GraftDml): a partition DELETE
  * is a remove-only commit, a row-level one rewrites the hit files,
  * and UPDATE and MERGE run on the TxStore rewrite core. */
class GraftCatalogSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft-catalog").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "payload", "p")

  test("full lifecycle through catalog names: create, insert, read, time travel, rename, drop") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE graft.db")
    spark.sql("CREATE TABLE graft.db.events (id BIGINT, payload STRING, p INT) " +
      "USING graft PARTITIONED BY (p)")
    val path = s"$w/db/events"
    assert(TxStore.isTable(spark, path), "the catalog table IS a table directory")
    assert(TxStore.history(spark, path).map(_.op) === Seq("create"))

    // insert routes through the v2 write; layout was established by CREATE
    spark.sql("INSERT INTO graft.db.events VALUES (1, 'a', 0), (2, 'b', 1), (3, 'c', 2)")
    assert(spark.table("graft.db.events").count() === 3)
    assert(TxStore.snapshot(spark, path).partitioning === Seq("p"))
    assert(TxStore.snapshot(spark, path).files.forall(_.startsWith("p=")),
      "files land under the hive layout the catalog CREATE declared")

    // column order: declared order, not partition-last (v1 ≡ v2)
    assert(spark.table("graft.db.events").columns.toSeq === Seq("id", "payload", "p"))

    // time travel through the catalog's loadTable overloads
    assert(spark.sql("SELECT * FROM graft.db.events VERSION AS OF 1").count() === 0)
    assert(spark.sql("SELECT * FROM graft.db.events VERSION AS OF 2").count() === 3)

    // rename is a directory move; the log travels with it (Spark's
    // RENAME TO names the destination without the catalog)
    spark.sql("ALTER TABLE graft.db.events RENAME TO db.events2")
    assert(!TxStore.isTable(spark, path))
    assert(spark.table("graft.db.events2").count() === 3)

    spark.sql("DROP TABLE graft.db.events2")
    assert(!new java.io.File(s"$w/db/events2").exists,
      "DROP deletes the managed directory")
    intercept[AnalysisException](spark.table("graft.db.events2").collect())
  }

  test("catalog reads plan the SAME pruned scan as path reads") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.prune")
    val path = s"$w/prune/t"
    for (c <- 0 until 4)
      TxStore.append(
        (c * 100 until (c + 1) * 100).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
          .repartition(1), path)
    val (_, keptV1, _) = TxStore.pruneFiles(spark, path, col("id") >= 250L && col("id") < 320L)
    val counted = spark.sql("SELECT count(*) AS n FROM graft.prune.t WHERE id >= 250 AND id < 320")
    assert(counted.collect().head.getLong(0) === 70L)
    val ev = GraftScan.planned(counted).find(_.kept.nonEmpty)
      .getOrElse(fail("the catalog scan kept no file"))
    assert(ev.kept.toSet === keptV1.toSet,
      "the catalog read must prune through the same log walk readWhere uses")
  }

  test("native DELETE: partition drops metadata-only, rows rewrite") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.t (id BIGINT, payload STRING, p INT) " +
      "USING graft PARTITIONED BY (p)")
    val path = s"$w/dml/t"
    spark.sql("INSERT INTO graft.dml.t SELECT id, payload, p FROM VALUES " +
      (0 until 30).map(i => s"(${i}L, 'v$i', ${i % 3})").mkString(", ") +
      " AS v(id, payload, p)")
    val vBefore = TxStore.snapshot(spark, path).version

    // partition delete: one remove-only commit, zero files staged
    spark.sql("DELETE FROM graft.dml.t WHERE p = 1")
    assert(spark.table("graft.dml.t").count() === 20)
    val c = TxStore.history(spark, path).find(_.version == vBefore + 1)
      .getOrElse(fail("no delete commit"))
    assert(c.op === "delete" && c.add.isEmpty && c.remove.nonEmpty,
      "a partition DELETE must be a remove-only metadata commit (no rewrite)")

    // unconditional delete = truncate: remove-all, still metadata-only
    spark.sql("DELETE FROM graft.dml.t")
    assert(spark.table("graft.dml.t").count() === 0)
    val t = TxStore.history(spark, path).last
    assert(t.op === "delete" && t.add.isEmpty)
    // schema and layout survive; time travel still reads the data
    assert(spark.table("graft.dml.t").columns.toSeq === Seq("id", "payload", "p"))
    assert(spark.sql(s"SELECT * FROM graft.dml.t VERSION AS OF $vBefore").count() === 30)

    // a row-level predicate rewrites the files holding matching rows
    spark.sql("INSERT INTO graft.dml.t SELECT /*+ COALESCE(1) */ * " +
      "FROM VALUES (1L, 'x', 0), (2L, 'y', 0) AS v(id, payload, p)")
    spark.sql("DELETE FROM graft.dml.t WHERE id = 1")
    assert(spark.table("graft.dml.t").as[(Long, String, Int)].collect().toSeq === Seq((2L, "y", 0)))
    val r = TxStore.history(spark, path).last
    assert(r.op === "delete" && r.add.nonEmpty && r.remove.nonEmpty)
  }

  test("UPDATE and MERGE on catalog names run through spark.sql") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.updml")
    spark.sql("CREATE TABLE graft.updml.t (id BIGINT, payload STRING) USING graft")
    spark.sql("INSERT INTO graft.updml.t VALUES (1, 'a'), (2, 'b')")
    val path = s"$w/updml/t"

    spark.sql("UPDATE graft.updml.t SET payload = 'z' WHERE id = 2")
    assert(spark.table("graft.updml.t").where("id = 2").head().getString(1) === "z")
    assert(TxStore.history(spark, path).last.op === "update")

    Seq((2L, "m"), (3L, "n")).toDF("id", "payload").createOrReplaceTempView("updml_src")
    spark.sql("MERGE INTO graft.updml.t AS t USING updml_src AS s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(TxStore.history(spark, path).last.op === "merge")
    assert(spark.table("graft.updml.t").orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "m"), (3L, "n")))

    // all five clause kinds, ≡ the Scala clause API on a twin table
    import TxStore.MergeClause._
    val twin = s"${java.nio.file.Files.createTempDirectory("updml-twin")}/t"
    TxStore.append(TxStore.read(spark, path), twin)
    Seq((1L, "p"), (3L, "q"), (4L, "r")).toDF("id", "payload").createOrReplaceTempView("updml_src2")
    spark.sql("MERGE INTO graft.updml.t t USING updml_src2 s ON t.id = s.id " +
      "WHEN MATCHED AND t.id = 1 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET payload = concat(t.payload, s.payload) " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES (s.id, 'new') " +
      "WHEN NOT MATCHED BY SOURCE AND t.payload = 'm' THEN UPDATE SET payload = 'stale' " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    TxStore.mergeClauses(spark, twin, spark.table("updml_src2"), Seq("id"), Seq(
      MatchedDelete(Some(col("t.id") === 1L)),
      MatchedUpdate(None, Some(Map("payload" -> concat(col("t.payload"), col("s.payload"))))),
      NotMatchedInsert(None, Some(Map("id" -> col("s.id"), "payload" -> lit("new")))),
      NotMatchedBySourceUpdate(Some(col("t.payload") === "m"), Map("payload" -> lit("stale"))),
      NotMatchedBySourceDelete(None)))
    val viaSql = spark.table("graft.updml.t").as[(Long, String)].collect().toSet
    assert(viaSql === Set((2L, "stale"), (3L, "nq"), (4L, "new")))
    assert(viaSql === TxStore.read(spark, twin).as[(Long, String)].collect().toSet)
  }

  test("CTAS, ALTER properties and columns, SHOW surfaces") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    spark.sql("CREATE TABLE graft.meta.src USING graft AS SELECT 1L AS id, 'a' AS v")
    assert(spark.table("graft.meta.src").count() === 1)
    val path = s"$w/meta/src"
    assert(TxStore.history(spark, path).map(_.op).head === "create")

    spark.sql("ALTER TABLE graft.meta.src SET TBLPROPERTIES ('team' = 'graft', 'tier' = 'gold')")
    assert(TxStore.tableProperties(spark, path).toMap === Map("team" -> "graft", "tier" -> "gold"))
    // Spark's SHOW TBLPROPERTIES reads the log's property set
    assert(spark.sql("SHOW TBLPROPERTIES graft.meta.src").as[(String, String)].collect().toMap ===
      Map("team" -> "graft", "tier" -> "gold"))
    assert(spark.sql("SHOW TBLPROPERTIES graft.meta.src ('team')").as[(String, String)]
      .collect().toSeq === Seq("team" -> "graft"))
    spark.sql("ALTER TABLE graft.meta.src UNSET TBLPROPERTIES ('tier')")
    assert(TxStore.tableProperties(spark, path).toMap === Map("team" -> "graft"))

    spark.sql("ALTER TABLE graft.meta.src ADD COLUMN score DOUBLE")
    assert(spark.table("graft.meta.src").columns.toSeq === Seq("id", "v", "score"))
    spark.sql("ALTER TABLE graft.meta.src RENAME COLUMN v TO label")
    assert(spark.table("graft.meta.src").columns.toSeq === Seq("id", "label", "score"))
    spark.sql("ALTER TABLE graft.meta.src DROP COLUMN score")
    assert(spark.table("graft.meta.src").columns.toSeq === Seq("id", "label"))

    assert(spark.sql("SHOW TABLES IN graft.meta").collect().map(_.getString(1)).toSet
      === Set("src"))
    assert(spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
      .contains("meta"))
  }

  /** A fresh `graft.alter.<name>` table over two rows of (a, b, c), and
    * its directory. */
  private def alterTable(name: String): String = {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.alter")
    spark.sql(s"CREATE TABLE graft.alter.$name USING graft AS " +
      "SELECT * FROM VALUES (1L, 2L, 3L), (4L, 5L, 6L) AS v(a, b, c)")
    s"$w/alter/$name"
  }

  test("ALTER … ADD COLUMN NOT NULL refuses instead of committing a nullable column") {
    val path = alterTable("notnull")
    val before = TxStore.history(spark, path).size
    val e = intercept[Exception](spark.sql("ALTER TABLE graft.alter.notnull ADD COLUMN n INT NOT NULL"))
    assert(e.getMessage.contains("NOT NULL"), e.getMessage)
    assert(TxStore.history(spark, path).size === before, "a refused ALTER commits nothing")
    assert(spark.table("graft.alter.notnull").columns.toSeq === Seq("a", "b", "c"))
  }

  test("ALTER … ADD COLUMN refuses COMMENT, FIRST/AFTER and DEFAULT instead of ignoring them") {
    val path = alterTable("clauses")
    val before = TxStore.history(spark, path).size
    for ((stmt, reason) <- Seq(
        "ADD COLUMN d INT COMMENT 'hi'" -> "COMMENT",
        "ADD COLUMN d INT FIRST" -> "FIRST/AFTER",
        "ADD COLUMN d INT AFTER a" -> "FIRST/AFTER",
        "ADD COLUMN d INT DEFAULT 3" -> "DEFAULT")) {
      val e = intercept[Exception](spark.sql(s"ALTER TABLE graft.alter.clauses $stmt"))
      assert(e.getMessage.toUpperCase.contains(reason), s"$stmt: ${e.getMessage}")
    }
    assert(TxStore.history(spark, path).size === before, "a refused ALTER commits nothing")
    assert(spark.table("graft.alter.clauses").columns.toSeq === Seq("a", "b", "c"))
    // the plain form still lands, last, reading NULL in old rows
    spark.sql("ALTER TABLE graft.alter.clauses ADD COLUMN d INT")
    assert(spark.table("graft.alter.clauses").columns.toSeq === Seq("a", "b", "c", "d"))
    assert(spark.table("graft.alter.clauses").where("d IS NOT NULL").count() === 0)
  }

  test("ALTER … DROP COLUMNS is one commit: a refused column leaves no earlier drop durable") {
    val path = alterTable("dropcols")
    TxStore.addConstraint(spark, path, "b_pos", "b > 0")
    val before = TxStore.history(spark, path).size
    val e = intercept[Exception](spark.sql("ALTER TABLE graft.alter.dropcols DROP COLUMNS (a, b)"))
    assert(e.getMessage.contains("b_pos"), e.getMessage)
    assert(TxStore.history(spark, path).size === before)
    assert(spark.table("graft.alter.dropcols").columns.toSeq === Seq("a", "b", "c"),
      "the refusal on b must not leave a's drop committed")
    // both columns in ONE commit; IF EXISTS skips an absent name
    spark.sql("ALTER TABLE graft.alter.dropcols DROP COLUMNS IF EXISTS (a, c, nope)")
    assert(spark.table("graft.alter.dropcols").columns.toSeq === Seq("b"))
    assert(TxStore.history(spark, path).map(_.op).drop(before) === Seq("drop-column"))
  }

  test("ALTER … ADD/DROP CONSTRAINT CHECK through catalog names") {
    val path = alterTable("checks")
    spark.sql("ALTER TABLE graft.alter.checks ADD CONSTRAINT a_pos CHECK (a > 0)")
    assert(TxStore.tableConstraints(spark, path) === Seq("a_pos" -> "a > 0"))
    // the constraint gates later writes through the same table
    intercept[Exception](spark.sql("INSERT INTO graft.alter.checks VALUES (-1, 0, 0)"))
    // existing rows are validated before the constraint commits
    intercept[Exception](spark.sql("ALTER TABLE graft.alter.checks ADD CONSTRAINT b_big CHECK (b > 4)"))
    // only CHECK constraints, and no CASCADE
    intercept[Exception](spark.sql(
      "ALTER TABLE graft.alter.checks ADD CONSTRAINT pk PRIMARY KEY (a)"))
    intercept[Exception](spark.sql("ALTER TABLE graft.alter.checks DROP CONSTRAINT a_pos CASCADE"))
    assert(TxStore.tableConstraints(spark, path).map(_._1) === Seq("a_pos"))
    val before = TxStore.history(spark, path).size
    spark.sql("ALTER TABLE graft.alter.checks DROP CONSTRAINT IF EXISTS nope")
    assert(TxStore.history(spark, path).size === before, "an absent IF EXISTS drop commits nothing")
    spark.sql("ALTER TABLE graft.alter.checks DROP CONSTRAINT a_pos")
    assert(TxStore.tableConstraints(spark, path).isEmpty)
    spark.sql("INSERT INTO graft.alter.checks VALUES (-1, 0, 0)")
    assert(spark.table("graft.alter.checks").count() === 3)
  }

  test("refusals: LOCATION, OPTIONS, bad identifiers, non-empty namespace, wrong provider") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ref")
    intercept[Exception](spark.sql(
      s"CREATE TABLE graft.ref.ext (id BIGINT) USING graft LOCATION '$w/elsewhere'"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ref.opt (id BIGINT) USING graft OPTIONS (path '/nope')"))
    intercept[Exception](spark.sql(
      "CREATE TABLE graft.ref.`bad/name` (id BIGINT) USING graft"))
    // a table creates; its namespace then refuses a non-cascade drop
    spark.sql("CREATE TABLE graft.ref.keep (id BIGINT) USING graft")
    intercept[Exception](spark.sql("DROP NAMESPACE graft.ref"))
    assert(TxStore.isTable(spark, s"$w/ref/keep"))
    spark.sql("DROP NAMESPACE graft.ref CASCADE")
    assert(!new java.io.File(s"$w/ref").exists)
    // appendOnly gates the native DELETE exactly like the API surface
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gate")
    spark.sql("CREATE TABLE graft.gate.t (id BIGINT, p INT) USING graft " +
      "PARTITIONED BY (p) TBLPROPERTIES ('graft.appendOnly' = 'true')")
    spark.sql("INSERT INTO graft.gate.t VALUES (1, 0)")
    val e = intercept[Exception](spark.sql("DELETE FROM graft.gate.t WHERE p = 0"))
    assert(e.getMessage.contains("appendOnly"))
  }

  test("TRUNCATE TABLE and maintenance SQL address catalog names") {
    val w = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    spark.sql("CREATE TABLE graft.maint.t (id BIGINT, payload STRING, p INT) " +
      "USING graft PARTITIONED BY (p)")
    val path = s"$w/maint/t"
    rows(30).write.format("graft").option("partitionBy", "p").mode("append").save(path)

    // TRUNCATE TABLE rides SupportsDeleteV2.truncateTable — one
    // remove-all metadata commit, schema/layout survive
    spark.sql("TRUNCATE TABLE graft.maint.t")
    assert(spark.table("graft.maint.t").count() === 0)
    val t = TxStore.history(spark, path).last
    assert(t.op === "delete" && t.add.isEmpty)
    assert(TxStore.snapshot(spark, path).partitioning === Seq("p"))

    // maintenance SQL resolves the same names through Spark's analyzer
    spark.sql("INSERT INTO graft.maint.t VALUES (1, 'a', 0), (2, 'b', 1)")
    val inserted = TxStore.snapshot(spark, path).version
    val hist = spark.sql("DESCRIBE HISTORY graft.maint.t")
    assert(hist.count() === TxStore.history(spark, path).size.toLong)
    val opt = spark.sql("OPTIMIZE graft.maint.t")
    assert(opt.select("op").as[String].collect().toSeq === Seq("optimize"))
    // the sql step reports the name as written and the summary's version
    assert(opt.select("table").as[String].head === "graft.maint.t")
    val optimized = Option(opt.select("version").as[java.lang.Long].head).map(_.longValue)
    assert(optimized.forall(_ === TxStore.snapshot(spark, path).version))
    assert(graft.sources.TxCatalog.artifact(opt)._2 ===
      Some(graft.sources.TxCatalog.Written("optimize", "graft.maint.t", optimized)))
    assert(graft.sources.TxCatalog.artifact(spark.sql("OPTIMIZE graft.maint.t"))._2 ===
      Some(graft.sources.TxCatalog.Written("optimize", "graft.maint.t", None)))
    // …and so does every other maintenance kind
    assert(spark.sql("DESCRIBE DETAIL graft.maint.t").select("location").as[String].head === path)
    spark.sql(s"RESTORE TABLE graft.maint.t TO VERSION AS OF $inserted")
    assert(TxStore.history(spark, path).last.op === "restore")
    assert(spark.sql("VACUUM graft.maint.t RETAIN 1 VERSIONS GRACE 0 MS DRY RUN").columns.toSeq ===
      Seq("file"))
    val clone = s"${java.nio.file.Files.createTempDirectory("graft-clone")}/t"
    spark.sql(s"CREATE TABLE '$clone' SHALLOW CLONE graft.maint.t")
    assert(TxStore.read(spark, clone).count() === spark.table("graft.maint.t").count())
    // an unknown catalog name refuses with Spark's own error
    val e = intercept[AnalysisException](spark.sql("DESCRIBE HISTORY graft.maint.nope"))
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("DML reports its target by the name as written, like maintenance") {
    assert(warehouse.nonEmpty)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.named")
    spark.sql("CREATE TABLE graft.named.t (id BIGINT, payload STRING, p INT) USING graft")
    def reported(sql: String) = graft.sources.TxCatalog.artifact(spark.sql(sql))._2.map(w =>
      (w.op, w.name))
    assert(reported("INSERT INTO graft.named.t VALUES (1, 'a', 0), (2, 'b', 1)") ===
      Some("insert" -> "graft.named.t"))
    assert(reported("UPDATE graft.named.t SET payload = 'c' WHERE id = 2") ===
      Some("update" -> "graft.named.t"))
    assert(reported("MERGE INTO graft.named.t AS t USING (SELECT 3L AS id, 'd' AS payload, " +
      "0 AS p) AS s ON t.id = s.id WHEN NOT MATCHED THEN INSERT *") ===
      Some("merge" -> "graft.named.t"))
    assert(reported("DELETE FROM graft.named.t WHERE id = 1") ===
      Some("delete" -> "graft.named.t"))
    assert(reported("OPTIMIZE graft.named.t") === Some("optimize" -> "graft.named.t"))
  }

  test("GraftTable.name() parses as a SQL identifier naming the path and the version") {
    val w = warehouse
    val path = s"$w/odd`name"
    TxStore.append(rows(3), path) // v1
    TxStore.append(rows(3, 3), path) // v2
    val fresh = s"$w/fresh"
    val tables = Seq(
      new graft.sources.GraftTable(spark, path, TxStore.snapshot(spark, path)) -> s"$path@v2",
      new graft.sources.GraftTable(spark, path, TxStore.snapshotAt(spark, path, 1L),
        writable = false) -> s"$path@v1",
      new graft.sources.GraftTable(spark, fresh, TxStore.snapshot(spark, fresh),
        exists = false) -> s"$fresh (not yet a table)")
    tables.foreach { case (t, shown) =>
      assert(spark.sessionState.sqlParser.parseMultipartIdentifier(t.name()) === Seq("graft", shown))
    }
  }

  test("the graft parser forwards parameters, and newSession() inherits it") {
    assert(spark.sql("SELECT :x AS x", Map("x" -> 1)).head().getInt(0) === 1)
    assert(spark.sql("SELECT ? AS y", Array(2)).head().getInt(0) === 2)
    val child = spark.newSession()
    assert(child.sessionState.sqlParser.parsePlan("DESCRIBE HISTORY t")
      .isInstanceOf[graft.sources.GraftMaintenance])
    // DESCRIBE HISTORY with no table after it is Spark's DESCRIBE, and
    // so is a table in a database named history or detail
    Seq("DESCRIBE history", "DESCRIBE history.t", "DESC detail.t").foreach { stmt =>
      assert(!child.sessionState.sqlParser.parsePlan(stmt)
        .isInstanceOf[graft.sources.GraftMaintenance], stmt)
    }
  }
}
