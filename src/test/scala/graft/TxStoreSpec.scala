package graft

import graft.sources.TxStore
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** TxStore — the transactional commit-log table format. Covers the
  * guarantees PartitionedStore's single-writer contract can't give:
  * atomic visibility, optimistic multi-writer appends with no lost
  * updates, snapshot isolation + time travel, transactional compaction,
  * conflict detection on competing overwrites, and vacuum of unreferenced
  * debris. */
class TxStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft-tx").toString

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  test("append then read round-trips; versions and history accumulate") {
    val t = tmpDir()
    assert(TxStore.append(rows(10), t) === 1L)
    assert(TxStore.append(rows(5, from = 10), t) === 2L)
    val got = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === (0 until 15).map(i => (i.toLong, s"v$i")).toSet)
    assert(TxStore.history(spark, t).map(_.op) === Seq("append", "append"))
  }

  test("overwrite replaces content; time travel still reads the old snapshot") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    val v2 = TxStore.overwrite(rows(3, from = 100), t)
    assert(v2 === 2L)
    assert(TxStore.read(spark, t).count() === 3)
    // snapshot isolation backwards: version 1 is intact
    assert(TxStore.readAt(spark, t, 1L).as[(Long, String)].collect().toSet ===
      (0 until 10).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("N racing appenders all commit, with distinct versions and no lost rows") {
    val t = tmpDir()
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val done = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { start.await(); TxStore.append(rows(10, from = w * 10), t) }
      })
    }
    start.countDown()
    val versions = done.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // every writer won SOME version, all distinct, densely 1..N
    assert(versions.toSet === (1L to writers.toLong).toSet)
    // and no append was lost: all 60 rows present exactly once
    val got = TxStore.read(spark, t).as[(Long, String)].collect()
    assert(got.length === writers * 10)
    assert(got.toSet.size === writers * 10)
  }

  test("uncommitted data files are invisible; vacuum deletes them") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    // a crashed writer's orphan: a data file no commit references
    rows(99).write.mode("append").parquet(s"$t/data/orphan.parquet-dir")
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // flatten one parquet part into data/ under a .parquet name
    val part = f.listStatus(new org.apache.hadoop.fs.Path(s"$t/data/orphan.parquet-dir"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    f.rename(part, new org.apache.hadoop.fs.Path(s"$t/data/orphan.parquet"))
    f.delete(new org.apache.hadoop.fs.Path(s"$t/data/orphan.parquet-dir"), true)

    assert(TxStore.read(spark, t).count() === 10, "orphan must be invisible to readers")
    // plus a crashed writer's _stage-<uuid>/ directory (never renamed,
    // never committed) and a never-linked commit temp file — both
    // classes of crashed-writer debris vacuum must reclaim
    rows(7).write.mode("overwrite").parquet(s"$t/data/_stage-deadbeef")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_txlog", ".00000000000000000099.json.dead.tmp"),
      "{\"version\":99}")
    // default age grace: everything here is seconds old, so a vacuum
    // running next to what COULD be a live writer's in-flight work
    // reclaims nothing…
    assert(TxStore.vacuum(spark, t) === 0,
      "young unreferenced files are a live writer's in-flight work until proven stale")
    // …and with the grace waived (what an offline maintenance run with
    // no writers does) all three classes of debris go
    assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 3,
      "the orphan, the stale stage dir AND the commit temp get vacuumed")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$t/data/_stage-deadbeef")))
    assert(TxStore.read(spark, t).count() === 10)
  }

  test("compact is a pure physical rewrite and preserves time travel") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    TxStore.append(rows(10, from = 10), t)
    val before = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    val filesBefore = TxStore.snapshot(spark, t).files.size
    val v = TxStore.compact(spark, t, target = 1)
    assert(v === Some(3L))
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.size === 1 && filesBefore > 1)
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toSet === before)
    // pre-compact version still readable (files retained until vacuum+checkpoint)
    assert(TxStore.readAt(spark, t, 2L).as[(Long, String)].collect().toSet === before)
  }

  test("racing overwrites: one commits, the other either chains or aborts — never merges") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    val a = rows(5, from = 100)
    val b = rows(7, from = 200)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def submit(df: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          start.await()
          try Right(TxStore.overwrite(df, t))
          catch { case e: Throwable => Left(e) }
        }
      })
    val (ra, rb) = (submit(a), submit(b))
    start.countDown()
    val outcomes = Seq(ra.get(120, TimeUnit.SECONDS), rb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val failures = outcomes.collect { case Left(e) => e }
    failures.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    // whatever interleaving happened, the table equals exactly ONE of the
    // two frames — a merged/partial state would be a serializability hole
    val finalRows = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    val aSet = a.as[(Long, String)].collect().toSet
    val bSet = b.as[(Long, String)].collect().toSet
    assert(finalRows === aSet || finalRows === bSet,
      s"final table must be one writer's frame, got ${finalRows.size} rows")
  }

  test("delete is copy-on-write: non-hit files survive by name; time travel intact") {
    val t = tmpDir()
    TxStore.append(rows(10).repartition(1), t) // one file: ids 0–9
    TxStore.append(rows(10, from = 10).repartition(1), t) // one file: ids 10–19
    val before = TxStore.snapshot(spark, t).files
    assert(before.size === 2)
    val v = TxStore.delete(spark, t, col("id") < 10)
    assert(v === Some(3L))
    val after = TxStore.snapshot(spark, t).files
    // the ids-10–19 file had no matches: carried over UNREWRITTEN (same name)
    assert(after.intersect(before).size === 1)
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toSet ===
      (10 until 20).map(i => (i.toLong, s"v$i")).toSet)
    // pre-delete snapshot still reconstructable
    assert(TxStore.readAt(spark, t, 2L).count() === 20)
  }

  test("delete keeps rows where the predicate is NULL; no-match delete writes no commit") {
    val t = tmpDir()
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("amount", DoubleType, nullable = true)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, 1.0), Row(2L, java.lang.Double.valueOf(9.0)), Row(3L, null)),
      schema)
    TxStore.append(df, t)
    // amount > 5 is NULL for id=3 — SQL DELETE must keep it
    assert(TxStore.delete(spark, t, col("amount") > 5.0) === Some(2L))
    assert(TxStore.read(spark, t).select("id").as[Long].collect().toSet === Set(1L, 3L))
    // nothing matches now: no-op, no commit, version unchanged
    assert(TxStore.delete(spark, t, col("amount") > 5.0) === None)
    assert(TxStore.snapshot(spark, t).version === 2L)
  }

  test("merge replaces matched keys, inserts unmatched, rejects ambiguous updates") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // ids 0–9
    val updates = (5 until 13).map(i => (i.toLong, s"u$i")).toDF("id", "payload")
    assert(TxStore.merge(spark, t, updates, keys = Seq("id")) === 2L)
    val got = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    val expect = (0 until 5).map(i => (i.toLong, s"v$i")).toSet ++
      (5 until 13).map(i => (i.toLong, s"u$i")).toSet
    assert(got === expect)
    // two updates for one key have no defined winner — rejected up front
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "payload")
    val e = intercept[IllegalArgumentException](TxStore.merge(spark, t, dup, Seq("id")))
    assert(e.getMessage.contains("unique per key"))
    // empty updates: no commit at all
    assert(TxStore.merge(spark, t, updates.limit(0), Seq("id")) === 2L)
    assert(TxStore.snapshot(spark, t).version === 2L)
  }

  test("op-soup stress: final table equals the in-memory fold of committed ops in version order") {
    // Three writers race a seeded-random mix of append / merge /
    // conditional-merge / update / delete. Each records the VERSION its
    // committed ops landed at (losers throw ConcurrentModification and
    // record nothing). Afterwards the table must equal a sequential
    // in-memory fold of exactly the committed ops sorted by version —
    // the serializable-history law the per-op race tests check pairwise,
    // here checked across the whole mixed history.
    val t = tmpDir()
    TxStore.append(rows(20), t)
    type Op = (String, Seq[(Long, String)], Long) // kind, payload rows, pred key
    val rnd = new scala.util.Random(42)
    val plans: Seq[Seq[Op]] = (0 until 3).map { w =>
      (0 until 6).map { i =>
        val base = 100L * (w + 1) + i * 7
        rnd.synchronized(rnd.nextInt(5)) match {
          case 0 => ("append", Seq((base, s"a$w-$i")), 0L)
          case 1 => ("merge", Seq((base % 20, s"m$w-$i"), (base, s"m2$w-$i")), 0L)
          case 2 => ("mergeCond", Seq((base % 20, s"c$w-$i")), 0L)
          case 3 => ("update", Nil, base % 20)
          case 4 => ("delete", Nil, base % 20)
        }
      }
    }
    val committed = new java.util.concurrent.ConcurrentHashMap[Long, Op]()
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val futures = plans.map { ops =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          ops.foreach { op =>
            try {
              val v: Option[Long] = op._1 match {
                case "append" => Some(TxStore.append(op._2.toDF("id", "payload"), t))
                case "merge" => Some(TxStore.merge(spark, t, op._2.toDF("id", "payload"), Seq("id")))
                case "mergeCond" => Some(TxStore.mergeConditional(spark, t,
                  op._2.toDF("id", "payload"), Seq("id"),
                  matchedUpdate = Some(col("t.id") % 2 === 0L),
                  matchedDelete = Some(col("t.id") % 2 =!= 0L)))
                case "update" => TxStore.update(spark, t, col("id") === op._3,
                  Map("payload" -> concat(col("payload"), lit("!"))))
                case "delete" => TxStore.delete(spark, t, col("id") === op._3)
              }
              v.foreach(ver => committed.put(ver, op))
            } catch { case _: java.util.ConcurrentModificationException => () }
          }
        }
      })
    }
    start.countDown()
    futures.foreach(_.get(300, TimeUnit.SECONDS))
    pool.shutdown()
    // sequential in-memory fold of the committed history
    var state = scala.collection.mutable.Map((0 until 20).map(i => i.toLong -> s"v$i"): _*)
    import scala.jdk.CollectionConverters._
    val hist = committed.asScala.toSeq.sortBy(_._1)
    assert(hist.nonEmpty, "no op committed — the stress is vacuous")
    hist.foreach { case (_, op) =>
      op._1 match {
        case "append" => op._2.foreach { case (k, v) => state(k) = v } // fresh keys only by construction
        case "merge" =>
          op._2.foreach { case (k, v) => state(k) = v }
        case "mergeCond" =>
          op._2.foreach { case (k, v) =>
            state.get(k) match {
              case Some(_) if k % 2 == 0 => state(k) = v
              case Some(_) => state.remove(k): Unit
              case None => state(k) = v
            }
          }
        case "update" => if (state.contains(op._3)) state(op._3) = state(op._3) + "!"
        case "delete" => state.remove(op._3): Unit
      }
    }
    val rowsBack = TxStore.read(spark, t).as[(Long, String)].collect()
    assert(rowsBack.length === state.size,
      s"row count ${rowsBack.length} != model ${state.size} — duplicates or losses")
    val got = rowsBack.toMap
    assert(got === state.toMap,
      s"diverged: extra=${got.toSet -- state.toSet} missing=${state.toSet -- got.toSet}")
  }

  test("update: old-row RHS semantics, NULL predicate keeps, missing column rejected") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = tmpDir()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("a", LongType), StructField("b", LongType)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, 10L, 20L), Row(2L, 30L, 40L), Row(3L, null, 50L)),
      schema)
    TxStore.append(df, t)
    // SET a = b, b = a must SWAP (both RHS read the old row);
    // predicate a > 15 is NULL for id=3 — not updated (SQL UPDATE)
    assert(TxStore.update(spark, t, col("a") > 15L,
      Map("a" -> col("b"), "b" -> col("a"))) === Some(2L))
    val got = TxStore.read(spark, t).as[(Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Some(10L), Some(20L))), s"id 1 (a=10 ≤ 15) untouched: ${got(1L)}")
    assert(got(2L) === ((Some(40L), Some(30L))), s"id 2 swapped: ${got(2L)}")
    assert(got(3L) === ((None, Some(50L))), s"NULL predicate keeps id 3: ${got(3L)}")
    // no match: no commit, None
    assert(TxStore.update(spark, t, col("a") > 1000L, Map("b" -> lit(0L))) === None)
    assert(TxStore.snapshot(spark, t).version === 2L)
    // SET of a missing column is a loud reject, never implicit evolution
    val e = intercept[IllegalArgumentException](
      TxStore.update(spark, t, lit(true), Map("nope" -> lit(1L))))
    assert(e.getMessage.contains("existing columns"))
    // RHS casts back to the column type — no silent widening
    TxStore.update(spark, t, col("id") === 1L, Map("a" -> lit(3.9)))
    assert(TxStore.read(spark, t).schema("a").dataType === LongType)
    assert(TxStore.read(spark, t).filter(col("id") === 1L)
      .select("a").as[Long].head() === 3L)
  }

  test("conditional merge: update/delete/keep/insert clauses fire per their conditions") {
    val t = tmpDir()
    // table: (id, payload) v0..v9
    TxStore.append(rows(10), t)
    // updates touch ids 2,3,4 (matched) and 11,12 (unmatched)
    val updates = Seq(
      (2L, "u2"), (3L, "u3"), (4L, "u4"), (11L, "u11"), (12L, "u12")
    ).toDF("id", "payload")
    TxStore.mergeConditional(spark, t, updates, keys = Seq("id"),
      matchedUpdate = Some(col("t.id") === 2L), // only id 2 updates
      matchedDelete = Some(col("t.id") === 3L), // id 3 deletes
      // id 4 matches but neither clause fires -> kept unchanged
      notMatchedInsert = Some(col("s.id") % 2 === 0L)) // 12 inserts, 11 does not
    val got = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    val expect = Set(0L -> "v0", 1L -> "v1", 2L -> "u2", 4L -> "v4", 5L -> "v5",
      6L -> "v6", 7L -> "v7", 8L -> "v8", 9L -> "v9", 12L -> "u12")
      .map { case (k, v) => (k, v) }
    assert(got === expect, s"got $got")
    // delete precedence: a row matching BOTH clauses deletes
    val both = Seq((2L, "x2")).toDF("id", "payload")
    TxStore.mergeConditional(spark, t, both, keys = Seq("id"),
      matchedUpdate = Some(lit(true)), matchedDelete = Some(lit(true)),
      notMatchedInsert = None)
    assert(!TxStore.read(spark, t).as[(Long, String)].collect().toMap.contains(2L))
    // a NULL condition value counts as false (kept, not crashed)
    val nulled = Seq((4L, "n4")).toDF("id", "payload")
    TxStore.mergeConditional(spark, t, nulled, keys = Seq("id"),
      matchedUpdate = Some(lit(null).cast("boolean")), matchedDelete = None,
      notMatchedInsert = None)
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toMap.apply(4L) === "v4")
  }

  test("mergeClauses: column assignments, ordered dispatch, NOT MATCHED BY SOURCE") {
    import graft.sources.TxStore.MergeClause._
    val t = tmpDir()
    // target: ids 0..9 (payload p<i>, score i); source: ids 6..12
    TxStore.append((0L to 9L).map(i => (i, s"p$i", i.toDouble))
      .toDF("id", "payload", "score"), t)
    val src = (6L to 12L).map(i => (i, s"s$i", i * 10.0))
      .toDF("id", "payload", "score")
    TxStore.mergeClauses(spark, t, src, Seq("id"), Seq(
      // matched, id < 8: column assignments see the OLD row + its source
      MatchedUpdate(Some(col("t.id") < 8L), Some(Map(
        "payload" -> concat(col("t.payload"), lit("+"), col("s.payload")),
        "score" -> (col("t.score") + col("s.score"))))),
      // matched, rest (8, 9): delete
      MatchedDelete(None),
      // unmatched source, id <= 11: column insert — unassigned → NULL
      NotMatchedInsert(Some(col("s.id") <= 11L), Some(Map(
        "id" -> col("s.id"), "score" -> col("s.score")))),
      // unmatched target: delete id <= 1 FIRST, then mark id <= 3 stale
      // (clause order — id 0/1 must hit the delete, never the update)
      NotMatchedBySourceDelete(Some(col("t.id") <= 1L)),
      NotMatchedBySourceUpdate(Some(col("t.id") <= 3L), Map("payload" -> lit("stale")))))
    val got = TxStore.read(spark, t).as[(Long, Option[String], Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expect = Map(
      2L -> ((Some("stale"), 2.0)), 3L -> ((Some("stale"), 3.0)),
      4L -> ((Some("p4"), 4.0)), 5L -> ((Some("p5"), 5.0)),
      6L -> ((Some("p6+s6"), 66.0)), 7L -> ((Some("p7+s7"), 77.0)),
      10L -> ((None, 100.0)), 11L -> ((None, 110.0)))
    assert(got === expect, s"got $got")
  }

  test("mergeClauses: assignments evaluate against the OLD row (swap law); empty source + BY SOURCE") {
    import graft.sources.TxStore.MergeClause._
    val t = tmpDir()
    TxStore.append(Seq((1L, "a", "b")).toDF("id", "x", "y"), t)
    TxStore.mergeClauses(spark, t, Seq((1L, "", "")).toDF("id", "x", "y"), Seq("id"),
      Seq(MatchedUpdate(None, Some(Map("x" -> col("t.y"), "y" -> col("t.x"))))))
    assert(TxStore.read(spark, t).as[(Long, String, String)].head() === ((1L, "b", "a")),
      "SET x = y, y = x must swap — the update-against-OLD discipline")
    // an EMPTY source with a BY SOURCE clause still acts (ANSI): every
    // target row is unmatched — the sync idiom's 'source is truth' wipe
    val empty = Seq.empty[(Long, String, String)].toDF("id", "x", "y")
    val v = TxStore.mergeClauses(spark, t, empty, Seq("id"),
      Seq(NotMatchedBySourceDelete(None)))
    assert(TxStore.read(spark, t).count() === 0L)
    assert(v === Some(TxStore.snapshot(spark, t).version), "the wipe commits")
    // …and an empty source WITHOUT a BY SOURCE clause is a no-op
    val v2 = TxStore.mergeClauses(spark, t, empty, Seq("id"),
      Seq(MatchedUpdate(None, None), NotMatchedInsert(None, None)))
    assert(v2 === None, "no commit for the no-op")
    // a NON-empty source that matches nothing and inserts nothing also
    // writes no commit — never an empty version (review r14)
    val before = TxStore.history(spark, t).size
    val v3 = TxStore.mergeClauses(spark, t,
      Seq((99L, "z", "z")).toDF("id", "x", "y"), Seq("id"),
      Seq(MatchedUpdate(None, None), NotMatchedInsert(Some(lit(false)), None)))
    assert(v3 === None && TxStore.history(spark, t).size === before,
      "no-match merge must not commit an empty version")
  }

  test("mergeClauses: BY SOURCE candidates prune on the log's stats — refuted files keep their bytes") {
    import graft.sources.TxStore.MergeClause._
    val t = tmpDir()
    // range layout: 8 files, each a narrow id band
    val df = (0 until 800).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    TxStore.append(df.repartitionByRange(8, col("id")), t)
    val before = TxStore.snapshot(spark, t).files
    // keys hit nothing (ids ≥ 10_000); the BY SOURCE condition only
    // reaches ids < 100 — exactly one band; the other 7 files must
    // survive the merge UNTOUCHED (same staged names = same bytes)
    val src = Seq((10000L, "z")).toDF("id", "payload")
    TxStore.mergeClauses(spark, t, src, Seq("id"), Seq(
      NotMatchedBySourceUpdate(Some(col("t.id") < 100L), Map("payload" -> lit("old"))),
      NotMatchedInsert(Some(lit(false)), None)))
    val after = TxStore.snapshot(spark, t).files
    val surviving = after.toSet.intersect(before.toSet)
    assert(surviving.size >= 6,
      s"stats must prune BY SOURCE candidates: only ${surviving.size} of ${before.size} " +
        "files survived untouched")
    assert(TxStore.read(spark, t).filter(col("payload") === "old").count() === 100)
    assert(TxStore.read(spark, t).count() === 800, "no rows lost or invented")
  }

  test("mergeClauses refusals: unknown assignment column; column-scoped merge into empty table") {
    import graft.sources.TxStore.MergeClause._
    val t = tmpDir()
    TxStore.append(rows(5), t)
    val src = Seq((1L, "u1")).toDF("id", "payload")
    val e1 = intercept[IllegalArgumentException](
      TxStore.mergeClauses(spark, t, src, Seq("id"),
        Seq(MatchedUpdate(None, Some(Map("nope" -> lit("x")))))))
    assert(e1.getMessage.contains("unknown column"), e1.getMessage)
    val t2 = tmpDir() // never written: schemaless
    val e2 = intercept[IllegalArgumentException](
      TxStore.mergeClauses(spark, t2, src, Seq("id"),
        Seq(NotMatchedInsert(None, Some(Map("id" -> col("s.id")))))))
    assert(e2.getMessage.contains("schemaless"), e2.getMessage)
  }

  test("conditional merge with default clauses equals plain merge; ambiguity still rejected") {
    val ta = tmpDir(); val tb = tmpDir()
    TxStore.append(rows(10), ta); TxStore.append(rows(10), tb)
    val updates = (5 until 13).map(i => (i.toLong, s"u$i")).toDF("id", "payload")
    TxStore.merge(spark, ta, updates, keys = Seq("id"))
    TxStore.mergeConditional(spark, tb, updates, keys = Seq("id"))
    assert(TxStore.read(spark, ta).as[(Long, String)].collect().toSet
      === TxStore.read(spark, tb).as[(Long, String)].collect().toSet)
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "payload")
    val e = intercept[IllegalArgumentException](
      TxStore.mergeConditional(spark, tb, dup, Seq("id")))
    assert(e.getMessage.contains("unique per key"))
  }

  test("merge dispatches per target row like mergeConditional; working columns never collide") {
    // each copy of a duplicated target key matches the source row on
    // its own and takes its values — plain and conditional merge agree
    val ta = tmpDir(); val tb = tmpDir()
    val dupTarget = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "payload")
    TxStore.append(dupTarget, ta); TxStore.append(dupTarget, tb)
    val updates = Seq((1L, "u1"), (3L, "u3")).toDF("id", "payload")
    TxStore.merge(spark, ta, updates, Seq("id"))
    TxStore.mergeConditional(spark, tb, updates, Seq("id"))
    val got = TxStore.read(spark, ta).as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "u1"), (1L, "u1"), (2L, "c"), (3L, "u3")))
    assert(TxStore.read(spark, tb).as[(Long, String)].collect().sorted.toSeq === got)
    // data columns named like the dispatch's match flag and clause index
    val tc = tmpDir()
    TxStore.append(Seq((1L, "x", 0L)).toDF("id", "__m", "__act"), tc)
    TxStore.merge(spark, tc, Seq((1L, "y", 5L), (2L, "z", 6L)).toDF("id", "__m", "__act"), Seq("id"))
    assert(TxStore.read(spark, tc).as[(Long, String, Long)].collect().sorted.toSeq ===
      Seq((1L, "y", 5L), (2L, "z", 6L)))
  }

  test("racing conditional merges serialize like plain merges") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    val ua = Seq((0L, "A")).toDF("id", "payload")
    val ub = Seq((9L, "B")).toDF("id", "payload")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def submit(df: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          start.await()
          try Right(TxStore.mergeConditional(spark, t, df, Seq("id")))
          catch { case e: Throwable => Left(e) }
        }
      })
    val (ra, rb) = (submit(ua), submit(ub))
    start.countDown()
    val outcomes = Seq(ra.get(120, TimeUnit.SECONDS), rb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    outcomes.collect { case Left(e) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    assert(outcomes.count(_.isRight) >= 1, "at least one conditional merge must commit")
    assert(TxStore.read(spark, t).count() === 10)
  }

  test("racing merges serialize: each either commits against the latest snapshot or conflicts") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    val ua = Seq((0L, "A")).toDF("id", "payload")
    val ub = Seq((9L, "B")).toDF("id", "payload")
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def submit(df: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          start.await()
          try Right(TxStore.merge(spark, t, df, Seq("id")))
          catch { case e: Throwable => Left(e) }
        }
      })
    val (ra, rb) = (submit(ua), submit(ub))
    start.countDown()
    val outcomes = Seq(ra.get(120, TimeUnit.SECONDS), rb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    outcomes.collect { case Left(e) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    val got = TxStore.read(spark, t).as[(Long, String)].collect().toMap
    val winners = outcomes.collect { case Right(_) => () }.size
    assert(winners >= 1, "at least one merge must commit")
    // every committed merge's effect is present; no duplicates ever
    assert(TxStore.read(spark, t).count() === 10)
    if (outcomes(0).isRight) assert(got(0L) === "A")
    if (outcomes(1).isRight) assert(got(9L) === "B")
  }

  test("appendOnce is idempotent per (writer, batch) — including under a concurrent race") {
    val t = tmpDir()
    val v1 = TxStore.appendOnce(rows(10), t, writerId = "q", batchId = 0L)
    // foreachBatch redelivery: same stamp → no-op returning the original version
    assert(TxStore.appendOnce(rows(10), t, "q", 0L) === v1)
    assert(TxStore.read(spark, t).count() === 10)
    // next batch appends normally; a different writer has its own stamps
    assert(TxStore.appendOnce(rows(5, from = 10), t, "q", 1L) === v1 + 1)
    assert(TxStore.appendOnce(rows(3, from = 100), t, "other", 0L) === v1 + 2)
    assert(TxStore.read(spark, t).count() === 18)

    // concurrent duplicate delivery of ONE batch: exactly one commit
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val fs = (0 until 2).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { start.await(); TxStore.appendOnce(rows(7, from = 50), t, "q", 2L) }
      })
    }
    start.countDown()
    val versions = fs.map(_.get(120, TimeUnit.SECONDS)).toSet
    pool.shutdown()
    assert(versions.size === 1, s"both deliveries must land on one version, got $versions")
    assert(TxStore.read(spark, t).count() === 25)
    // the loser's staged files were cleaned up: nothing for vacuum
    assert(TxStore.vacuum(spark, t) === 0)
  }

  test("readAppendsSince returns only the delta and refuses ranges it can't represent") {
    val t = tmpDir()
    // a consumer polling AHEAD of the producer sees an empty delta at
    // version 0, not an error
    val (v0, pre) = TxStore.readAppendsSince(spark, t, 0L)
    assert(v0 === 0L && pre.count() === 0L)
    TxStore.append(rows(10), t) // v1
    TxStore.append(rows(5, from = 10), t) // v2
    val (v, delta) = TxStore.readAppendsSince(spark, t, sinceVersion = 1L)
    assert(v === 2L)
    assert(delta.as[(Long, String)].collect().toSet ===
      (10 until 15).map(i => (i.toLong, s"v$i")).toSet)
    // caught up: empty delta at the same version
    val (v2, none) = TxStore.readAppendsSince(spark, t, sinceVersion = 2L)
    assert(v2 === 2L && none.count() === 0L)
    // a rewrite commit in range is refused — file adds can't express it
    TxStore.delete(spark, t, col("id") < 2) // v3
    val e1 = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t, 2L))
    assert(e1.getMessage.contains("rewrite"))
    // history truncated by a checkpoint is refused too
    TxStore.checkpoint(spark, t) // v4
    TxStore.append(rows(2, from = 90), t) // v5
    val e2 = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t, 2L))
    assert(e2.getMessage.contains("truncated"))
    // but post-checkpoint CDC works
    val (v5, tail) = TxStore.readAppendsSince(spark, t, 4L)
    assert(v5 === 5L && tail.count() === 2L)
    // a position AHEAD of the log (wrong path / recreated table) fails
    // loudly instead of silently resetting the consumer to version 0
    val e3 = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t, 99L))
    assert(e3.getMessage.contains("ahead of the log"))
  }

  test("schema evolves additively through the log; time travel keeps the old schema") {
    val t = tmpDir()
    TxStore.append(rows(5), t) // v1: (id, payload)
    val wide = (5 until 8).map(i => (i.toLong, s"v$i", i * 10.0)).toDF("id", "payload", "score")
    TxStore.append(wide, t) // v2 evolves: (id, payload, score)
    val cur = TxStore.read(spark, t)
    assert(cur.columns.toSeq === Seq("id", "payload", "score"))
    // pre-evolution files read the new column as NULL — no footer merge,
    // the schema comes from the log
    val scores = cur.select("id", "score").as[(Long, Option[Double])].collect().toMap
    assert((0L until 5L).forall(scores(_).isEmpty))
    assert(scores(6L) === Some(60.0))
    // the past is read with the schema AS OF that version
    assert(TxStore.readAt(spark, t, 1L).columns.toSeq === Seq("id", "payload"))
    // compaction carries the evolved schema forward
    TxStore.compact(spark, t)
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id", "payload", "score"))
    assert(TxStore.read(spark, t).count() === 8)
  }

  test("schema type drift is rejected; overwrite may replace the schema freely") {
    val t = tmpDir()
    TxStore.append(rows(3), t)
    val drifted = Seq(("1", "x")).toDF("id", "payload") // id: string now
    val e = intercept[IllegalArgumentException](TxStore.append(drifted, t))
    assert(e.getMessage.contains("schema conflict on 'id'"))
    // overwrite replaces the table, schema included
    TxStore.overwrite(Seq((1L, 2L)).toDF("a", "b"), t)
    assert(TxStore.read(spark, t).columns.toSeq === Seq("a", "b"))
  }

  test("checkpoint collapses replay; vacuum then reclaims pre-checkpoint files") {
    val t = tmpDir()
    TxStore.append(rows(10), t)
    TxStore.overwrite(rows(5, from = 50), t) // v2: v1's files now dead
    val ckv = TxStore.checkpoint(spark, t)   // v3
    assert(ckv === 3L)
    // replay now starts at the checkpoint — history is truncated to it
    assert(TxStore.history(spark, t).head.op === "checkpoint")
    val reclaimed = TxStore.vacuum(spark, t, ageGraceMs = 0)
    assert(reclaimed > 0, "v1's overwritten files must be reclaimable")
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toSet ===
      (50 until 55).map(i => (i.toLong, s"v$i")).toSet)
    // time travel before the checkpoint is now explicitly refused
    val e = intercept[IllegalArgumentException](TxStore.readAt(spark, t, 1L))
    assert(e.getMessage.contains("predates"))
  }

  test("vacuum retention window protects a reader pinned at an old version") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // v1
    TxStore.append(rows(10, from = 10), t) // v2
    // reader pins the v2 snapshot (plan + file list fixed now, scan later)
    val pinnedFiles = TxStore.snapshotAt(spark, t, 2L).files
    val reader = TxStore.readAt(spark, t, 2L)
    TxStore.compact(spark, t, target = 1) // v3: v1/v2 files dereferenced
    TxStore.checkpoint(spark, t) // v4: log truncates, adds restate only v3's file
    // v2 is 2 versions behind v4 — inside a retainVersions=3 window, so
    // vacuum must keep every file the pinned reader needs…
    TxStore.vacuum(spark, t, retainVersions = 3, ageGraceMs = 0)
    assert(reader.as[(Long, String)].collect().toSet ===
      (0 until 20).map(i => (i.toLong, s"v$i")).toSet,
      "a reader inside the retention window finishes after vacuum")
    // …and an aggressive window reclaims them (the documented trade: a
    // reader older than the window loses its files)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(pinnedFiles.forall(n =>
      !f.exists(new org.apache.hadoop.fs.Path(s"$t/data/$n"))),
      "outside the retention window the old snapshot's files are reclaimed")
    assert(TxStore.read(spark, t).count() === 20, "the live snapshot is untouched")
  }

  test("schema widens along safe chains; old files read through the widened type") {
    val t = tmpDir()
    val narrow = Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score") // int, float
    TxStore.append(narrow, t) // v1
    val wide = Seq((3000000000L, 3.5d)).toDF("id", "score") // bigint, double
    TxStore.append(wide, t) // v2: widens both columns in the log
    val cur = TxStore.read(spark, t)
    assert(cur.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(cur.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(cur.as[(Long, Double)].collect().toSet ===
      Set((1L, 1.5), (2L, 2.5), (3000000000L, 3.5)),
      "v1's int32/float files promote losslessly under the widened log schema")
    // a narrower late wave is fine too — the log keeps the widest type
    TxStore.append(Seq((4, 4.5f)).toDF("id", "score"), t) // v3
    assert(TxStore.read(spark, t).schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(TxStore.read(spark, t).count() === 4)
    // time travel reads v1 with the HISTORICAL narrow schema
    assert(TxStore.readAt(spark, t, 1L).schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    // cross-chain changes are still drift
    val t2 = tmpDir()
    TxStore.append(Seq((1L, 1.5d)).toDF("id", "score"), t2)
    val e2 = intercept[IllegalArgumentException](
      TxStore.append(Seq(("x", 1.0d)).toDF("id", "score"), t2))
    assert(e2.getMessage.contains("not a safe widening"))
  }

  test("column names resolve per spark.sql.caseSensitive, not byte equality") {
    val t = tmpDir()
    TxStore.append(rows(3), t)
    // case-insensitive session (the Spark default): 'ID' IS 'id' — no
    // silent duplicate column; the table keeps its original spelling
    TxStore.append(Seq((100L, "up")).toDF("ID", "PAYLOAD"), t)
    val cur = TxStore.read(spark, t)
    assert(cur.columns.toSeq === Seq("id", "payload"),
      "the table's original spelling wins under case-insensitive resolution")
    assert(cur.count() === 4)
    // same name different case with a DIFFERENT type is still drift
    val e = intercept[IllegalArgumentException](
      TxStore.append(Seq(("x", "y")).toDF("ID", "payload"), t))
    assert(e.getMessage.contains("not a safe widening"))
    // an incoming frame whose own columns collide case-insensitively is
    // rejected loudly — by Spark's parquet writer at staging (append
    // stages first) or by evolve's own collision guard (merge evolves
    // first); either way it never reaches the log schema
    val clash = Seq((1L, "a", "b")).toDF("id", "payload", "PAYLOAD")
    val e2 = intercept[Exception](TxStore.append(clash, t))
    val msg = e2.getMessage.toLowerCase(java.util.Locale.ROOT)
    assert(msg.contains("colliding") || msg.contains("duplicate") ||
      msg.contains("already exists"), e2.getMessage)
  }

  test("vacuum prunes pre-checkpoint log files outside the retention window") {
    val t = tmpDir()
    TxStore.append(rows(5), t) // v1
    TxStore.append(rows(5, from = 5), t) // v2
    TxStore.checkpoint(spark, t) // v3
    TxStore.append(rows(5, from = 10), t) // v4
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def logFiles =
      f.listStatus(new org.apache.hadoop.fs.Path(s"$t/_txlog")).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
    assert(logFiles.size === 4)
    // retainVersions=2 at latest v4: window starts at v3 = the
    // checkpoint, so v1 and v2's commit files are prunable
    TxStore.vacuum(spark, t, retainVersions = 2, ageGraceMs = 0)
    assert(logFiles.size === 2, "v1/v2 log entries pruned; checkpoint + tail stay")
    assert(TxStore.read(spark, t).count() === 15, "replay from the checkpoint is intact")
    // without a checkpoint nothing is ever pruned — replay would break
    val t2 = tmpDir()
    TxStore.append(rows(3), t2)
    TxStore.append(rows(3, from = 3), t2)
    TxStore.vacuum(spark, t2, retainVersions = 1, ageGraceMs = 0)
    assert(TxStore.read(spark, t2).count() === 6)
    assert(TxStore.history(spark, t2).size === 2)
  }

  test("stats skipping: a selective predicate on a range-laid-out table prunes files") {
    val t = tmpDir()
    // four appends with disjoint id ranges — the sorted-layout shape
    // compaction (s12) and Z-order (s17) produce; each lands ≥1 file
    // whose logged [min,max] is a tight range
    (0 until 4).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t))
    val pred = col("id") >= 120L && col("id") < 180L
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, pred)
    assert(kept.size + skipped.size === TxStore.snapshot(spark, t).files.size)
    assert(skipped.size === 3, s"three of four range files refute [120,180): kept=$kept")
    val got = TxStore.readWhere(spark, t, pred).as[(Long, String)].collect().toSet
    assert(got === (120 until 180).map(i => (i.toLong, s"v$i")).toSet,
      "pruned read ≡ full-scan filter")
    // conservative tier: an unsupported predicate shape prunes nothing…
    val (_, keptAll, skippedNone) =
      TxStore.pruneFiles(spark, t, length(col("payload")) === 2)
    assert(skippedNone.isEmpty && keptAll.size === 4, "unsupported shape: keep all")
    // …and OR-widening keeps every file either branch might hit
    val (_, keptOr, skippedOr) =
      TxStore.pruneFiles(spark, t, (col("id") < 50L) || (col("id") >= 350L))
    assert(keptOr.size === 2 && skippedOr.size === 2, "OR keeps both edge files")
  }

  test("string stats and IN-lists prune; non-ASCII literals never do") {
    val t = tmpDir()
    // four files with disjoint LEXICOGRAPHIC payload ranges (fixed-width
    // keys so string order == numeric order)
    def wide(n: Int, from: Int) =
      (from until from + n).map(i => (i.toLong, f"k$i%04d")).toDF("id", "payload")
    (0 until 4).foreach(k => TxStore.append(wide(100, k * 100).coalesce(1), t))
    val (_, keptEq, skippedEq) = TxStore.pruneFiles(spark, t, col("payload") === "k0150")
    assert(keptEq.size === 1 && skippedEq.size === 3, "string equality prunes to one file")
    val (_, keptRange, _) =
      TxStore.pruneFiles(spark, t, col("payload") >= "k0150" && col("payload") < "k0250")
    assert(keptRange.size === 2, "string range spans exactly two files")
    assert(TxStore.readWhere(spark, t, col("payload") === "k0150").count() === 1L)
    // IN-list: satisfiable iff ANY member is in range — members from two
    // files keep exactly those two
    val (_, keptIn, skippedIn) =
      TxStore.pruneFiles(spark, t, col("id").isin(5L, 350L))
    assert(keptIn.size === 2 && skippedIn.size === 2, "IN keeps each member's file")
    assert(TxStore.readWhere(spark, t, col("id").isin(5L, 350L)).count() === 2L)
    // a non-ASCII literal must not prune (byte order vs String order)
    val (_, keptNa, skippedNa) = TxStore.pruneFiles(spark, t, col("payload") === "kø150")
    assert(skippedNa.isEmpty && keptNa.size === 4, "non-ASCII literal: keep all")
    // a NaN literal has no BigDecimal form — must keep all, not crash
    val (_, keptNan, skippedNan) = TxStore.pruneFiles(spark, t, col("id") === Double.NaN)
    assert(skippedNan.isEmpty && keptNan.size === 4, "NaN literal: keep all")
  }

  test("stats survive checkpoint truncation and compaction rewrites them") {
    val t = tmpDir()
    (0 until 3).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t))
    TxStore.checkpoint(spark, t)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0) // truncate the log
    val (_, kept1, skipped1) = TxStore.pruneFiles(spark, t, col("id") === 250L)
    assert(kept1.size === 1 && skipped1.size === 2,
      "checkpoint restates per-file stats — skipping works from the truncated log")
    // a compacted file spans the whole range: nothing refutable any more,
    // but the rewritten file carries FRESH stats (still prunable outside)
    TxStore.compact(spark, t, target = 1)
    val (_, _, skippedIn) = TxStore.pruneFiles(spark, t, col("id") === 250L)
    assert(skippedIn.isEmpty, "single compacted file covers the point")
    val (_, keptOut, skippedOut) = TxStore.pruneFiles(spark, t, col("id") >= 1000L)
    assert(keptOut.isEmpty && skippedOut.size === 1,
      "compaction's commit carries fresh stats for the rewritten file")
    // delete rewrites carry stats too: after removing the low half, a
    // low-range predicate skips the rewritten file
    TxStore.delete(spark, t, col("id") < 150L)
    val (_, keptLow, _) = TxStore.pruneFiles(spark, t, col("id") < 100L)
    assert(keptLow.isEmpty, "post-delete rewrite's stats exclude the deleted range")
    assert(TxStore.readWhere(spark, t, col("id") < 100L).count() === 0L)
  }

  test("readWhereAt: time travel prunes with the ranges the log knew at that version") {
    val t = tmpDir()
    (0 until 3).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t))
    TxStore.overwrite(rows(10, from = 900).coalesce(1), t) // v4 replaces everything
    // at v4 the only live file covers [900,910): id=150 reads empty
    assert(TxStore.readWhere(spark, t, col("id") === 150L).count() === 0L)
    // at v3 the historical stats still resolve id=150 to exactly one row
    val got = TxStore.readWhereAt(spark, t, 3L, col("id") === 150L)
      .as[(Long, String)].collect().toSeq
    assert(got === Seq((150L, "v150")))
  }

  test("deletion vectors: rows vanish, files do not; vectors union; rewrites retire them") {
    val t = tmpDir()
    (0 until 2).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t))
    val filesBefore = TxStore.snapshot(spark, t).files.toSet
    // v3: mark %7 rows deleted — NO file may be added or removed
    assert(TxStore.deleteVectored(spark, t, col("id") % 7 === 0L) === Some(3L))
    val snapAfter = TxStore.snapshot(spark, t)
    assert(snapAfter.files.toSet === filesBefore, "merge-on-read: file set untouched")
    assert(snapAfter.dv.nonEmpty && snapAfter.dv.values.map(_.size).sum === 29)
    val got = TxStore.read(spark, t).select("id").as[Long].collect().toSet
    assert(got === (0L until 200L).filter(_ % 7 != 0).toSet)
    // time travel BEFORE the vector sees everything
    assert(TxStore.readAt(spark, t, 2L).count() === 200L)
    // a second vector on the same files UNIONS
    TxStore.deleteVectored(spark, t, col("id") === 1L)
    assert(TxStore.read(spark, t).count() === (200 - 29 - 1).toLong)
    // no-match delete writes no commit
    assert(TxStore.deleteVectored(spark, t, col("id") === -5L) === None)
    // compact MATERIALIZES the vectors: row-identical readback, fresh
    // files, zero vectors left
    TxStore.compact(spark, t, target = 1)
    val snapC = TxStore.snapshot(spark, t)
    assert(snapC.dv.isEmpty, "rewritten files carry no vectors")
    assert(TxStore.read(spark, t).count() === (200 - 29 - 1).toLong)
  }

  test("deletion vectors: probes read through vectors; CDC refuses DV ranges") {
    val t = tmpDir()
    TxStore.append(rows(100).coalesce(1), t) // v1
    TxStore.deleteVectored(spark, t, col("id") === 10L) // v2
    // merge on a DV-deleted key must NOT resurrect the old row: the
    // probe reads through the vector, finds no match, inserts fresh
    TxStore.merge(spark, t, Seq((10L, "fresh")).toDF("id", "payload"), keys = Seq("id"))
    val r10 = TxStore.read(spark, t).filter($"id" === 10L)
      .as[(Long, String)].collect().toSeq
    assert(r10 === Seq((10L, "fresh")), "exactly the merged row, not the DV'd original")
    // copy-on-write delete on a DV'd file materializes the vector too
    TxStore.delete(spark, t, col("id") === 20L)
    assert(TxStore.snapshot(spark, t).dv.isEmpty, "rewrite retired the vector")
    assert(TxStore.read(spark, t).count() === 99L)
    // file-level CDC cannot represent a DV commit — fail loudly
    val t2 = tmpDir()
    TxStore.append(rows(10), t2)
    TxStore.deleteVectored(spark, t2, col("id") === 1L)
    val e = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t2, 1L))
    assert(e.getMessage.contains("rewrite"))
  }

  test("deletion vectors survive checkpoint truncation; oversized deletes are refused") {
    val t = tmpDir()
    TxStore.append(rows(100).coalesce(1), t)
    TxStore.deleteVectored(spark, t, col("id") < 10L)
    TxStore.checkpoint(spark, t)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    assert(TxStore.read(spark, t).count() === 90L,
      "checkpoint restates vectors — the truncated log still applies them")
    assert(TxStore.readWhere(spark, t, col("id") <= 20L).count() === 11L,
      "stats-pruned reads apply vectors too")
    intercept[IllegalArgumentException](
      TxStore.deleteVectored(spark, t, col("id") >= 0L, maxDvRows = 10))
  }

  test("restore rewinds files, schema, stats and vectors in one commit") {
    val t = tmpDir()
    (0 until 3).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t)) // v1–v3
    TxStore.deleteVectored(spark, t, col("id") === 5L) // v4
    TxStore.overwrite(rows(7, from = 900), t) // v5 — the "accident"
    assert(TxStore.read(spark, t).count() === 7L)
    val v = TxStore.restore(spark, t, 4L) // back to 300 rows minus the DV'd one
    assert(v === 6L, "restore is itself a commit")
    assert(TxStore.read(spark, t).count() === 299L, "files AND vectors restored")
    // stats restored: pruning works as at v4
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("id") === 150L)
    assert(kept.size === 1 && skipped.size === 2, "restated stats still prune")
    // restoring to BEFORE the vector clears it (marks reset, not unioned)
    TxStore.restore(spark, t, 3L)
    assert(TxStore.snapshot(spark, t).dv.isEmpty)
    assert(TxStore.read(spark, t).count() === 300L)
    // the botched v5 stays readable for forensics
    assert(TxStore.readAt(spark, t, 5L).count() === 7L)
  }

  test("racing vectored deletes both commit; their marks union (position marks commute)") {
    val t = tmpDir()
    TxStore.append(rows(100).coalesce(1), t) // one file — maximal contention
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val done = (0 until 2).map { w =>
      pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          // disjoint predicates on the SAME file: w=0 marks %10==0,
          // w=1 marks %10==1 — no conflict rule may fire, both commit
          TxStore.deleteVectored(spark, t, col("id") % 10 === w.toLong)
        }
      })
    }
    start.countDown()
    val versions = done.map(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(versions.flatten.toSet === Set(2L, 3L), s"both committed: $versions")
    assert(TxStore.read(spark, t).count() === 80L, "replay unions both mark sets")
    assert(TxStore.snapshot(spark, t).dv.values.map(_.size).sum === 20)
  }

  test("optimize-zorder materializes vectors, refreshes stats, no-ops when empty") {
    val t = tmpDir()
    assert(TxStore.compactZOrder(spark, t, Seq("id", "id2")) === None, "empty table no-ops")
    val df = (0 until 400).map(i => (i.toLong, (i * 7 % 400).toLong, s"v$i"))
      .toDF("id", "id2", "payload")
    TxStore.append(df.repartition(4), t) // scattered
    TxStore.deleteVectored(spark, t, col("id") === 13L)
    TxStore.compactZOrder(spark, t, Seq("id", "id2"), target = 8)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.dv.isEmpty, "rewrite materialized the vector")
    assert(TxStore.read(spark, t).count() === 399L)
    val (_, _, skipId) = TxStore.pruneFiles(spark, t, col("id") < 50L)
    val (_, _, skipId2) = TxStore.pruneFiles(spark, t, col("id2") < 50L)
    assert(skipId.nonEmpty && skipId2.nonEmpty, "both curve dimensions prune after optimize")
  }

  test("detail reports the operational numbers without any data IO") {
    val t = tmpDir()
    (0 until 2).foreach(k => TxStore.append(rows(50, from = k * 50).coalesce(1), t))
    TxStore.deleteVectored(spark, t, col("id") < 5L)
    val d = TxStore.detail(spark, t)
    assert(d.version === 3L)
    assert(d.numFiles === 2)
    assert(d.sizeBytes > 0L)
    assert(d.numFilesWithStats === 2, "both appends harvested stats")
    assert(d.dvMarkedRows === 5L)
    assert(d.schemaFields === Seq("id", "payload"))
  }

  test("a failed append leaves no orphaned staged files behind") {
    val t = tmpDir()
    TxStore.append(rows(3), t)
    // drifted schema: stage happens first, then evolve throws — the
    // staged files must be deleted on the way out, not orphaned
    intercept[IllegalArgumentException](
      TxStore.append(Seq(("oops", "x")).toDF("id", "payload"), t))
    assert(TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0) === 0,
      "nothing unreferenced survives a failed append")
    assert(TxStore.read(spark, t).count() === 3)
  }

  test("racing rewrite vs vectored delete never resurrects a committed delete") {
    // The dv-before-rewrite ordering: a deleteVectored commit adds and
    // removes NO files, so a rewrite whose conflict check only tests
    // "inputs still live" would commit replacement files staged through
    // the PRE-delete marks — a silent lost delete. The rewrite ops
    // re-check dv drift on their inputs; this race pins the invariant:
    // whenever the vectored delete reports success, its row stays dead.
    (0 until 4).foreach { round =>
      val t = tmpDir()
      TxStore.append(rows(200).repartition(2), t)
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val compactF = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = { start.await(); TxStore.compact(spark, t, target = 1) }
      })
      val dvF = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          try TxStore.deleteVectored(spark, t, col("id") === 13L)
          catch { // compact won first and removed the marked file — retry
            case _: java.util.ConcurrentModificationException =>
              TxStore.deleteVectored(spark, t, col("id") === 13L)
          }
        }
      })
      start.countDown()
      val (c, dv) = (compactF.get(120, TimeUnit.SECONDS), dvF.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(dv.isDefined, s"round $round: the vectored delete must eventually commit")
      val ids = TxStore.read(spark, t).select("id").as[Long].collect().toSet
      assert(!ids.contains(13L),
        s"round $round: committed delete resurrected (compact=$c, dv=$dv)")
      assert(ids.size === 199, s"round $round: no other row lost")
    }
  }

  test("stats harvest survives NaN/Infinity bounds and prunes floats soundly") {
    // NaN/±Infinity are legal parquet double stats (parquet-mr's min/max
    // propagates NaN); they must drop the COLUMN's stats, not abort the
    // append.
    val t = tmpDir()
    val df = Seq((1L, 1.5, "a"), (2L, Double.NaN, "b"), (3L, 42.0, "c"))
      .toDF("id", "x", "payload")
    TxStore.append(df.coalesce(1), t) // must not throw
    assert(TxStore.read(spark, t).count() === 3L)
    // no x-stats were logged, so an x-predicate prunes nothing and the
    // filter alone decides — including Spark's NaN-is-greatest ordering
    // (NaN > 0.0 is TRUE in Spark SQL), which is exactly why a
    // NaN-poisoned column must drop its stats rather than prune with them
    assert(TxStore.readWhere(spark, t, col("x") > 0.0).count() === 3L)
    val (_, kept, _) = TxStore.pruneFiles(spark, t, col("x") > 1e9)
    assert(kept.size === 1, "NaN-poisoned column keeps the file (no stats, never skips)")
    // id stats are unaffected by the sibling column's drop
    val (_, _, skipId) = TxStore.pruneFiles(spark, t, col("id") > 100L)
    assert(skipId.size === 1, "sibling numeric column still harvested")

    // FLOAT bounds must compare as the PROMOTED double, not the shortest
    // decimal: a file whose float max is 0.3f (promoted 0.30000001192…)
    // must NOT be pruned for col >= 0.30000001 — the row matches.
    val t2 = tmpDir()
    TxStore.append(
      Seq((1L, 0.1f), (2L, 0.3f)).toDF("id", "f").coalesce(1), t2)
    assert(TxStore.readWhere(spark, t2, col("f") >= 0.30000001).count() === 1L,
      "promoted-float bound must not refute a matching predicate")
    val (_, keptF, _) = TxStore.pruneFiles(spark, t2, col("f") >= 0.30000001)
    assert(keptF.size === 1, "file kept: exact binary expansion beats toString")
    // and genuinely-out-of-range predicates still prune
    val (_, _, skipF) = TxStore.pruneFiles(spark, t2, col("f") > 0.5)
    assert(skipF.size === 1)
  }

  /** Sidecar payload files on disk (excluding Hadoop LocalFileSystem's
    * .crc checksum twins, which f.delete reclaims alongside). */
  private def sidecarFiles(t: String): Set[String] = {
    val dir = new java.io.File(s"$t/_txlog/_sidecar")
    Option(dir.list()).map(_.toSet.filter(_.endsWith(".sc"))).getOrElse(Set.empty)
  }

  test("multi-part checkpoint: sidecars carry the restatement; replay is checkpoint + tail") {
    val t = tmpDir()
    // 6 single-file appends (per-file stats) + vectors on two of them
    (0 until 6).foreach(k => TxStore.append(rows(100, from = k * 100).coalesce(1), t))
    TxStore.deleteVectored(spark, t, col("id") % 97 === 0L) // v7
    val ck = TxStore.checkpoint(spark, t, shardFiles = 2) // v8 — 3 sidecars
    assert(ck === 8L)
    val head = TxStore.history(spark, t).head
    assert(head.op === "checkpoint")
    assert(head.sidecars.size === 3, s"6 payload files / 2 per shard: ${head.sidecars}")
    assert(head.stats.isEmpty && head.dv.isEmpty, "sharded checkpoint carries no inline payload")
    // restated stats still prune; restated vectors still apply
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("id") === 250L)
    assert(kept.size === 1 && skipped.size === 5, "sidecar stats prune to one file")
    val expect = (0L until 600L).filterNot(_ % 97 == 0).toSet
    assert(TxStore.read(spark, t).select("id").as[Long].collect().toSet === expect)
    // the tail after the checkpoint composes on top of sidecar state
    TxStore.append(rows(10, from = 600).coalesce(1), t) // v9
    assert(TxStore.read(spark, t).count() === (expect.size + 10).toLong)
    // vacuum prunes pre-checkpoint commit files but keeps referenced
    // sidecars — replay is now PHYSICALLY checkpoint + tail
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    val logs = new java.io.File(s"$t/_txlog").list().filter(_.endsWith(".json"))
    assert(logs.sorted.head.contains("00000008"), s"pre-checkpoint logs pruned: ${logs.toSeq}")
    assert(sidecarFiles(t).size === 3, "referenced sidecars survive vacuum")
    assert(TxStore.read(spark, t).count() === (expect.size + 10).toLong)
    // a LATER inline checkpoint supersedes; its vacuum reclaims the
    // now-unreferenced sidecars
    TxStore.checkpoint(spark, t) // v10, inline (payload fits one line)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    assert(sidecarFiles(t).isEmpty, "unreferenced sidecars reclaimed")
    assert(TxStore.read(spark, t).count() === (expect.size + 10).toLong)
  }

  test("bulk vectored delete rides a packed sidecar; rewrites retire it; CDC refuses it") {
    val t = tmpDir()
    TxStore.append(rows(500).repartition(2), t) // v1
    val filesBefore = TxStore.snapshot(spark, t).files.toSet
    // force the sidecar path regardless of mark count
    assert(TxStore.deleteVectored(spark, t, col("id") % 3 === 0L, inlineDvRows = 0) === Some(2L))
    val c = TxStore.history(spark, t).last
    assert(c.op === "delete-dv" && c.dv.isEmpty && c.sidecars.size === 1,
      "marks travel in the sidecar, not the commit line")
    assert(TxStore.snapshot(spark, t).files.toSet === filesBefore, "still merge-on-read")
    val got = TxStore.read(spark, t).select("id").as[Long].collect().toSet
    assert(got === (0L until 500L).filterNot(_ % 3 == 0).toSet)
    // stats-pruned reads and time travel apply sidecar marks too
    assert(TxStore.readWhere(spark, t, col("id") < 10L).count() === 6L)
    assert(TxStore.readAt(spark, t, 1L).count() === 500L)
    // file-level CDC cannot represent a sidecar dv commit — fail loudly
    val e = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t, 1L))
    assert(e.getMessage.contains("rewrite"))
    // a rewrite materializes the sidecar marks like inline ones
    TxStore.compact(spark, t, target = 1)
    assert(TxStore.snapshot(spark, t).dv.isEmpty)
    assert(TxStore.read(spark, t).count() === got.size.toLong)
    // the retired sidecar is reclaimable only once its commit is pruned
    TxStore.checkpoint(spark, t)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    assert(sidecarFiles(t).isEmpty, "retired dv sidecar reclaimed after log pruning")
  }

  test("distributed parquet deletion vectors: no driver collect, full read/rewrite lifecycle") {
    val t = tmpDir()
    TxStore.append(rows(600).repartition(3), t) // v1
    val filesBefore = TxStore.snapshot(spark, t).files.toSet
    assert(TxStore.deleteVectoredBulk(spark, t, col("id") % 3 === 0L) === Some(2L))
    val c = TxStore.history(spark, t).last
    assert(c.op === "delete-dv" && c.dv.isEmpty && c.sidecars.size === 1,
      "marks ride a parquet dir referenced through one text sidecar")
    assert(TxStore.snapshot(spark, t).files.toSet === filesBefore, "merge-on-read: no rewrite")
    val dvpDirs = new java.io.File(s"$t/_txlog/_sidecar")
      .list().filter(_.endsWith(".dvpq"))
    assert(dvpDirs.length === 1, "executor-written parquet dir staged under _sidecar")
    val expect = (0L until 600L).filterNot(_ % 3 == 0).toSet
    assert(TxStore.read(spark, t).select("id").as[Long].collect().toSet === expect)
    // pruned reads and time travel apply parquet marks too
    assert(TxStore.readWhere(spark, t, col("id") < 9L).select("id").as[Long]
      .collect().toSet === Set(1L, 2L, 4L, 5L, 7L, 8L))
    assert(TxStore.readAt(spark, t, 1L).count() === 600L)
    // detail counts parquet marks as live marks
    assert(TxStore.detail(spark, t).dvMarkedRows === 200L)
    // marks COMPOSE with a later inline vectored delete
    TxStore.deleteVectored(spark, t, col("id") === 1L) // v3, inline
    assert(TxStore.read(spark, t).count() === (expect.size - 1).toLong)
    // file-level CDC refuses the dv commit
    val e = intercept[IllegalArgumentException](TxStore.readAppendsSince(spark, t, 1L))
    assert(e.getMessage.contains("rewrite"))
    // a rewrite materializes parquet marks and retires the refs
    TxStore.compact(spark, t, target = 1)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.dvp.isEmpty && snap.dv.isEmpty, "rewrite retires all vector state")
    assert(TxStore.read(spark, t).count() === (expect.size - 1).toLong)
    // after checkpoint + vacuum the now-unreferenced dir is reclaimed
    TxStore.checkpoint(spark, t)
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    val left = new java.io.File(s"$t/_txlog/_sidecar")
    assert(!left.exists() || left.list().forall(n => !n.endsWith(".dvpq")),
      "retired parquet-vector dir reclaimed once its commits are pruned")
    assert(TxStore.read(spark, t).count() === (expect.size - 1).toLong)
  }

  test("parquet vectors survive checkpoint+vacuum; restore re-scopes them per version") {
    val t = tmpDir()
    TxStore.append(rows(300).repartition(2), t) // v1
    TxStore.deleteVectoredBulk(spark, t, col("id") < 100L) // v2
    TxStore.checkpoint(spark, t) // v3 restates the (dir -> files) refs
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0)
    val logs = new java.io.File(s"$t/_txlog").list().filter(_.endsWith(".json"))
    assert(logs.sorted.head.contains("00000003"), "replay is physically checkpoint + tail")
    assert(TxStore.read(spark, t).count() === 200L, "marks survive through the checkpoint")
    assert(new java.io.File(s"$t/_txlog/_sidecar").list().count(_.endsWith(".dvpq")) === 1,
      "the referenced parquet dir survives vacuum")
    // restore semantics on an untruncated log (restore reach = the
    // retention window, so this scenario runs on its own table)
    val t2 = tmpDir()
    TxStore.append(rows(300).repartition(2), t2) // v1
    TxStore.deleteVectoredBulk(spark, t2, col("id") < 100L) // v2
    TxStore.overwrite(rows(5, from = 900), t2) // v3 — the accident
    TxStore.restore(spark, t2, 2L) // v4
    assert(TxStore.read(spark, t2).count() === 200L, "restore reattaches parquet-vector refs")
    // a restore to the PRE-delete state (possible while v1's files
    // live) must NOT re-apply the marks to the re-added files
    TxStore.restore(spark, t2, 1L) // v5
    assert(TxStore.read(spark, t2).count() === 300L,
      "restore to pre-delete drops the refs — retired marks never resurrect")
  }

  test("racing rewrite vs BULK parquet-vector delete never resurrects a committed delete") {
    (0 until 3).foreach { round =>
      val t = tmpDir()
      TxStore.append(rows(200).repartition(2), t)
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      val compactF = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = { start.await(); TxStore.compact(spark, t, target = 1) }
      })
      val dvF = pool.submit(new java.util.concurrent.Callable[Option[Long]] {
        def call(): Option[Long] = {
          start.await()
          try TxStore.deleteVectoredBulk(spark, t, col("id") === 13L)
          catch {
            case _: java.util.ConcurrentModificationException =>
              TxStore.deleteVectoredBulk(spark, t, col("id") === 13L)
          }
        }
      })
      start.countDown()
      val (c, dv) = (compactF.get(120, TimeUnit.SECONDS), dvF.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(dv.isDefined, s"round $round: the bulk vectored delete must eventually commit")
      val ids = TxStore.read(spark, t).select("id").as[Long].collect().toSet
      assert(!ids.contains(13L),
        s"round $round: committed delete resurrected (compact=$c, dv=$dv)")
      assert(ids.size === 199, s"round $round: no other row lost")
    }
  }

  test("restore restates a large snapshot through sidecars") {
    val t = tmpDir()
    (0 until 4).foreach(k => TxStore.append(rows(50, from = k * 50).coalesce(1), t)) // v1–v4
    TxStore.deleteVectored(spark, t, col("id") === 7L) // v5
    TxStore.overwrite(rows(3, from = 900), t) // v6 — the accident
    val v = TxStore.restore(spark, t, 5L, shardFiles = 1) // v7: 4 payload files → 4 sidecars
    assert(v === 7L)
    val c = TxStore.history(spark, t).last
    assert(c.op === "restore" && c.stats.isEmpty && c.dv.isEmpty && c.sidecars.size === 4)
    assert(TxStore.read(spark, t).count() === 199L, "files AND vectors restored via sidecars")
    val (_, kept, _) = TxStore.pruneFiles(spark, t, col("id") === 150L)
    assert(kept.size === 1, "sidecar-restated stats still prune")
  }

  /** Collect a change stream as (id, payload, type, version) tuples. */
  private def changes(t: String, since: Long): (Long, Seq[(Long, String, String, Long)]) = {
    val (v, df) = TxStore.readChangesSince(spark, t, since)
    (v, df.select(col("id"), col("payload"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, String, Long)].collect().toSeq)
  }

  test("row CDC: append/dv/cow-delete/merge/compact each derive exact row deltas") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // v1: +0..9
    TxStore.deleteVectored(spark, t, col("id") % 5 === 0) // v2: −{0,5}, merge-on-read
    TxStore.delete(spark, t, col("id") === 7L) // v3: −{7}, copy-on-write
    val updates = Seq((3L, "u3"), (11L, "v11")).toDF("id", "payload")
    TxStore.merge(spark, t, updates, Seq("id")) // v4: 3 updated, 11 inserted
    TxStore.compact(spark, t) // v5: pure physical — silent
    val (v, ch) = changes(t, 0L)
    assert(v === 5L)
    val byVersion = ch.groupBy(_._4).view.mapValues(_.map(c => (c._1, c._2, c._3)).toSet).toMap
    assert(byVersion(1L) === (0 until 10).map(i => (i.toLong, s"v$i", "insert")).toSet)
    assert(byVersion(2L) === Set((0L, "v0", "delete"), (5L, "v5", "delete")))
    assert(byVersion(3L) === Set((7L, "v7", "delete")))
    // the update surfaces as its delete + insert pair
    assert(byVersion(4L) ===
      Set((3L, "v3", "delete"), (3L, "u3", "insert"), (11L, "v11", "insert")))
    assert(!byVersion.contains(5L), "compact is data-preserving — no events")
    // THE CDC LAW: inserts minus deletes (as multisets) = the live table
    val ins = ch.filter(_._3 == "insert").map(c => (c._1, c._2))
    val del = ch.filter(_._3 == "delete").map(c => (c._1, c._2))
    val folded = ins.diff(del).sorted
    val live = TxStore.read(spark, t).as[(Long, String)].collect().toSeq.sorted
    assert(folded === live)
  }

  test("row CDC: overwrite is full-replace; restore emits only the accident's delta") {
    val t = tmpDir()
    TxStore.append(rows(4), t) // v1
    TxStore.overwrite(rows(2, from = 100), t) // v2: −all, +2
    TxStore.restore(spark, t, 1L) // v3: back — delta vs v2
    val (v, ch) = changes(t, 0L)
    assert(v === 3L)
    val byVersion = ch.groupBy(_._4).view.mapValues(_.map(c => (c._1, c._2, c._3)).toSet).toMap
    assert(byVersion(2L) ===
      ((0 until 4).map(i => (i.toLong, s"v$i", "delete")).toSet ++
        Seq(100, 101).map(i => (i.toLong, s"v$i", "insert"))))
    assert(byVersion(3L) ===
      ((0 until 4).map(i => (i.toLong, s"v$i", "insert")).toSet ++
        Seq(100, 101).map(i => (i.toLong, s"v$i", "delete"))))
    val ins = ch.filter(_._3 == "insert").map(c => (c._1, c._2))
    val del = ch.filter(_._3 == "delete").map(c => (c._1, c._2))
    assert(ins.diff(del).sorted === TxStore.read(spark, t).as[(Long, String)].collect().toSeq.sorted)
  }

  test("row CDC: successive vectored deletes emit only NEWLY marked rows; bulk path included") {
    val t = tmpDir()
    TxStore.append(rows(100).coalesce(1), t) // v1
    TxStore.deleteVectored(spark, t, col("id") % 10 === 0) // v2: 10 marks
    TxStore.deleteVectoredBulk(spark, t, col("id") % 5 === 0) // v3: parquet marks; %10 already dead
    TxStore.delete(spark, t, col("id") >= 90L) // v4: CoW through PARQUET marks
    val (_, ch) = changes(t, 1L) // consumer already saw the inserts
    val byVersion = ch.groupBy(_._4).view.mapValues(_.map(_._1).toSet).toMap
    assert(byVersion(2L) === (0 until 100 by 10).map(_.toLong).toSet)
    assert(byVersion(3L) === (5 until 100 by 10).map(_.toLong).toSet,
      "the bulk commit must emit only positions not already marked")
    assert(byVersion(4L) === Set(91L, 92L, 93L, 94L, 96L, 97L, 98L, 99L),
      "the rewrite diff must read its inputs THROUGH the parquet marks — " +
        "90 and 95 were already dead")
    assert(ch.forall(_._3 == "delete"))
  }

  test("row CDC: refuses a position ahead of the log and history truncated by checkpoint") {
    val t = tmpDir()
    TxStore.append(rows(5), t) // v1
    val ahead = intercept[IllegalArgumentException](TxStore.readChangesSince(spark, t, 9L))
    assert(ahead.getMessage.contains("ahead of the log"))
    TxStore.append(rows(5, from = 5), t) // v2
    TxStore.checkpoint(spark, t) // v3 truncates replay below it
    val gone = intercept[IllegalArgumentException](TxStore.readChangesSince(spark, t, 1L))
    assert(gone.getMessage.contains("checkpoint truncated history"))
    // caught up: empty delta at the current version, never an error
    val (v, df) = TxStore.readChangesSince(spark, t, 3L)
    assert(v === 3L && df.count() === 0L)
    assert(df.columns.toSeq === Seq("id", "payload", "_change_type", "_commit_version"))
  }

  test("row CDC rollup: deletes fold as negatives; zero rows linger filtered; replay no-ops") {
    import graft.ops.IncrementalReport
    val src = tmpDir(); val rep = tmpDir()
    val ev = Seq((1L, 10L, "click", "x"), (2L, 10L, "click", "y"), (3L, 20L, "view", "z"))
      .toDF("event_id", "user_id", "event_type", "payload")
    TxStore.append(ev, src) // v1
    assert(IncrementalReport.advanceCounts(spark, src, rep) === 1L)
    TxStore.delete(spark, src, col("user_id") === 20L) // v2: kills the only view row
    TxStore.deleteVectored(spark, src, col("event_id") === 1L) // v3
    assert(IncrementalReport.advanceCounts(spark, src, rep) === 3L)
    val state = TxStore.read(spark, rep)
      .select("user_id", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(state === Set((10L, "click", 1L), (20L, "view", 0L)),
      "zero-count keys stay as explicit zeros in the store")
    // crash-replay: a third advance with nothing new must not move the
    // position or the state
    assert(IncrementalReport.advanceCounts(spark, src, rep) === 3L)
    assert(TxStore.read(spark, rep).as[(Long, String, Long)].collect().toSet === state)
    // a re-insert resurrects the zero-count key additively
    TxStore.append(Seq((9L, 20L, "view", "w")).toDF("event_id", "user_id", "event_type", "payload"), src)
    IncrementalReport.advanceCounts(spark, src, rep)
    assert(TxStore.read(spark, rep).filter(col("n_events") =!= 0L)
      .as[(Long, String, Long)].collect().toSet ===
      Set((10L, "click", 1L), (20L, "view", 1L)))
  }

  test("row CDC: changes read in the CURRENT schema — old inserts carry NULL for new columns") {
    val t = tmpDir()
    TxStore.append(rows(3), t) // v1 — (id, payload)
    TxStore.append( // v2 evolves: + flag column
      Seq((100L, "x", true)).toDF("id", "payload", "flag"), t)
    val (_, df) = TxStore.readChangesSince(spark, t, 0L)
    val got = df.select("id", "flag", "_commit_version")
      .as[(Long, Option[Boolean], Long)].collect().toSet
    assert(got === Set((0L, None, 1L), (1L, None, 1L), (2L, None, 1L), (100L, Some(true), 2L)))
  }

  test("shallow clone diverges independently and refuses non-empty targets") {
    val src = tmpDir()
    val dst = s"${tmpDir()}/t"
    TxStore.append(rows(10), src)
    TxStore.deleteVectored(spark, src, $"id" === 9L) // inline DV must transfer
    assert(TxStore.cloneTable(spark, src, dst) === 1L)
    assert(TxStore.read(spark, dst).as[(Long, String)].collect().toSet ===
      (0 until 9).map(i => (i.toLong, s"v$i")).toSet)
    // diverge both ways: neither side's change leaks
    TxStore.delete(spark, dst, $"id" < 5L)
    TxStore.append(rows(1, from = 50), src)
    assert(TxStore.read(spark, dst).as[(Long, String)].collect().toSet ===
      (5 until 9).map(i => (i.toLong, s"v$i")).toSet)
    assert(TxStore.read(spark, src).count() === 10) // 9 live + 1 appended
    // a second clone onto the same target must refuse
    intercept[IllegalArgumentException](TxStore.cloneTable(spark, src, dst))
  }

  test("clone survives source checkpoint + vacuum dropping the shared files") {
    val src = tmpDir()
    val dst = s"${tmpDir()}/t"
    TxStore.append(rows(8), src) // v1: files F
    TxStore.cloneTable(spark, src, dst)
    TxStore.overwrite(rows(2, from = 100), src) // v2: F unreferenced in src
    TxStore.checkpoint(spark, src) // v3: replay no longer starts before v3
    val dropped = TxStore.vacuum(spark, src, retainVersions = 1, ageGraceMs = 0L)
    assert(dropped > 0, "vacuum should reclaim the pre-overwrite files")
    // the clone's hard links keep the shared inodes alive
    assert(TxStore.read(spark, dst).as[(Long, String)].collect().toSet ===
      (0 until 8).map(i => (i.toLong, s"v$i")).toSet)
  }

  test("clone carries parquet deletion-vector sidecars") {
    val src = tmpDir()
    val dst = s"${tmpDir()}/t"
    TxStore.append(rows(20), src)
    TxStore.deleteVectoredBulk(spark, src, $"id" % 4 === 0L) // executor-written marks
    TxStore.cloneTable(spark, src, dst)
    val want = (0 until 20).filter(_ % 4 != 0).map(i => (i.toLong, s"v$i")).toSet
    assert(TxStore.read(spark, dst).as[(Long, String)].collect().toSet === want)
    // the marks are the clone's own copy: restoring the SOURCE to v1
    // must not resurrect rows in the clone
    TxStore.restore(spark, src, 1L)
    assert(TxStore.read(spark, dst).as[(Long, String)].collect().toSet === want)
  }

  test("bloom index prunes point lookups where ranges cannot; never a false skip") {
    val t = tmpDir()
    // round-robin scatter: every file spans ~the full id domain, so
    // min/max ranges refute nothing for any point lookup
    TxStore.append(rows(2000).repartition(8), t)
    val probe = $"id" === 1234L
    val (_, _, skipRange) = TxStore.pruneFiles(spark, t, probe)
    assert(skipRange.isEmpty, "scattered layout must be range-unprunable")
    TxStore.buildBlooms(spark, t, Seq("id", "payload"))
    val (_, scan, skipBloom) = TxStore.pruneFiles(spark, t, probe)
    assert(skipBloom.size >= 5, s"bloom should skip most of 8 files, skipped ${skipBloom.size}")
    assert(TxStore.readWhere(spark, t, probe).count() === 1)
    // no false skips: every present id is found post-index (sampled)
    (0 until 2000 by 97).foreach { id =>
      assert(TxStore.readWhere(spark, t, $"id" === id.toLong).count() === 1, s"id $id")
    }
    // string bloom: present value found, absent value prunes everything
    assert(TxStore.readWhere(spark, t, $"payload" === "v7").count() === 1)
    val (_, _, skipAbsent) = TxStore.pruneFiles(spark, t, $"payload" === "no-such-value")
    assert(skipAbsent.size === 8, s"absent literal should prune all files: ${skipAbsent.size}")
    // IN-list keeps files holding ANY member
    assert(TxStore.readWhere(spark, t, $"id".isin(3L, 5000L)).count() === 1)
    assert(scan.nonEmpty)
  }

  test("blooms survive checkpoint restatement and die with rewritten files") {
    val t = tmpDir()
    TxStore.append(rows(500).repartition(4), t)
    TxStore.buildBlooms(spark, t, Seq("id"))
    TxStore.checkpoint(spark, t)
    val (_, _, afterCk) = TxStore.pruneFiles(spark, t, $"id" === 77L)
    assert(afterCk.nonEmpty, "checkpoint must restate the blooms")
    // a compaction rewrites the files: stale blooms must not carry over
    TxStore.compact(spark, t, target = 2)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.stats.values.flatMap(_.keys).forall(!_.endsWith("#b")),
      "rewritten files must not inherit blooms")
    assert(TxStore.readWhere(spark, t, $"id" === 77L).count() === 1)
    // rebuild over the compacted layout works
    TxStore.buildBlooms(spark, t, Seq("id"))
    assert(TxStore.readWhere(spark, t, $"id" === 77L).count() === 1)
  }

  test("bloom build refuses unsupported column types and racing rewrites") {
    val t = tmpDir()
    TxStore.append(Seq((1L, 1.5)).toDF("id", "score"), t)
    intercept[IllegalArgumentException](TxStore.buildBlooms(spark, t, Seq("score")))
    intercept[IllegalArgumentException](TxStore.buildBlooms(spark, t, Seq("missing")))
    intercept[IllegalArgumentException](TxStore.buildBlooms(spark, t, Seq("id#b")))
  }

  test("timestamp time travel resolves versions by commit publish time") {
    val t = tmpDir()
    TxStore.append(rows(3), t) // v1
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    TxStore.overwrite(rows(2, from = 10), t) // v2
    assert(TxStore.versionAtTimestamp(spark, t, between) === 1L)
    assert(TxStore.readAtTimestamp(spark, t, between).count() === 3)
    assert(TxStore.versionAtTimestamp(spark, t, System.currentTimeMillis()) === 2L)
    intercept[IllegalArgumentException](
      TxStore.versionAtTimestamp(spark, t, between - 3600 * 1000L))
  }

  test("CHECK constraints gate append/overwrite/merge/update; NULL passes (ANSI)") {
    val t = tmpDir()
    TxStore.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score"), t) // v1
    TxStore.addConstraint(spark, t, "score_pos", "score > 0.0") // v2
    assert(TxStore.tableConstraints(spark, t) === Seq("score_pos" -> "score > 0.0"))
    // violating append refuses, table byte-identical; staged files cleaned
    val ex = intercept[IllegalArgumentException](
      TxStore.append(Seq((3L, -1.0)).toDF("id", "score"), t))
    assert(ex.getMessage.contains("score_pos"))
    assert(TxStore.read(spark, t).count() === 2 && TxStore.snapshot(spark, t).version === 2L)
    // NULL result PASSES (ANSI CHECK: only FALSE violates)
    TxStore.append(Seq((4L, Option.empty[Double])).toDF("id", "score"), t) // v3
    assert(TxStore.read(spark, t).count() === 3)
    // overwrite and merge gate too
    intercept[IllegalArgumentException](
      TxStore.overwrite(Seq((9L, -5.0)).toDF("id", "score"), t))
    intercept[IllegalArgumentException](
      TxStore.merge(spark, t, Seq((1L, -10.0)).toDF("id", "score"), Seq("id")))
    // update SETting a violating value refuses; a valid one lands
    intercept[IllegalArgumentException](
      TxStore.update(spark, t, $"id" === 1L, Map("score" -> lit(-3.0))))
    TxStore.update(spark, t, $"id" === 1L, Map("score" -> lit(99.0)))
    assert(TxStore.read(spark, t).filter($"id" === 1L).select("score")
      .as[Double].head() === 99.0)
  }

  test("addConstraint validates existing data; drop reopens the gate; checkpoint restates") {
    val t = tmpDir()
    TxStore.append(Seq((1L, -1.0), (2L, 2.0)).toDF("id", "score"), t)
    // existing data violates → refused, nothing committed
    val ex = intercept[IllegalArgumentException](
      TxStore.addConstraint(spark, t, "score_pos", "score > 0.0"))
    assert(ex.getMessage.contains("existing data"))
    assert(TxStore.tableConstraints(spark, t).isEmpty)
    TxStore.delete(spark, t, $"score" < 0.0)
    TxStore.addConstraint(spark, t, "score_pos", "score > 0.0") // now clean
    intercept[IllegalArgumentException](
      TxStore.addConstraint(spark, t, "score_pos", "score > 1.0")) // dup name
    intercept[IllegalArgumentException](
      TxStore.addConstraint(spark, t, "bad name!", "score > 0.0")) // bad token
    // survives checkpoint truncation
    TxStore.checkpoint(spark, t)
    intercept[IllegalArgumentException](
      TxStore.append(Seq((5L, -9.0)).toDF("id", "score"), t))
    // drop reopens; unknown drop refuses
    intercept[IllegalArgumentException](TxStore.dropConstraint(spark, t, "nope"))
    TxStore.dropConstraint(spark, t, "score_pos")
    TxStore.append(Seq((5L, -9.0)).toDF("id", "score"), t)
    assert(TxStore.read(spark, t).filter($"score" < 0).count() === 1)
  }

  test("constraints: conditional merge gates only landing rows; clone and restore carry sets") {
    val t = tmpDir()
    TxStore.append(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "score"), t) // v1
    TxStore.addConstraint(spark, t, "score_pos", "score > 0.0") // v2
    // a delete-marker row with a violating payload that only DELETES
    // must not trip the gate (it never lands)
    TxStore.mergeConditional(spark, t,
      Seq((2L, -999.0)).toDF("id", "score"), Seq("id"),
      matchedUpdate = None, matchedDelete = Some(lit(true)),
      notMatchedInsert = None) // v3
    assert(TxStore.read(spark, t).as[(Long, Double)].collect().toSet === Set((1L, 1.0)))
    // the same payload as an UPDATE does trip it
    intercept[IllegalArgumentException](
      TxStore.mergeConditional(spark, t, Seq((1L, -999.0)).toDF("id", "score"), Seq("id")))
    // clone carries the constraint set
    val c = tmpDir() + "/clone"
    TxStore.cloneTable(spark, t, c)
    assert(TxStore.tableConstraints(spark, c) === Seq("score_pos" -> "score > 0.0"))
    intercept[IllegalArgumentException](
      TxStore.append(Seq((7L, -1.0)).toDF("id", "score"), c))
    // restore to v1 (pre-constraint) restores the empty set with the data
    TxStore.restore(spark, t, 1L)
    assert(TxStore.tableConstraints(spark, t).isEmpty)
    TxStore.append(Seq((8L, -4.0)).toDF("id", "score"), t) // gate is gone
    assert(TxStore.read(spark, t).count() === 3)
  }

  test("column mapping: rename rewrites no data; reads, appends, CDC and stats follow") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // v1
    val dataFilesBefore = TxStore.snapshot(spark, t).files.toSet
    TxStore.renameColumn(spark, t, "payload", "body") // v2 — metadata only
    assert(TxStore.snapshot(spark, t).files.toSet === dataFilesBefore, "no file rewritten")
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id", "body"))
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toSet ===
      (0 until 10).map(i => (i.toLong, s"v$i")).toSet)
    // time travel sees the OLD name
    assert(TxStore.readAt(spark, t, 1L).columns.toSeq === Seq("id", "payload"))
    // appends speak the NEW logical name; old+new files read together
    TxStore.append(Seq((100L, "x")).toDF("id", "body"), t) // v3
    assert(TxStore.read(spark, t).filter($"body" === "x").count() === 1)
    // CDC reads under the current name
    val (_, cdc) = TxStore.readAppendsSince(spark, t, 2L)
    assert(cdc.columns.toSeq === Seq("id", "body") && cdc.count() === 1)
    // an append under the OLD name is schema EVOLUTION — a brand-new
    // logical column whose physical name is FRESH (the old physical
    // 'payload' is taken), so historical payload values never leak in
    TxStore.append(Seq((101L, "y")).toDF("id", "payload"), t) // v4
    val evolved = TxStore.read(spark, t)
    assert(evolved.columns.toSeq === Seq("id", "body", "payload"))
    assert(evolved.filter($"payload".isNotNull).select("id").as[Long].collect().toSeq
      === Seq(101L), "old files' renamed-away values must not appear under the new column")
    // stats pruning translates the logical name (id stats are physical)
    val pruned = TxStore.readWhere(spark, t, $"id" === 0L)
    assert(pruned.count() === 1)
    // detail reports logical names; rename of a missing/colliding name refuses
    assert(TxStore.detail(spark, t).schemaFields === Seq("id", "body", "payload"))
    intercept[IllegalArgumentException](TxStore.renameColumn(spark, t, "nope", "z"))
    intercept[IllegalArgumentException](TxStore.renameColumn(spark, t, "id", "body"))
    intercept[IllegalArgumentException](TxStore.renameColumn(spark, t, "id", "__file"))
  }

  test("rename keeps stats AND bloom pruning file-identical under the new name") {
    // the logical→physical predicate translation must not lose a single
    // skip: the SAME probe prunes the SAME files before and after the
    // rename, for range stats (id) and for blooms (payload)
    val t = tmpDir()
    val df = (0 until 400).map(i => (i.toLong, f"k$i%04d")).toDF("id", "payload")
    TxStore.append(df.repartitionByRange(8, $"id"), t)
    TxStore.buildBlooms(spark, t, Seq("payload"))
    val (_, keptStatsB, skipStatsB) = TxStore.pruneFiles(spark, t, $"id" === 250L)
    val (_, keptBloomB, skipBloomB) = TxStore.pruneFiles(spark, t, $"payload" === "k0250")
    assert(skipStatsB.nonEmpty && skipBloomB.nonEmpty, "fixture must be prunable")
    TxStore.renameColumn(spark, t, "id", "row_id")
    TxStore.renameColumn(spark, t, "payload", "body")
    val (_, keptStatsA, skipStatsA) = TxStore.pruneFiles(spark, t, $"row_id" === 250L)
    assert(keptStatsA.toSet === keptStatsB.toSet && skipStatsA.toSet === skipStatsB.toSet,
      s"stats pruning drifted under rename: ${keptStatsB.size}/${skipStatsB.size} -> " +
        s"${keptStatsA.size}/${skipStatsA.size}")
    val (_, keptBloomA, skipBloomA) = TxStore.pruneFiles(spark, t, $"body" === "k0250")
    assert(keptBloomA.toSet === keptBloomB.toSet && skipBloomA.toSet === skipBloomB.toSet,
      s"bloom pruning drifted under rename: ${keptBloomB.size}/${skipBloomB.size} -> " +
        s"${keptBloomA.size}/${skipBloomA.size}")
    assert(TxStore.readWhere(spark, t, $"row_id" === 250L).count() === 1)
    assert(TxStore.readWhere(spark, t, $"body" === "k0250").count() === 1)
  }

  test("column mapping: drop retires the physical name; re-add never resurrects old data") {
    val t = tmpDir()
    TxStore.append(rows(5), t) // v1
    TxStore.dropColumn(spark, t, "payload") // v2
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id"))
    // re-adding a column NAMED payload via evolution: fresh physical
    // name, so old files' dropped values read as NULL, never "v0"
    TxStore.append(Seq((50L, "new")).toDF("id", "payload"), t) // v3
    val got = TxStore.read(spark, t).as[(Long, Option[String])].collect().toMap
    assert(got(50L) === Some("new"))
    assert((0 until 5).forall(i => got(i.toLong).isEmpty), "dropped data must not resurrect")
    // compact purges the dropped physical column and keeps the logical view
    TxStore.compact(spark, t, target = 1)
    val got2 = TxStore.read(spark, t).as[(Long, Option[String])].collect().toMap
    assert(got2 === got)
    intercept[IllegalArgumentException](TxStore.dropColumn(spark, t, "id2"))
  }

  test("file facts: #size and #rows ride the stats channel and match the filesystem") {
    val t = tmpDir()
    TxStore.append(rows(10).repartition(2), t)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.size === 2)
    val rowTotal = snap.files.map { f =>
      val st = snap.stats(f)
      val sz = st("#size").asInstanceOf[TxStore.NumRange].lo.toLong
      assert(sz === new java.io.File(s"$t/data/$f").length(),
        s"logged #size must equal the filesystem length for $f")
      st("#rows").asInstanceOf[TxStore.NumRange].lo.toLong
    }.sum
    assert(rowTotal === 10L, "logged #rows must sum to the table row count")
    // facts survive a checkpoint restatement like any other range
    TxStore.checkpoint(spark, t)
    val snap2 = TxStore.snapshot(spark, t)
    snap2.files.foreach(f => assert(snap2.stats(f).contains("#size") &&
      snap2.stats(f).contains("#rows"), s"facts lost through checkpoint for $f"))
  }

  test("oversized bloom payloads ride a sidecar; pruning and checkpoints unaffected") {
    val t = tmpDir()
    TxStore.append(rows(400).repartition(4), t)
    // inlineMaxBytes = 0 forces the sidecar route the sf100 probe
    // motivated (a rows-proportional payload must never become a
    // commit line re-read on every replay)
    TxStore.buildBlooms(spark, t, Seq("payload"), inlineMaxBytes = 0)
    val c = TxStore.history(spark, t).last
    assert(c.op === "bloom" && c.sidecars.nonEmpty && c.stats.isEmpty,
      s"bloom blocks must ride the sidecar, got $c")
    val (_, _, skipped) = TxStore.pruneFiles(spark, t, $"payload" === "v7")
    assert(skipped.size === 3, s"sidecar blooms must prune 3 of 4 files, skipped ${skipped.size}")
    // a checkpoint restates sidecar-carried blooms like inline ones
    TxStore.checkpoint(spark, t)
    assert(TxStore.pruneFiles(spark, t, $"payload" === "v7")._3.size === 3)
    assert(TxStore.readWhere(spark, t, $"payload" === "v7").count() === 1)
  }

  test("table properties: latest-wins merge, atomic unset, survive checkpoint/clone/restore") {
    val t = tmpDir()
    TxStore.append(rows(5), t) // v1
    TxStore.setTableProperties(spark, t, Seq("owner" -> "data-eng", "pii" -> "false")) // v2
    TxStore.setTableProperties(spark, t, Seq("pii" -> "true")) // v3 — merges, latest wins
    assert(TxStore.tableProperties(spark, t).toMap ===
      Map("owner" -> "data-eng", "pii" -> "true"))
    // refusal on unset of a missing key without IF EXISTS; atomic — the
    // present key survives the refused statement
    val ex = intercept[IllegalArgumentException](
      TxStore.unsetTableProperties(spark, t, Seq("owner", "ghost")))
    assert(ex.getMessage.contains("ghost"))
    assert(TxStore.tableProperties(spark, t).toMap.contains("owner"))
    TxStore.unsetTableProperties(spark, t, Seq("ghost"), ifExists = true) // no-op commit
    TxStore.unsetTableProperties(spark, t, Seq("pii")) // drops
    assert(TxStore.tableProperties(spark, t).toMap === Map("owner" -> "data-eng"))
    // checkpoint truncates replay — properties must restate through it
    TxStore.checkpoint(spark, t)
    assert(TxStore.tableProperties(spark, t).toMap === Map("owner" -> "data-eng"))
    // clone carries them to the destination's v1
    val dest = tmpDir()
    TxStore.cloneTable(spark, t, dest)
    assert(TxStore.tableProperties(spark, dest).toMap === Map("owner" -> "data-eng"))
    // restore rewinds DATA, not operational metadata — properties persist
    TxStore.append(rows(5, from = 10), t)
    TxStore.restore(spark, t, TxStore.snapshot(spark, t).version - 1)
    assert(TxStore.tableProperties(spark, t).toMap === Map("owner" -> "data-eng"))
    // validation: tab/newline and duplicate keys refuse
    intercept[IllegalArgumentException](
      TxStore.setTableProperties(spark, t, Seq("a" -> "x\ty")))
    intercept[IllegalArgumentException](
      TxStore.setTableProperties(spark, t, Seq("a" -> "1", "A" -> "2")))
  }

  test("time-based retention: RETAIN hours resolves to the version window the commit clock defines") {
    val t = tmpDir()
    TxStore.append(rows(4), t) // v1 — files A
    TxStore.overwrite(rows(4, 10), t) // v2 — files B, orphans A
    TxStore.overwrite(rows(4, 20), t) // v3 — files C, orphans B
    TxStore.checkpoint(spark, t) // v4 — truncates replay; restates C
    // construct the clock: v1 and v2 committed two hours ago, v3+v4 fresh
    for (v <- Seq(1L, 2L)) {
      val log = new java.io.File(f"$t/_txlog/$v%020d.json")
      assert(log.setLastModified(System.currentTimeMillis() - 2 * 3600 * 1000L))
    }
    // a 1-hour window: the version current AT the edge is v2 → retain 3
    // (v2, v3, v4 stay reachable — and TIMESTAMP AS OF now−1h keeps
    // resolving to v2 after the reap)
    val n = TxStore.retainVersionsForWindow(spark, t, 3600 * 1000L)
    assert(n === 3, s"1h window over (old v1, old v2, fresh v3, fresh v4) → 3, got $n")
    // version- and time-based retention agree on a NON-EMPTY victim set
    // that a DIFFERENT version count would not produce
    val byTime = TxStore.vacuumPreview(spark, t, n, 0L).sorted
    assert(byTime === TxStore.vacuumPreview(spark, t, 3, 0L).sorted)
    assert(byTime.nonEmpty, "the constructed log must actually have victims (files A)")
    assert(byTime !== TxStore.vacuumPreview(spark, t, 2, 0L).sorted,
      "a narrower window must reap MORE (files A and B) — resolution has teeth")
    // a window wider than the whole log keeps every version
    assert(TxStore.retainVersionsForWindow(spark, t, 365L * 24 * 3600 * 1000L) === 4)
    assert(TxStore.vacuumPreview(spark, t, 4, 0L).isEmpty,
      "full-log retention must reap nothing")
    // the reap deletes exactly the preview (files A); the live table —
    // and the checkpoint-retained reader reach — are untouched
    assert(TxStore.vacuum(spark, t, n, 0L) > 0)
    assert(TxStore.read(spark, t).count() === 4)
    assert(TxStore.readAt(spark, t, 4L).count() === 4)
  }

  test("null facts: IS NULL / IS NOT NULL prune files from log metadata") {
    val t = tmpDir()
    val allNull = (0 until 10).map(i => (i.toLong, None: Option[String]))
      .toDF("id", "payload").repartition(1)
    val noNull = (10 until 20).map(i => (i.toLong, Some(s"v$i"): Option[String]))
      .toDF("id", "payload").repartition(1)
    val mixed = (20 until 30).map(i =>
      (i.toLong, if (i % 2 == 0) Some(s"v$i") else None))
      .toDF("id", "payload").repartition(1)
    TxStore.append(allNull, t) // v1
    TxStore.append(noNull, t) // v2
    TxStore.append(mixed, t) // v3
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.size === 3)
    assert(snap.files.forall(f => snap.stats(f).contains("payload#n")),
      "every file must carry the payload null-count fact")
    // IS NULL refutes the zero-null file; IS NOT NULL the all-null one
    val (keptN, skippedN) = (TxStore.pruneFiles(spark, t, $"payload".isNull)._2,
      TxStore.pruneFiles(spark, t, $"payload".isNull)._3)
    assert(keptN.size === 2 && skippedN.size === 1)
    val (_, keptNN, skippedNN) = TxStore.pruneFiles(spark, t, $"payload".isNotNull)
    assert(keptNN.size === 2 && skippedNN.size === 1 && skippedNN != skippedN)
    assert(TxStore.readWhere(spark, t, $"payload".isNull).count() === 15)
    assert(TxStore.readWhere(spark, t, $"payload".isNotNull).count() === 15)
    // facts restate through a checkpoint; a compaction rewrite
    // re-harvests them for its fresh files
    TxStore.checkpoint(spark, t)
    assert(TxStore.pruneFiles(spark, t, $"payload".isNotNull)._3.size === 1)
    TxStore.compact(spark, t, target = 1)
    val snap2 = TxStore.snapshot(spark, t)
    assert(snap2.files.size === 1 &&
      snap2.stats(snap2.files.head).contains("payload#n"),
      "compact must re-harvest null facts for its rewritten files")
    assert(TxStore.readWhere(spark, t, $"payload".isNull).count() === 15)
  }

  test("dropColumns: multi-column drop is ONE atomic commit; a refused name commits nothing") {
    val t = tmpDir()
    TxStore.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "payload", "score"), t) // v1
    TxStore.addConstraint(spark, t, "has_payload", "payload IS NOT NULL") // v2
    val v = TxStore.snapshot(spark, t).version
    // the SECOND name is constraint-referenced — the whole statement
    // must refuse with NOTHING durable (ADVICE r14: sequential commits
    // left the first drop committed)
    val ex = intercept[IllegalArgumentException](
      TxStore.dropColumns(spark, t, Seq("score", "payload")))
    assert(ex.getMessage.contains("has_payload"))
    assert(TxStore.snapshot(spark, t).version === v, "refused multi-drop must commit nothing")
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id", "payload", "score"))
    // a valid multi-drop lands as exactly ONE commit
    TxStore.dropConstraint(spark, t, "has_payload")
    val v2 = TxStore.snapshot(spark, t).version
    assert(TxStore.dropColumns(spark, t, Seq("payload", "score")) === v2 + 1)
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id"))
    // the whole-table drop refuses
    intercept[IllegalArgumentException](TxStore.dropColumns(spark, t, Seq("id")))
  }

  test("column mapping: merge/update/delete/zorder/checkpoint/restore work logically") {
    val t = tmpDir()
    TxStore.append(rows(8), t) // v1
    TxStore.renameColumn(spark, t, "payload", "note") // v2
    // merge upserts under the logical name
    TxStore.merge(spark, t, Seq((1L, "merged"), (20L, "ins")).toDF("id", "note"), Seq("id")) // v3
    val m = TxStore.read(spark, t).as[(Long, String)].collect().toMap
    assert(m(1L) === "merged" && m(20L) === "ins" && m(0L) === "v0")
    // update + delete with logical predicates/assignments
    TxStore.update(spark, t, $"note" === "ins", Map("note" -> lit("upd"))) // v4
    TxStore.delete(spark, t, $"id" === 2L) // v5
    val m2 = TxStore.read(spark, t).as[(Long, String)].collect().toMap
    assert(m2(20L) === "upd" && !m2.contains(2L))
    // deletion vectors + a compaction rewrite keep the logical view
    TxStore.deleteVectored(spark, t, $"id" === 3L) // v6
    TxStore.compact(spark, t, target = 2) // v7 — rewrite reads logical, stages physical
    assert(!TxStore.read(spark, t).as[(Long, String)].collect().toMap.contains(3L))
    // restore rewinds the NAMES with the data (pre-rename version);
    // then a checkpoint restates whatever mapping is current
    TxStore.restore(spark, t, 1L)
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id", "payload"))
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toMap.apply(1L) === "v1")
    TxStore.renameColumn(spark, t, "payload", "note2")
    TxStore.checkpoint(spark, t)
    assert(TxStore.read(spark, t).columns.toSeq === Seq("id", "note2"))
  }

  test("column mapping: constraints block rename/drop of referenced columns; blooms translate") {
    val t = tmpDir()
    TxStore.append(rows(6), t)
    TxStore.addConstraint(spark, t, "has_payload", "payload IS NOT NULL")
    val ex = intercept[IllegalArgumentException](
      TxStore.renameColumn(spark, t, "payload", "body"))
    assert(ex.getMessage.contains("has_payload"))
    intercept[IllegalArgumentException](TxStore.dropColumn(spark, t, "payload"))
    TxStore.dropConstraint(spark, t, "has_payload")
    TxStore.renameColumn(spark, t, "payload", "body") // now fine
    // blooms built under the LOGICAL name prune point lookups
    TxStore.renameColumn(spark, t, "id", "key")
    TxStore.buildBlooms(spark, t, Seq("key"))
    assert(TxStore.readWhere(spark, t, $"key" === 3L).count() === 1)
    assert(TxStore.readWhere(spark, t, $"key" === 999L).count() === 0)
  }

  // ── hive-style partition columns ────────────────────────────────────

  private def prows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "payload", "bucket")

  test("partitioned append: hive paths, schema order, value round-trip, pruning before stats") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
    val snap = TxStore.snapshot(spark, t)
    assert(snap.partitioning === Seq("bucket"))
    assert(snap.files.nonEmpty && snap.files.forall(_.matches("bucket=p[0-2]/.*\\.parquet")))
    // read round-trips values AND the log's column order (partition
    // columns must not drift to the end)
    val got = TxStore.read(spark, t)
    assert(got.columns.toSeq === Seq("id", "payload", "bucket"))
    assert(got.as[(Long, String, String)].collect().toSet ===
      (0 until 30).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toSet)
    // partition-predicate pruning: only bucket=p1 files survive the walk
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, $"bucket" === "p1")
    assert(kept.nonEmpty && kept.forall(_.startsWith("bucket=p1/")), kept)
    assert(skipped.nonEmpty && skipped.forall(!_.startsWith("bucket=p1/")), skipped)
    assert(TxStore.readWhere(spark, t, $"bucket" === "p1").count() === 10)
    // a second append INHERITS the layout with no partitionBy restated
    TxStore.append(prows(30, from = 30), t)
    assert(TxStore.snapshot(spark, t).files.forall(_.contains("bucket=")))
    assert(TxStore.read(spark, t).count() === 60)
  }

  test("partitioned append: layout is a table property — mismatches and re-layout refuse") {
    val t = tmpDir()
    TxStore.append(prows(12), t, partitionBy = Seq("bucket"))
    // restating a DIFFERENT partitioning refuses
    intercept[IllegalArgumentException](
      TxStore.append(prows(3, from = 12), t, partitionBy = Seq("payload")))
    // a frame lacking the partition column refuses
    intercept[IllegalArgumentException](
      TxStore.append(rows(3), t))
    // partitioning an existing FLAT table refuses (mixed layouts break)
    val flat = tmpDir()
    TxStore.append(prows(6), flat)
    intercept[IllegalArgumentException](
      TxStore.append(prows(3, from = 6), flat, partitionBy = Seq("bucket")))
    // …but overwrite may re-layout either way
    TxStore.overwrite(prows(6), flat, partitionBy = Seq("bucket"))
    assert(TxStore.snapshot(spark, flat).partitioning === Seq("bucket"))
    TxStore.overwrite(prows(6), flat)
    assert(TxStore.snapshot(spark, flat).partitioning === Nil)
    assert(TxStore.snapshot(spark, flat).files.forall(!_.contains("/")))
  }

  test("partitioned tables: delete/update/merge/vectored delete keep the hive layout") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
    // copy-on-write delete rewrites ONLY files of the hit partition
    val before = TxStore.snapshot(spark, t).files.toSet
    TxStore.delete(spark, t, $"bucket" === "p0" && $"id" < 6L)
    val after = TxStore.snapshot(spark, t)
    assert(after.files.forall(_.contains("bucket=")))
    assert((before -- after.files.toSet).forall(_.startsWith("bucket=p0/")),
      "only p0 files may be rewritten")
    assert(TxStore.read(spark, t).count() === 28)
    // update keeps layout and rows land in their (possibly new) partition
    TxStore.update(spark, t, $"id" === 7L, Map("payload" -> lit("seven")))
    assert(TxStore.read(spark, t).filter($"payload" === "seven").count() === 1)
    // merge-on-read vectored delete (marks keyed by partitioned names)
    TxStore.deleteVectored(spark, t, $"id" === 8L)
    assert(TxStore.read(spark, t).count() === 27)
    assert(TxStore.read(spark, t).filter($"id" === 8L).count() === 0)
    // keyed merge preserves layout too
    TxStore.merge(spark, t,
      Seq((9L, "nine", "p0"), (1000L, "new", "p2")).toDF("id", "payload", "bucket"),
      keys = Seq("id"))
    assert(TxStore.snapshot(spark, t).files.forall(_.contains("bucket=")))
    assert(TxStore.read(spark, t).filter($"payload".isin("nine", "new")).count() === 2)
    // distributed bulk vectored delete on hive names
    TxStore.deleteVectoredBulk(spark, t, $"id" === 10L)
    assert(TxStore.read(spark, t).filter($"id" === 10L).count() === 0)
  }

  test("partitioning survives checkpoint, compact, clone, restore and vacuum") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
    TxStore.checkpoint(spark, t)
    assert(TxStore.snapshot(spark, t).partitioning === Seq("bucket"),
      "checkpoint must restate partitioning (it truncates replay)")
    TxStore.compact(spark, t, target = 1)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.forall(_.contains("bucket=")), "compact keeps the hive layout")
    assert(TxStore.read(spark, t).count() === 30)
    // pruning still works on the compacted files
    val (_, kept, _) = TxStore.pruneFiles(spark, t, $"bucket" === "p2")
    assert(kept.forall(_.startsWith("bucket=p2/")))
    // clone carries layout; the linked files keep their partition paths
    val c = tmpDir() + "/clone"
    TxStore.cloneTable(spark, t, c)
    assert(TxStore.snapshot(spark, c).partitioning === Seq("bucket"))
    assert(TxStore.read(spark, c).count() === 30)
    // an overwrite to flat, restored back to the partitioned version
    val vPart = TxStore.snapshot(spark, t).version
    TxStore.overwrite(rows(3), t)
    assert(TxStore.snapshot(spark, t).partitioning === Nil)
    TxStore.restore(spark, t, vPart)
    assert(TxStore.snapshot(spark, t).partitioning === Seq("bucket"))
    assert(TxStore.read(spark, t).count() === 30)
    // vacuum reclaims out-of-window partitioned debris recursively
    (1 to 3).foreach(_ => TxStore.checkpoint(spark, t))
    val reclaimed = TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0L)
    assert(reclaimed > 0, "flat overwrite files + pre-compact partition files reclaim")
    assert(TxStore.read(spark, t).count() === 30)
    // a partition delete + vacuum leaves no empty hive dirs behind
    TxStore.delete(spark, t, $"bucket" === "p0")
    (1 to 2).foreach(_ => TxStore.checkpoint(spark, t))
    TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0L)
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$t/data"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(!dataDirs.contains("bucket=p0"), s"emptied partition dir must be reaped: $dataDirs")
    assert(TxStore.read(spark, t).count() === 20)
  }

  test("partition pruning on DATE values: typed epoch-day ranges from the path") {
    val t = tmpDir()
    val df = (0 until 20).map(i =>
      (i.toLong, java.sql.Date.valueOf(s"2024-01-${10 + i % 4}"))).toDF("id", "day")
    TxStore.append(df, t, partitionBy = Seq("day"))
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.forall(_.startsWith("day=2024-01-1")), snap.files)
    // a typed DATE literal prunes on the synthesized epoch-day range
    val probe = $"day" === lit(java.sql.Date.valueOf("2024-01-12"))
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, probe)
    assert(kept.nonEmpty && kept.forall(_.startsWith("day=2024-01-12/")), kept)
    assert(skipped.nonEmpty, "other day partitions must be skipped")
    assert(TxStore.readWhere(spark, t, probe).count() === 5)
    // range predicates prune too (epoch-day NumRange is ordered)
    val (_, kept2, _) =
      TxStore.pruneFiles(spark, t, $"day" >= lit(java.sql.Date.valueOf("2024-01-13")))
    assert(kept2.forall(_.startsWith("day=2024-01-13/")), kept2)
    // a NULL partition value lands under the hive default marker and is
    // soundly kept (never pruned) yet reads back as NULL
    val t2 = tmpDir()
    val withNull = Seq((1L, Some(java.sql.Date.valueOf("2024-02-01"))), (2L, None))
      .toDF("id", "day")
    TxStore.append(withNull, t2, partitionBy = Seq("day"))
    assert(TxStore.snapshot(spark, t2).files.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    assert(TxStore.read(spark, t2).filter($"day".isNull).count() === 1)
    val (_, keptN, _) = TxStore.pruneFiles(spark, t2,
      $"day" === lit(java.sql.Date.valueOf("2024-02-01")))
    assert(keptN.exists(_.contains("__HIVE_DEFAULT_PARTITION__")),
      "null-partition files are kept (sound) — equality can't match NULL rows anyway")
  }

  test("partition pruning on numeric values; readWhere stays exact under it") {
    val t = tmpDir()
    val df = (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "m")
    TxStore.append(df, t, partitionBy = Seq("m"))
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, $"m" >= 2)
    assert(kept.forall(n => n.startsWith("m=2/") || n.startsWith("m=3/")), kept)
    assert(skipped.forall(n => n.startsWith("m=0/") || n.startsWith("m=1/")), skipped)
    assert(TxStore.readWhere(spark, t, $"m" >= 2).count() === 20)
    assert(TxStore.readWhere(spark, t, $"m" === 7).count() === 0)
  }

  test("row CDC on a partitioned table: appends, partition deletes and DVs derive exactly") {
    val t = tmpDir()
    TxStore.append(prows(9), t, partitionBy = Seq("bucket")) // v1
    TxStore.deleteVectored(spark, t, $"id" === 1L) // v2: marks on hive names
    TxStore.delete(spark, t, $"bucket" === "p0") // v3: remove-only partition delete
    val (v, df) = TxStore.readChangesSince(spark, t, 0L)
    assert(v === 3L)
    val byKind = df.groupBy("_change_type", "_commit_version").count()
      .as[(String, Long, Long)].collect().map { case (k, ver, n) => (k, ver) -> n }.toMap
    assert(byKind(("insert", 1L)) === 9L)
    assert(byKind(("delete", 2L)) === 1L, "the DV mark surfaces as one delete")
    // partition delete removed p0's files: ids 0,3,6 minus id 1? id 1 is p1.
    // p0 holds ids 0,3,6 — all still live at v3 (the DV hit id 1 in p1)
    assert(byKind(("delete", 3L)) === 3L, "remove-only commit derives its rows exactly")
    val gone = df.filter($"_commit_version" === 3L).select("id")
      .as[Long].collect().toSet
    assert(gone === Set(0L, 3L, 6L))
  }

  test("derived-column partitioning: source-column predicates prune via per-file stats") {
    // the generated-partition-column story WITHOUT a generation grammar:
    // partition on a derived day column, and predicates on the SOURCE
    // timestamp still prune — a day-partition's files carry ts min/max
    // stats spanning only that day, so the stats tier subsumes Delta's
    // generated-column partition-filter translation
    val t = tmpDir()
    val df = (0 until 40).map { i =>
      val ts = 86400L * (i % 4) + i // seconds: 4 distinct days
      (i.toLong, ts, java.time.LocalDate.ofEpochDay(ts / 86400).toString)
    }.toDF("id", "ts_sec", "day")
    TxStore.append(df, t, partitionBy = Seq("day"))
    // predicate on ts_sec (never mentioned in the layout) prunes to the
    // files whose stats ranges cover it — exactly the day-2 partition
    val probe = $"ts_sec" >= 2L * 86400L && $"ts_sec" < 3L * 86400L
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, probe)
    assert(kept.nonEmpty && kept.forall(_.startsWith("day=1970-01-03/")), kept)
    assert(skipped.nonEmpty)
    assert(TxStore.readWhere(spark, t, probe).count() === 10)
  }

  test("partition delete: partition-only predicates commit remove-only metadata") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
    val v = TxStore.delete(spark, t, $"bucket".isin("p0", "p2"))
    assert(v.isDefined)
    val c = TxStore.history(spark, t).last
    assert(c.op == "delete" && c.add.isEmpty && c.remove.nonEmpty,
      "partition-only delete is a remove-only commit — no rewrite files")
    assert(TxStore.read(spark, t).count() === 10)
    assert(TxStore.read(spark, t).filter($"bucket" =!= "p1").count() === 0)
    // time travel still sees the dropped partitions
    assert(TxStore.readAt(spark, t, 1L).count() === 30)
    // no matching partition → no commit at all
    assert(TxStore.delete(spark, t, $"bucket" === "zzz").isEmpty)
    // a MIXED predicate (partition + data column) takes the rewrite path
    val v2 = TxStore.delete(spark, t, $"bucket" === "p1" && $"id" < 4L)
    assert(v2.isDefined && TxStore.history(spark, t).last.add.nonEmpty,
      "mixed predicates rewrite (per-row decision needed)")
    assert(TxStore.read(spark, t).count() === 9)
    // works under a renamed partition column, and NULL partitions are
    // kept (predicate not TRUE for NULL — SQL DELETE semantics)
    val t2 = tmpDir()
    val withNull = Seq((1L, Some("a")), (2L, Some("b")), (3L, None))
      .toDF("id", "grp")
    TxStore.append(withNull, t2, partitionBy = Seq("grp"))
    TxStore.renameColumn(spark, t2, "grp", "bucket2")
    assert(TxStore.delete(spark, t2, $"bucket2" === "a").isDefined)
    assert(TxStore.history(spark, t2).last.add.isEmpty, "metadata-only under rename")
    assert(TxStore.read(spark, t2).as[(Long, Option[String])].collect().toSet ===
      Set((2L, Some("b")), (3L, None)))
  }

  test("renaming a partition column keeps pruning; dropping it refuses") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
    TxStore.renameColumn(spark, t, "bucket", "shard") // metadata-only; paths unmoved
    assert(TxStore.tablePartitioning(spark, t) === Seq("shard"))
    assert(TxStore.snapshot(spark, t).files.forall(_.startsWith("bucket=")),
      "physical paths never move on rename")
    // pruning translates the NEW logical name back to the path's physical
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, $"shard" === "p1")
    assert(kept.nonEmpty && kept.forall(_.startsWith("bucket=p1/")), kept)
    assert(skipped.nonEmpty)
    assert(TxStore.readWhere(spark, t, $"shard" === "p1").count() === 10)
    // appends under the new logical name keep landing in the layout
    TxStore.append(prows(3, from = 30).withColumnRenamed("bucket", "shard"), t)
    assert(TxStore.read(spark, t).count() === 33)
    // dropping the partition column refuses (values live in the paths)
    val ex = intercept[IllegalArgumentException](TxStore.dropColumn(spark, t, "shard"))
    assert(ex.getMessage.contains("partition column"))
  }

  test("appendOnce inherits the partition layout — the streaming sink path") {
    val t = tmpDir()
    TxStore.append(prows(9), t, partitionBy = Seq("bucket"))
    val v = TxStore.appendOnce(prows(6, from = 9), t, writerId = "w1", batchId = 0L)
    // a replay of the same batch is a no-op returning the original version
    assert(TxStore.appendOnce(prows(6, from = 9), t, writerId = "w1", batchId = 0L) === v)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.forall(_.contains("bucket=")), "stamped appends keep the hive layout")
    assert(TxStore.read(spark, t).count() === 15)
  }

  test("CDC spans metadata-only ALTER commits without a hiccup") {
    val t = tmpDir()
    TxStore.append(rows(4), t) // v1
    TxStore.addConstraint(spark, t, "id_ok", "id >= 0") // v2
    TxStore.renameColumn(spark, t, "payload", "body") // v3 (enters mapping mode)
    TxStore.append(Seq((100L, "x")).toDF("id", "body"), t) // v4
    TxStore.dropConstraint(spark, t, "id_ok") // v5
    val (v, df) = TxStore.readChangesSince(spark, t, 0L)
    assert(v === 5L)
    // only the two appends emit rows; ALTERs contribute nothing
    val changes = df.select("id", "body", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    assert(changes === ((0 until 4).map(i => (i.toLong, s"v$i", "insert", 1L)).toSet +
      ((100L, "x", "insert", 4L))))
  }

  test("addConstraint refuses an unresolvable expression at ALTER time, even on empty tables") {
    val t = tmpDir()
    TxStore.append(rows(3), t)
    TxStore.delete(spark, t, lit(true)) // schema'd table, zero live rows
    assert(TxStore.read(spark, t).count() === 0)
    val ex = intercept[IllegalArgumentException](
      TxStore.addConstraint(spark, t, "typo", "no_such_column > 0"))
    assert(ex.getMessage.contains("invalid constraint expression"))
    // unparseable SQL refuses on a table with NO schema at all
    val empty = tmpDir()
    intercept[IllegalArgumentException](
      TxStore.addConstraint(spark, empty, "bad", "SELECT FROM WHERE"))
    // valid constraints still work after the refusals
    TxStore.addConstraint(spark, t, "id_ok", "id >= 0")
    TxStore.append(rows(3), t)
    intercept[IllegalArgumentException](
      TxStore.append(Seq((-1L, "neg")).toDF("id", "payload"), t))
  }

  test("replaceWhere atomically swaps matching partitions; others stay byte-identical") {
    val t = tmpDir()
    TxStore.append(prows(30), t, partitionBy = Seq("bucket")) // p0/p1/p2, 10 each
    val before = TxStore.snapshot(spark, t)
    val untouched = before.files.filterNot(_.startsWith("bucket=p1/"))
    val sizesBefore = untouched.map(f =>
      f -> new java.io.File(s"$t/data/$f").length).toMap
    // restate p1 with 4 fresh rows in ONE commit
    val batch = (100 until 104).map(i => (i.toLong, s"new$i", "p1"))
      .toDF("id", "payload", "bucket")
    val v = TxStore.replaceWhere(batch, t, $"bucket" === "p1")
    val c = TxStore.history(spark, t).last
    assert(c.op == "replace-where" && c.add.nonEmpty && c.remove.nonEmpty)
    assert(c.remove.forall(_.startsWith("bucket=p1/")),
      "only the matching partition's files may be removed")
    val after = TxStore.snapshot(spark, t)
    assert(untouched.forall(after.files.contains), "unmatched partitions keep their files")
    assert(untouched.forall(f =>
      new java.io.File(s"$t/data/$f").length == sizesBefore(f)),
      "unmatched partition files are byte-identical")
    val got = TxStore.read(spark, t).as[(Long, String, String)].collect().toSet
    val kept = (0 until 30).filter(_ % 3 != 1)
      .map(i => (i.toLong, s"v$i", s"p${i % 3}")).toSet
    assert(got === kept ++ (100 until 104).map(i => (i.toLong, s"new$i", "p1")))
    // time travel still reads the pre-replacement partition
    assert(TxStore.readAt(spark, t, v - 1).filter($"bucket" === "p1").count() === 10)
    // a predicate matching NO live partition is a pure insert
    val v2 = TxStore.replaceWhere(
      Seq((200L, "x", "p9")).toDF("id", "payload", "bucket"), t, $"bucket" === "p9")
    assert(TxStore.history(spark, t).last.remove.isEmpty && v2 === v + 1)
    assert(TxStore.read(spark, t).count() === 25)
    // CDC derives the swap: p1's old rows delete, the batch inserts
    val (_, cdc) = TxStore.readChangesSince(spark, t, v - 1)
    val byType = cdc.filter($"_commit_version" === v)
      .groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(byType === Map("delete" -> 10L, "insert" -> 4L))
  }

  test("replaceWhere refuses non-partition predicates, escaping rows, flat tables") {
    val t = tmpDir()
    TxStore.append(prows(12), t, partitionBy = Seq("bucket"))
    // predicate touching a data column — per-row semantics impossible
    intercept[IllegalArgumentException](TxStore.replaceWhere(
      prows(3).filter($"bucket" === "p0"), t, $"bucket" === "p0" && $"id" < 2L))
    // nondeterministic term — same refusal class
    intercept[IllegalArgumentException](TxStore.replaceWhere(
      prows(3).filter($"bucket" === "p0"), t, $"bucket" === "p0" && rand() < 2.0))
    // batch rows OUTSIDE the replaced region (p2 rows under a p0 predicate)
    intercept[IllegalArgumentException](
      TxStore.replaceWhere(prows(12), t, $"bucket" === "p0"))
    // NULL partition values are outside every region
    intercept[IllegalArgumentException](TxStore.replaceWhere(
      Seq((1L, "x", null: String)).toDF("id", "payload", "bucket"), t,
      $"bucket" === "p0"))
    // flat table: replaceWhere has no partitions to speak to
    val flat = tmpDir()
    TxStore.append(rows(5), flat)
    intercept[IllegalArgumentException](
      TxStore.replaceWhere(rows(2), flat, lit(true)))
    // nothing above committed anything
    assert(TxStore.history(spark, t).size === 1)
    assert(TxStore.read(spark, t).count() === 12)
  }

  test("partition-scoped optimize: rewrites only matching partitions; refusals are loud") {
    val t = tmpDir()
    val zrows = (0 until 60).map(i => (i.toLong, (i * 37 % 60).toLong, s"p${i % 3}"))
      .toDF("id", "score", "bucket")
    TxStore.append(zrows.repartition(4), t, partitionBy = Seq("bucket"))
    val others = TxStore.snapshot(spark, t).files.filterNot(_.startsWith("bucket=p0/"))
    val zc = Seq("id", "score")
    val v = TxStore.compactZOrder(spark, t, zc, target = 2,
      where = Some($"bucket" === "p0"))
    assert(v.isDefined)
    val c = TxStore.history(spark, t).last
    assert(c.op == "optimize-zorder" && c.remove.forall(_.startsWith("bucket=p0/")))
    assert(others.forall(TxStore.snapshot(spark, t).files.contains))
    assert(TxStore.read(spark, t).count() === 60, "pure physical rewrite")
    // WHERE touching a data column, or on a flat table: no file scope
    intercept[IllegalArgumentException](TxStore.compactZOrder(spark, t, zc,
      where = Some($"bucket" === "p0" && $"id" < 5L)))
    val flat = tmpDir()
    TxStore.append(rows(10), flat)
    intercept[IllegalArgumentException](TxStore.compactZOrder(spark, flat, Seq("id", "id"),
      where = Some(lit(true))))
    // a predicate matching no live partition is a no-op, not a commit
    assert(TxStore.compactZOrder(spark, t, zc,
      where = Some($"bucket" === "zzz")).isEmpty)
  }

  test("compactSmallFiles bin-packs only sub-floor files, per partition, big files untouched") {
    val t = tmpDir()
    // p0/p1/p2, each landed as several small per-batch files
    for (w <- 0 until 4)
      TxStore.append(prows(30, from = w * 30), t, partitionBy = Seq("bucket"))
    val snap0 = TxStore.snapshot(spark, t)
    val sizes = snap0.files.map(f =>
      f -> new java.io.File(s"$t/data/$f").length).toMap
    val floor = sizes.values.max + 1 // everything is "small"
    val v = TxStore.compactSmallFiles(spark, t, targetBytes = floor * 16,
      minBytes = floor)
    assert(v.isDefined)
    val c = TxStore.history(spark, t).last
    assert(c.op == "compact" && c.remove.toSet === snap0.files.toSet)
    val after = TxStore.snapshot(spark, t)
    // everything fits one bin per partition directory → 3 files
    assert(after.files.size === 3, s"one packed file per partition: ${after.files}")
    assert(after.files.forall(_.matches("bucket=p[0-2]/.*\\.parquet")))
    assert(TxStore.read(spark, t).as[(Long, String, String)].collect().toSet ===
      (0 until 120).map(i => (i.toLong, s"v$i", s"p${i % 3}")).toSet,
      "pure physical rewrite")
    // …pure at the BYTE level too: the bin routing's _file probe column
    // must not leak into the staged parquet
    val rawCols = spark.read.parquet(s"$t/data/${after.files.head}").columns.toSet
    assert(rawCols === Set("id", "payload"),
      s"packed files must carry exactly the data columns, got $rawCols")
    // a second pass with a floor below the packed sizes touches nothing
    assert(TxStore.compactSmallFiles(spark, t, targetBytes = 1L << 20, minBytes = 1L)
      .isEmpty, "files at/above the floor are not candidates")

    // mixed sizes: only the small files rewrite; the big file survives
    val t2 = tmpDir()
    TxStore.append(rows(4000).repartition(1), t2) // one big file
    TxStore.append(rows(3, from = 9000).repartition(1), t2)
    TxStore.append(rows(3, from = 9100).repartition(1), t2)
    val files2 = TxStore.snapshot(spark, t2).files
    val big = files2.maxBy(f => new java.io.File(s"$t2/data/$f").length)
    val bigLen = new java.io.File(s"$t2/data/$big").length
    assert(TxStore.compactSmallFiles(spark, t2, targetBytes = bigLen,
      minBytes = bigLen / 2).isDefined)
    val after2 = TxStore.snapshot(spark, t2).files
    assert(after2.contains(big), "the big file must be untouched")
    assert(after2.size === 2, s"two small files pack into one: $after2")
    assert(TxStore.read(spark, t2).count() === 4006)
    // a deletion vector on a rewritten small file materializes
    val t3 = tmpDir()
    TxStore.append(rows(10).repartition(1), t3)
    TxStore.append(rows(10, from = 100).repartition(1), t3)
    TxStore.deleteVectored(spark, t3, $"id" === 105L)
    assert(TxStore.compactSmallFiles(spark, t3, targetBytes = 1L << 20,
      minBytes = 1L << 20).isDefined)
    assert(TxStore.snapshot(spark, t3).dv.isEmpty, "marks die with the removed files")
    assert(TxStore.read(spark, t3).count() === 19)
  }

  test("replaceWhere racing an append into the matching partition serializes") {
    // write-serializable either way: the appended rows are REPLACED if
    // the append serialized first (overwrite semantics — matching dirs
    // re-resolve against the commit snapshot) or SURVIVE if it
    // serialized after; never a torn half-batch, never a broken table
    for (_ <- 1 to 3) {
      val t = tmpDir()
      TxStore.append(prows(30), t, partitionBy = Seq("bucket"))
      val batch = (100 until 104).map(i => (i.toLong, s"new$i", "p1"))
        .toDF("id", "payload", "bucket")
      val extra = (200 until 206).map(i => (i.toLong, s"late$i", "p1"))
        .toDF("id", "payload", "bucket")
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      def submit(f: () => Long) =
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
          def call(): Either[Throwable, Long] =
            { start.await(); try Right(f()) catch { case e: Throwable => Left(e) } }
        })
      val rw = submit(() => TxStore.replaceWhere(batch, t, $"bucket" === "p1"))
      val ap = submit(() => TxStore.append(extra, t))
      start.countDown()
      val outs = Seq(rw.get(120, TimeUnit.SECONDS), ap.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      outs.collect { case Left(e) => e }.foreach(e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
      if (outs.forall(_.isRight)) {
        val p1 = TxStore.read(spark, t).filter($"bucket" === "p1")
          .select("id").as[Long].collect().toSet
        val replaced = (100L until 104L).toSet
        assert(p1 === replaced || p1 === replaced ++ (200L until 206L),
          s"p1 must be the batch alone (append first) or batch+late (append after): $p1")
      }
      assert(TxStore.read(spark, t).filter($"bucket" =!= "p1").count() === 20,
        "other partitions never involved")
    }
  }

  test("racing flat vs partitioned appends on an empty table never mix layouts") {
    // the establishment race: both writers snapshot an EMPTY table, so
    // both see partitioning Nil — if the flat append wins version 1
    // while the partitioned one is still staging, the partitioned
    // commit must CONFLICT (its closure re-checks snap.files.isEmpty),
    // never land a hive-pathed file set next to flat files (Spark
    // rejects such a basePath read as conflicting directory structures)
    for (_ <- 1 to 4) {
      val t = tmpDir()
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      def submit(partitioned: Boolean) =
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
          def call(): Either[Throwable, Long] = {
            start.await()
            try Right(TxStore.append(prows(12), t,
              partitionBy = if (partitioned) Seq("bucket") else Nil))
            catch { case e: Throwable => Left(e) }
          }
        })
      val (rf, rp) = (submit(false), submit(true))
      start.countDown()
      val outcomes = Seq(rf.get(120, TimeUnit.SECONDS), rp.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      outcomes.collect { case Left(e) => e }.foreach(e =>
        assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
      assert(outcomes.exists(_.isRight), "at least one append must commit")
      val files = TxStore.snapshot(spark, t).files
      assert(files.forall(_.contains("bucket=")) || files.forall(!_.contains("bucket=")),
        s"mixed flat + partitioned live files: $files")
      // the table stays readable whatever the interleaving
      assert(TxStore.read(spark, t).count() % 12 === 0)
    }
  }

  test("mixed nondeterministic delete predicates take the per-row rewrite path") {
    // bucket === p0 && rand() < 0.5 collects only the partition attr —
    // the fast path would evaluate the coin once per DIRECTORY and
    // delete or keep the whole partition; the rewrite path flips it per
    // row. 300 p0-rows deleted "about half" is per-row; 0 or 300 is
    // per-directory.
    val t = tmpDir()
    val df = (0 until 900).map(i => (i.toLong, s"v$i", s"p${i % 3}"))
      .toDF("id", "payload", "bucket")
    TxStore.append(df, t, partitionBy = Seq("bucket"))
    val v = TxStore.delete(spark, t, $"bucket" === "p0" && rand(123) < 0.5)
    assert(v.isDefined)
    val p0left = TxStore.read(spark, t).filter($"bucket" === "p0").count()
    assert(p0left > 0 && p0left < 300,
      s"whole-partition coin flip: $p0left of 300 p0 rows remain")
    assert(TxStore.read(spark, t).filter($"bucket" =!= "p0").count() === 600,
      "other partitions untouched")
    // SQL-text nondeterminism (UnresolvedFunction, default-deterministic)
    // must bail the same way
    val v2 = TxStore.delete(spark, t, expr("bucket = 'p1' AND rand(7) < 0.5"))
    assert(v2.isDefined)
    val p1left = TxStore.read(spark, t).filter($"bucket" === "p1").count()
    assert(p1left > 0 && p1left < 300, s"SQL-text coin: $p1left of 300 remain")
    // a UDF registered .asNondeterministic() has no name a blocklist
    // could know — the RESOLVED condition's deterministic flag is the
    // only sound detector (ADVICE r13). The coin is per-ROW here too.
    val coin = new java.util.Random(99)
    spark.udf.register("flip99",
      org.apache.spark.sql.functions.udf(() => coin.nextDouble()).asNondeterministic())
    val v3 = TxStore.delete(spark, t, expr("bucket = 'p2' AND flip99() < 0.5"))
    assert(v3.isDefined)
    val p2left = TxStore.read(spark, t).filter($"bucket" === "p2").count()
    assert(p2left > 0 && p2left < 300,
      s"nondeterministic UDF must take the per-row path: $p2left of 300 remain")
  }

  test("CDC derives update and clone commits — no op is a CDC dead end") {
    val t = tmpDir()
    TxStore.append(rows(10), t) // v1
    TxStore.update(spark, t, $"id" >= 8L,
      Map("payload" -> concat(lit("u"), $"id"))) // v2: rewrites one file
    val (v, df) = TxStore.readChangesSince(spark, t, 1L)
    assert(v === 2L)
    // only the two touched rows change — untouched rows in the
    // rewritten file cancel via exceptAll
    val ch = df.select("id", "payload", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set((8L, "v8", "delete"), (9L, "v9", "delete"),
      (8L, "u8", "insert"), (9L, "u9", "insert")), ch.toString)
    // a cloned table's creating commit derives as inserts, DV marks applied
    TxStore.deleteVectored(spark, t, $"id" === 3L) // v3
    val dest = tmpDir() + "/clone"
    TxStore.cloneTable(spark, t, dest)
    val (cv, cdf) = TxStore.readChangesSince(spark, dest, 0L)
    assert(cv === 1L)
    assert(cdf.filter($"_change_type" === "insert").count() === 9,
      "clone CDC reads through the restated deletion vectors")
  }

  test("CDC spans a bloom stats commit — annotation-only, no change rows") {
    val t = tmpDir()
    TxStore.append(rows(4), t) // v1
    TxStore.buildBlooms(spark, t, Seq("id")) // v2: adds/removes nothing
    TxStore.append(rows(2, from = 10), t) // v3
    val (v, df) = TxStore.readChangesSince(spark, t, 0L)
    assert(v === 3L)
    val changes = df.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(changes === ((0 until 4).map(i => (i.toLong, "insert", 1L)).toSet ++
      Set((10L, "insert", 3L), (11L, "insert", 3L))))
  }

  test("mapping mode refuses new column names the payload grammar cannot carry") {
    val t = tmpDir()
    TxStore.append(rows(3), t)
    TxStore.renameColumn(spark, t, "payload", "body") // enter mapping mode
    val bad = Seq((10L, "x", "y")).toDF("id", "body", "evil\tname")
    intercept[IllegalArgumentException](TxStore.append(bad, t))
    // the table is still perfectly readable — nothing corrupt committed
    assert(TxStore.read(spark, t).count() === 3)
    TxStore.append(Seq((10L, "x", "y")).toDF("id", "body", "fine_name"), t)
    assert(TxStore.read(spark, t).count() === 4)
  }

  test("addColumn: metadata-only evolution, no resurrection after drop, refusals") {
    import org.apache.spark.sql.types.{LongType, StringType}
    // identity mode: schema restates, old rows read NULL, appends fill
    val t = tmpDir()
    TxStore.append(rows(3), t) // v1
    val files1 = TxStore.snapshot(spark, t).files.toSet
    assert(TxStore.addColumn(spark, t, "extra", LongType) === 2L)
    assert(TxStore.snapshot(spark, t).files.toSet === files1) // no data IO
    val got = TxStore.read(spark, t)
    assert(got.columns.toSeq === Seq("id", "payload", "extra"))
    assert(got.filter(col("extra").isNotNull).count() === 0)
    TxStore.append(Seq((99L, "x", 7L)).toDF("id", "payload", "extra"), t)
    assert(TxStore.read(spark, t).filter(col("extra") === 7L).count() === 1)
    // time travel: v1 predates the column
    assert(!TxStore.readAt(spark, t, 1L).columns.contains("extra"))
    // mapping mode: re-adding a DROPPED column must never resurrect
    // the old files' values (fresh physical name via the retired list)
    TxStore.dropColumn(spark, t, "payload")
    TxStore.addColumn(spark, t, "payload", StringType)
    val back = TxStore.read(spark, t)
    assert(back.columns.contains("payload"))
    assert(back.filter(col("payload").isNotNull).count() === 0)
    // refusals: duplicate and reserved names
    intercept[IllegalArgumentException](TxStore.addColumn(spark, t, "extra", LongType))
    intercept[IllegalArgumentException](TxStore.addColumn(spark, t, "__z", LongType))
  }

  test("vacuumPreview names exactly the files vacuum then reaps") {
    val t = tmpDir()
    TxStore.append(rows(20), t) // v1
    TxStore.overwrite(rows(5, from = 100), t) // v2 — v1's files now dead
    TxStore.checkpoint(spark, t) // v3 — truncate so retained adds stop shielding them
    val preview = TxStore.vacuumPreview(spark, t, retainVersions = 1, ageGraceMs = 0L)
    assert(preview.nonEmpty)
    // the preview deleted nothing
    preview.foreach(fl => assert(new java.io.File(s"$t/data/$fl").exists()))
    // vacuum's count additionally includes log/sidecar debris (the
    // pre-checkpoint commit files here) — the preview is the DATA side
    val n = TxStore.vacuum(spark, t, retainVersions = 1, ageGraceMs = 0L)
    assert(n >= preview.size)
    preview.foreach(fl => assert(!new java.io.File(s"$t/data/$fl").exists()))
    assert(TxStore.read(spark, t).count() === 5)
  }

  test("convert adopts a plain parquet dir in place; restartable; loud refusals") {
    val t = tmpDir() + "/estate"
    rows(100).repartitionByRange(4, col("id")).write.parquet(t)
    // an interrupted previous convert already moved ONE file under
    // data/ — the re-run must pick it up by relative name, not lose it
    val est = new java.io.File(t)
    val one = est.listFiles().filter(_.getName.endsWith(".parquet")).head
    val dataDir = new java.io.File(est, "data")
    assert(dataDir.mkdirs())
    assert(one.renameTo(new java.io.File(dataDir, one.getName)))

    assert(TxStore.convert(spark, t) === 1L)
    assert(TxStore.history(spark, t).map(_.op) === Seq("convert"))
    assert(TxStore.read(spark, t).as[(Long, String)].collect().toSet ===
      (0 until 100).map(i => (i.toLong, s"v$i")).toSet)
    // no parquet left outside data/; nothing copied, everything moved
    assert(est.listFiles().forall(f => !f.getName.endsWith(".parquet")))
    // footer stats harvested: the range layout refutes a low-id read
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("id") <= 5L)
    assert(kept.nonEmpty && skipped.nonEmpty)
    // CDC derives the creating commit as inserts
    val (_, changes) = TxStore.readChangesSince(spark, t, 0L)
    assert(changes.filter(col("_change_type") === "insert").count() === 100)
    // full citizen: DML + time travel work on the adopted table
    TxStore.delete(spark, t, col("id") < 50L)
    assert(TxStore.read(spark, t).count() === 50)
    assert(TxStore.readAt(spark, t, 1L).count() === 100)
    // refusals: already a table; no parquet files; nonexistent path
    intercept[IllegalArgumentException](TxStore.convert(spark, t))
    val empty = tmpDir()
    intercept[IllegalArgumentException](TxStore.convert(spark, empty))
    intercept[IllegalArgumentException](TxStore.convert(spark, s"$empty/nope"))
  }

  test("convert handles a flat estate with no pre-existing data/ dir") {
    // the simplest estate shape: root-level part files only — the
    // first rename must create data/ itself (a crashed-convert test
    // above pre-creates it, which would mask a missing mkdirs)
    val t = tmpDir() + "/flat-estate"
    rows(30).coalesce(2).write.parquet(t)
    assert(!new java.io.File(t, "data").exists())
    assert(TxStore.convert(spark, t) === 1L)
    assert(TxStore.read(spark, t).count() === 30)
    // renamed, not copied: nothing parquet left at the root
    assert(new java.io.File(t).listFiles().forall(f => !f.getName.endsWith(".parquet")))
  }

  test("convert refuses a mixed partition layout and keeps hive dirs intact") {
    val t = tmpDir() + "/part-estate"
    rows(40).withColumn("bucket", col("id") % 2)
      .write.partitionBy("bucket").parquet(t)
    // a stray flat file beside the bucket=… dirs breaks the one-shape rule
    val stray = new java.io.File(tmpDir() + "/stray")
    rows(1, from = 999).coalesce(1).write.parquet(stray.getPath)
    val flat = stray.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(flat.renameTo(new java.io.File(t, flat.getName)))
    intercept[IllegalArgumentException](TxStore.convert(spark, t))
    // removing the stray lets the convert land with partitioning intact
    assert(new java.io.File(t, flat.getName).delete())
    assert(TxStore.convert(spark, t) === 1L)
    val snap = TxStore.snapshot(spark, t)
    assert(snap.files.forall(_.startsWith("bucket=")))
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("bucket") === 0L)
    assert(kept.forall(_.startsWith("bucket=0/")) &&
      skipped.forall(_.startsWith("bucket=1/")))
    assert(TxStore.read(spark, t).count() === 40)
  }

  test("graft.appendOnly refuses row mutations; appends, maintenance and insert-only pass") {
    val t = tmpDir()
    TxStore.append(rows(20), t)
    // value validation at SET time — a typo'd boolean must not silently
    // disable the gate
    intercept[IllegalArgumentException](
      TxStore.setTableProperties(spark, t, Seq("graft.appendOnly" -> "yes")))
    TxStore.setTableProperties(spark, t, Seq("graft.appendOnly" -> "true"))
    // row mutations refuse at commit staging
    intercept[UnsupportedOperationException](
      TxStore.delete(spark, t, col("id") < 5L))
    intercept[UnsupportedOperationException](
      TxStore.deleteVectored(spark, t, col("id") === 1L))
    intercept[UnsupportedOperationException](
      TxStore.update(spark, t, col("id") === 1L,
        Map("payload" -> org.apache.spark.sql.functions.lit("x"))))
    intercept[UnsupportedOperationException](
      TxStore.overwrite(rows(3), t))
    intercept[UnsupportedOperationException](
      TxStore.merge(spark, t, rows(5), Seq("id")))
    // sidecar-backed bulk deletes carry NO inline dv and remove NO files
    // — the gate must still fire (review finding: the content test alone
    // let them through)
    intercept[UnsupportedOperationException](
      TxStore.deleteVectoredBulk(spark, t, col("id") < 5L))
    // RESTORE rewinds = deletes everything after the target — gated too;
    // recovery on an append-only table is the explicit UNSET-then-restore
    intercept[UnsupportedOperationException](
      TxStore.restore(spark, t, 1L))
    assert(TxStore.read(spark, t).count() === 20, "nothing may have mutated")
    // appends (plain + exactly-once) still land
    TxStore.append(rows(5, from = 20), t)
    TxStore.appendOnce(rows(5, from = 25), t, "ao", 1L)
    assert(TxStore.read(spark, t).count() === 30)
    // an insert-only merge removes nothing - it passes (the Delta rule:
    // the gate fires on removed files / DV marks, not the op label)
    TxStore.merge(spark, t, rows(5, from = 100), Seq("id"))
    assert(TxStore.read(spark, t).count() === 35)
    // maintenance rewrites are row-preserving - compaction passes
    assert(TxStore.compact(spark, t).nonEmpty)
    assert(TxStore.read(spark, t).count() === 35)
    // UNSET lifts the gate
    TxStore.unsetTableProperties(spark, t, Seq("graft.appendOnly"))
    TxStore.delete(spark, t, col("id") >= 100L)
    assert(TxStore.read(spark, t).count() === 30)
  }

  test("convert-adopted stats are prune-only: no FP ranges, #x marks, MIN/MAX refuses") {
    val t = tmpDir() + "/foreign-estate"
    (0 until 100).map(i => (i.toLong, i * 1.5, f"v$i%03d"))
      .toDF("id", "score", "key")
      .repartitionByRange(4, col("id")).write.parquet(t)
    assert(TxStore.convert(spark, t) === 1L)
    val snap = TxStore.snapshot(spark, t)
    // every adopted file carries the prune-only marker and NO FP range
    assert(snap.files.forall(f => snap.stats.get(f).exists(_.contains("#x"))))
    assert(snap.files.forall(f => !snap.stats(f).contains("score")),
      "foreign double ranges must not harvest (NaN-ignoring writers)")
    // integer ranges still prune (cannot truncate, cannot hide NaN)
    val (_, kept, skipped) = TxStore.pruneFiles(spark, t, col("id") <= 5L)
    assert(kept.nonEmpty && skipped.nonEmpty)
    // metadata-only COUNT still answers from facts; MIN/MAX refuses to
    // the ordinary scan (and stays CORRECT either way)
    import graft.sources.GraftScan
    val counted = spark.read.format("graft").load(t)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
    assert(counted.collect().head.getLong(0) === 100L)
    assert(GraftScan.planned(counted).exists(_.aggregatePushed),
      "COUNT(*) rides #rows facts regardless of stats origin")
    val minMax = spark.read.format("graft").load(t)
      .agg(org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("key"))
    val mm = minMax.collect().head
    assert(mm.getLong(0) === 0L && mm.getString(1) === "v099")
    assert(!GraftScan.planned(minMax).exists(_.aggregatePushed),
      "MIN/MAX over foreign footers must refuse the metadata answer")
    // graft-written files NEXT TO adopted ones: a later append harvests
    // exact stats, but any #x file in the set still refuses MIN/MAX
    TxStore.append((100 until 120).map(i => (i.toLong, i * 1.5, f"v$i%03d"))
      .toDF("id", "score", "key"), t)
    val maxId = spark.read.format("graft").load(t).agg(org.apache.spark.sql.functions.max("id"))
    assert(maxId.collect().head.getLong(0) === 119L)
    assert(!GraftScan.planned(maxId).exists(_.aggregatePushed))
  }

  test("graft.stats.nullCounts=false bounds the EXT74 harvest; absent facts stay sound") {
    val t = tmpDir()
    TxStore.append(rows(1), t)
    TxStore.setTableProperties(spark, t, Seq("graft.stats.nullCounts" -> "false"))
    TxStore.append(rows(20, from = 100).repartition(1), t)
    val snap = TxStore.snapshot(spark, t)
    val newest = TxStore.history(spark, t).last.add
    // the opted-out append harvested ranges and file facts but NO null facts
    assert(newest.nonEmpty)
    assert(newest.forall(f => snap.stats.get(f).exists(_.contains("#rows"))))
    assert(newest.forall(f => !snap.stats(f).keys.exists(_.endsWith("#n"))),
      "null facts must not harvest under graft.stats.nullCounts=false")
    // soundness: IS NULL pruning keeps the fact-less files; reads stay exact
    assert(TxStore.readWhere(spark, t, col("payload").isNotNull).count() === 21)
    // metadata COUNT(col) refuses (a missing fact refuses, never miscounts)
    val counted = spark.read.format("graft").load(t)
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col("payload")))
    assert(counted.collect().head.getLong(0) === 21L)
    assert(!graft.sources.GraftScan.planned(counted).exists(_.aggregatePushed))
    // lifting the property resumes the harvest
    TxStore.unsetTableProperties(spark, t, Seq("graft.stats.nullCounts"))
    TxStore.append(rows(3, from = 200).repartition(1), t)
    val snap2 = TxStore.snapshot(spark, t)
    val resumed = TxStore.history(spark, t).last.add
    assert(resumed.forall(f => snap2.stats(f).keys.exists(_.endsWith("#n"))))
    // value validation at SET time
    intercept[IllegalArgumentException](
      TxStore.setTableProperties(spark, t, Seq("graft.stats.nullCounts" -> "off")))
  }

  test("read and readAt answer no rows on a table with no live files") {
    val schema = rows(1).schema
    def empty(t: String, v: Long): Unit = {
      for (df <- Seq(TxStore.read(spark, t), TxStore.readAt(spark, t, v))) {
        assert(df.count() === 0L, s"$t @v$v")
        assert(df.columns.toSeq === Seq("id", "payload"))
      }
    }
    val created = tmpDir()
    TxStore.create(spark, created, schema)
    empty(created, 1L)
    val truncated = tmpDir()
    TxStore.append(rows(5), truncated)
    assert(TxStore.truncate(spark, truncated) === Some(2L))
    empty(truncated, 2L)
    val dropped = tmpDir()
    TxStore.append(rows(6).withColumn("p", col("id") % 2), dropped, partitionBy = Seq("p"))
    assert(TxStore.deletePartitions(spark, dropped, col("p") >= 0L) === Some(2L))
    assert(TxStore.read(spark, dropped).columns.toSeq === Seq("id", "payload", "p"))
    assert(TxStore.read(spark, dropped).count() === 0L && TxStore.readAt(spark, dropped, 2L).count() === 0L)
    // the rows are still there one version back
    assert(TxStore.readAt(spark, dropped, 1L).count() === 6L)
  }

  test("every rewrite honours graft.stats.nullCounts=false") {
    def data(n: Int, from: Int) = rows(n, from).withColumn("id2", -col("id"))
    val rewrites: Seq[(String, String => Option[Long])] = Seq(
      "compact" -> (t => TxStore.compact(spark, t)),
      "compactSmallFiles" -> (t => TxStore.compactSmallFiles(spark, t)),
      "compactZOrder" -> (t => TxStore.compactZOrder(spark, t, Seq("id", "id2"), target = 2)),
      "delete" -> (t => TxStore.delete(spark, t, col("id") === 3L)),
      "update" -> (t => TxStore.update(spark, t, col("id") === 4L, Map("payload" -> lit("u")))),
      "merge" -> (t => Some(TxStore.merge(spark, t, data(3, from = 18), Seq("id")))))
    rewrites.foreach { case (name, rewrite) =>
      val t = tmpDir()
      TxStore.append(data(10, from = 0).repartition(2), t)
      TxStore.append(data(10, from = 10).repartition(2), t)
      TxStore.setTableProperties(spark, t, Seq("graft.stats.nullCounts" -> "false"))
      val v = rewrite(t)
      val c = TxStore.history(spark, t).last
      assert(v === Some(c.version) && c.add.nonEmpty, s"$name committed no rewrite")
      val stats = TxStore.snapshot(spark, t).stats
      assert(c.add.forall(f => stats.get(f).exists(_.contains("#rows"))), name)
      assert(c.add.forall(f => !stats(f).keys.exists(_.endsWith("#n"))),
        s"$name harvested null facts on an opted-out table")
    }
  }

  test("CDC ranges spanning property commits derive cleanly (metadata-only ops)") {
    val t = tmpDir()
    TxStore.append(rows(10).repartition(1), t) // v1
    TxStore.setTableProperties(spark, t, Seq("team" -> "graft")) // v2
    TxStore.unsetTableProperties(spark, t, Seq("team")) // v3
    TxStore.append(rows(5, from = 10).repartition(1), t) // v4
    val (until, changes) = TxStore.readChangesSince(spark, t, 0L)
    assert(until === 4L)
    assert(changes.filter(col("_change_type") === "insert").count() === 15)
    assert(changes.count() === 15, "property commits must emit no change rows")
    // a CREATE's empty commit is metadata-only too
    val c = tmpDir()
    TxStore.create(spark, c, rows(1).schema)
    TxStore.append(rows(3).repartition(1), c) // v2
    val (_, created) = TxStore.readChangesSince(spark, c, 0L)
    assert(created.count() === 3)
  }

  test("delete+recreate with colliding mtime and length serves the NEW table (memo hardening)") {
    // The commit-parse memo keys on (path, generation, mtime, length).
    // Local-FS mtime granularity is coarse (often 1 s) and commit
    // payloads are fixed-width enough that lengths repeat, so before the
    // r18 generation counter a table deleted and recreated within one
    // mtime tick could be served the PREVIOUS generation's parse —
    // pointing reads at deleted data files. Reproduce that collision
    // DETERMINISTICALLY: pin the new commit files to the old files'
    // exact mtimes with FileSystem.setTimes and make the payload widths
    // match by construction.
    val t = tmpDir()
    TxStore.append(rows(10, from = 10).repartition(1), t) // v1: ids 10..19, "v10".."v19"
    assert(TxStore.read(spark, t).count() === 10)
    val p = new org.apache.hadoop.fs.Path(t)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(s"$t/_txlog")
    val oldMeta = fs.listStatus(logDir).filter(_.getPath.getName.endsWith(".json"))
      .map(st => st.getPath.getName -> (st.getModificationTime, st.getLen)).toMap
    // whole-table delete + recreate (the bench's freshStore idiom)
    fs.delete(p, true)
    TxStore.append(rows(10, from = 20).repartition(1), t) // v1 again: ids 20..29
    val newMeta = fs.listStatus(logDir).filter(_.getPath.getName.endsWith(".json"))
      .map(st => st.getPath.getName -> st.getLen).toMap
    // the premise of the regression: same names, same byte lengths —
    // if a TxStore format change ever breaks this, rebuild the fixture
    // so the collision is still exercised
    assert(newMeta.keySet === oldMeta.keySet)
    newMeta.foreach { case (n, len) =>
      assert(len === oldMeta(n)._2, s"fixture must reproduce the same-length collision for $n")
      fs.setTimes(new org.apache.hadoop.fs.Path(logDir, n), oldMeta(n)._1, -1)
    }
    // with path+mtime+length all colliding, only the generation bump
    // separates the two tables
    val got = TxStore.read(spark, t).as[(Long, String)].collect().toSet
    assert(got === (20 until 30).map(i => (i.toLong, s"v$i")).toSet,
      "stale commit parse served after delete+recreate")
  }

  test("Spark jobs per TxStore op on a day-partitioned table stay pinned") {
    import org.apache.spark.graft.ListenerBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the table_upkeep shape: one string `day` partition per batch
    val t = tmpDir()
    def day(d: Int, n: Int = 20, from: Int = 0) =
      (from until from + n).map(i => (d * 1000L + i, f"2024-01-$d%02d", i.toLong, i * 0.5))
        .toDF("id", "day", "qty", "amount")
    TxStore.append(day(1), t, partitionBy = Seq("day"))
    TxStore.append(day(2), t)
    TxStore.append(day(3), t)
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit = started.incrementAndGet(): Unit
    }
    def jobs(body: => Any): Int = {
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      started.set(0)
      body
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      started.get
    }
    sc.addSparkListener(listener)
    val counts =
      try Seq(
        "append" -> jobs(TxStore.append(day(3, from = 20), t)),
        "mergeOnce" -> jobs(TxStore.mergeOnce(spark, t, day(3, 5), Seq("id"), "jobs", 0L)),
        "deletePartitions" -> jobs(TxStore.deletePartitions(spark, t, col("day") === "2024-01-01")),
        "replaceWhere" -> jobs(TxStore.replaceWhere(day(2, 10), t, col("day") === "2024-01-02")),
        "compactSmallFiles" -> jobs(TxStore.compactSmallFiles(spark, t,
          where = Some(col("day") === "2024-01-03"))),
        "readWhere" -> jobs(TxStore.readWhere(spark, t,
          col("day").between("2024-01-02", "2024-01-03")).collect()),
        "readAt" -> jobs(TxStore.readAt(spark, t, 3L).collect())).toMap
      finally sc.removeSparkListener(listener)
    assert(TxStore.read(spark, t).count() === 50L)
    // decided from log metadata by the partition evaluator: no job
    assert(counts("deletePartitions") === 0, counts)
    // 4 and 3 jobs before the evaluator ran in-process: replaceWhere
    // scopes its partitions twice, OPTIMIZE WHERE once
    assert(counts("replaceWhere") <= 2, counts)
    assert(counts("compactSmallFiles") <= 2, counts)
    // the rest pinned at their recorded counts, as upper bounds
    assert(counts("append") <= 1 && counts("mergeOnce") <= 11, counts)
    assert(counts("readWhere") <= 1 && counts("readAt") <= 1, counts)
  }

}
