package graft

import graft.ops.Multimodal
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** S7 streaming (AvailableNow == the reference's FileSensor-then-batch
  * contract) and the multimodal plumbing. */
class StreamingMultimodalSpec extends SparkSpec {

  import spark.implicits._

  test("streaming absorbs ENGINE-WRITTEN long-ts files (canonical-schema landing)") {
    // The other streaming tests land driver fixture files (native
    // timestamp ts). This lands files the ENGINE wrote — ts already
    // normalized to epoch-nanos LongType — covering landedSchema's
    // second physical encoding: the stream must infer the long schema
    // from the landed files and skip the no-op normalization.
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-long").toString
    val landing = Files.createTempDirectory("graft-landing-long")
    Tables.events(spark, dir).coalesce(1).write.mode("overwrite")
      .parquet(landing.toString + "/batch0")
    val q = StreamingIngest.runAvailableNow(
      spark, landing.toString + "/batch0", ckpt, "stream_rollup_long")
    q.awaitTermination(120000)
    val streamed = spark.table("stream_rollup_long")
      .select("date", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet
    val batch = Tables.events(spark, dir)
      .groupBy(
        date_format(Tables.tsMicros("ts"), "yyyy-MM-dd").as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("AvailableNow streaming rollup equals the batch rollup") {
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val landing = Files.createTempDirectory("graft-landing")
    Files.copy(Paths.get(s"$dir/events.parquet"), landing.resolve("events.parquet"))
    val q = StreamingIngest.runAvailableNow(spark, landing.toString, ckpt, "stream_rollup")
    q.awaitTermination(120000)
    val streamed = spark.table("stream_rollup")
      .select("date", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet

    val batch = Tables.events(spark, dir)
      .groupBy(
        date_format(Tables.tsMicros("ts"), "yyyy-MM-dd").as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .as[(String, String, Long)].collect().toSet

    assert(streamed == batch)
  }

  test("txstore bronze ingest: two waves, restart from checkpoint, redelivery no-ops") {
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-tx").toString
    val landing = Files.createTempDirectory("graft-landing-tx")
    val table = Files.createTempDirectory("graft-txtable").toString
    val ev = Tables.events(spark, dir)
    val total = ev.count()

    // wave 1 lands, first AvailableNow run ingests it
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/w1")
    StreamingIngest.runAppendToTxStore(spark, s"$landing/*/", ckpt, table, writerId = "bronze")
      .awaitTermination(120000)
    val afterW1 = graft.sources.TxStore.read(spark, table).count()
    assert(afterW1 === ev.filter(col("event_id") % 2 === 0).count())
    val v1 = graft.sources.TxStore.snapshot(spark, table).version

    // wave 2 lands; a RESTARTED query (same checkpoint) ingests only it
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/w2")
    StreamingIngest.runAppendToTxStore(spark, s"$landing/*/", ckpt, table, writerId = "bronze")
      .awaitTermination(120000)
    assert(graft.sources.TxStore.read(spark, table).count() === total)

    // crash-redelivery of an ALREADY-COMMITTED batch: replaying batch 0
    // under the query's writer id finds its stamp and no-ops — the
    // table is unchanged even though the caller handed it rows again
    val redelivered = graft.sources.TxStore.appendOnce(
      ev.limit(500), table, writerId = "bronze", batchId = 0L)
    assert(redelivered === v1, "replay must return the original batch-0 version")
    assert(graft.sources.TxStore.read(spark, table).count() === total)

    // downstream incremental consumer: the wave-2 delta alone
    val (_, delta) = graft.sources.TxStore.readAppendsSince(spark, table, v1)
    assert(delta.count() === ev.filter(col("event_id") % 2 =!= 0).count())
  }

  test("bronze ingest without a writerId stamps the checkpoint-hash writer; a replay no-ops") {
    val ckpt = Files.createTempDirectory("graft-ckpt-txdef").toString
    val landing = Files.createTempDirectory("graft-landing-txdef")
    val table = Files.createTempDirectory("graft-txtable-def").toString
    val ev = Tables.events(spark, sf("sf0.001"))
    ev.coalesce(1).write.parquet(s"$landing/w1")
    assert(StreamingIngest.runAppendToTxStore(spark, s"$landing/*/", ckpt, table)
      .awaitTermination(120000))
    // the writer is "graft-ingest-" + the first 16 bytes of SHA-256 over
    // the qualified checkpoint path, in hex
    val p = new org.apache.hadoop.fs.Path(ckpt)
    val qualified = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toUri.toString
    val writer = "graft-ingest-" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(qualified.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString
    assert(graft.sources.TxStore.history(spark, table).flatMap(_.txn) === Seq(s"$writer:0"))
    val v = graft.sources.TxStore.snapshot(spark, table).version
    assert(graft.sources.TxStore.appendOnce(ev.limit(5), table, writer, 0L) === v,
      "a replayed batch 0 must no-op with its original version")
    assert(graft.sources.TxStore.read(spark, table).count() === ev.count())
  }

  test("multi-micro-batch rollup upserts per key instead of appending stale rows") {
    // Split the same events across two landing files and force one file
    // per trigger: every (date, event_type) key is updated in BOTH
    // micro-batches, so the old memory sink kept each batch's row and
    // spark.table double-counted. The foreachBatch upsert must converge
    // to exactly the batch rollup, one row per key.
    // NB the hash split violates channelDaily's arrival-order contract,
    // which is safe HERE only because eviction first bites at the third
    // micro-batch of a run — keep this at exactly two files (the
    // chronological kill/resume spec below covers ≥3 batches).
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-mb").toString
    val landing = Files.createTempDirectory("graft-landing-mb")
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(landing.resolve("even").toString)
    ev.filter(col("event_id") % 2 === 1).coalesce(1)
      .write.parquet(landing.resolve("odd").toString)
    val q = StreamingIngest.runAvailableNow(
      spark, s"$landing/*/", ckpt, "stream_rollup_mb", maxFilesPerTrigger = 1)
    q.awaitTermination(120000)
    val streamed = spark.table("stream_rollup_mb")
      .select("date", "event_type", "n_events")
      .as[(String, String, Long)].collect()
    assert(streamed.length == streamed.map(r => (r._1, r._2)).distinct.length,
      "duplicate (date, event_type) rows — sink appended instead of upserting")
    val batch = Tables.events(spark, dir)
      .groupBy(
        date_format(Tables.tsMicros("ts"), "yyyy-MM-dd").as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed.toSet == batch)
  }

  test("re-invocation against the same checkpoint merges, not replaces, the rollup") {
    // Invocation 1 sees only click events; invocation 2 (same checkpoint,
    // same table name) sees newly-landed view events. Update mode only
    // emits groups the new files touched, so the second run must MERGE
    // into the accumulated rollup — a replace would drop every click row.
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-reinv").toString
    val landing = Files.createTempDirectory("graft-landing-reinv")
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").coalesce(1)
      .write.parquet(landing.resolve("first").toString)
    StreamingIngest.runAvailableNow(spark, s"$landing/*/", ckpt, "stream_rollup_reinv")
      .awaitTermination(120000)
    assert(spark.table("stream_rollup_reinv")
      .select("event_type").distinct().as[String].collect().toSeq == Seq("click"))
    ev.filter(col("event_type") === "view").coalesce(1)
      .write.parquet(landing.resolve("second").toString)
    StreamingIngest.runAvailableNow(spark, s"$landing/*/", ckpt, "stream_rollup_reinv")
      .awaitTermination(120000)
    val merged = spark.table("stream_rollup_reinv")
      .select("event_type").distinct().as[String].collect().toSet
    assert(merged == Set("click", "view"), s"got $merged")
  }

  test("durable rollup survives a mid-run kill and resumes with no double-count") {
    // Three landing files, one per trigger, split CHRONOLOGICALLY (days
    // 1–10 / 11–20 / 21–30) — the daily-load arrival order channelDaily's
    // watermark contract requires (a hash split here would trip state
    // eviction: update mode re-aggregates late keys from zero, and the
    // upsert would overwrite good totals with reset counts). Run 1 uses
    // the SAME plan and batch body as runAvailableNow but throws right
    // AFTER the batch-0 merge — the sink ran, the checkpoint commit did
    // not: the exact at-least-once replay window. The resumed query must
    // replay batch 0 into the TxStore rollup as a no-op (its stamp is in
    // the log), then finish batches 1–2, landing on exactly the batch
    // rollup.
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-kill").toString
    val landing = Files.createTempDirectory("graft-landing-kill")
    val store = ckpt + "_rollup"
    val name = "stream_rollup_kill"
    val ev = Tables.events(spark, dir)
    val day = date_format(Tables.tsMicros("ts"), "yyyy-MM-dd")
    Seq(("f0", day < "2024-01-11"),
        ("f1", day >= "2024-01-11" && day < "2024-01-21"),
        ("f2", day >= "2024-01-21")).zipWithIndex.foreach { case ((name, pred), i) =>
      val out = landing.resolve(name)
      ev.filter(pred).coalesce(1).write.parquet(out.toString)
      // the file source triggers oldest-mtime-first: pin distinct mtimes
      // so batch order == chronological order deterministically
      java.nio.file.Files.list(out).forEach { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
    }
    val body = StreamingIngest.rollupBatch(spark, ckpt, name)
    val q1 = StreamingIngest
      .channelDaily(StreamingIngest.readEvents(spark, s"$landing/*/", maxFilesPerTrigger = 1))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        body(batch, id)
        if (id == 0) throw new RuntimeException("injected kill after batch-0 sink")
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(120000)
    }
    assert(graft.sources.TxStore.read(spark, store).count() > 0, "batch-0 merge must have landed")
    def batch0Commits = graft.sources.TxStore.history(spark, store)
      .count(_.txn.exists(_.endsWith(":0")))
    assert(batch0Commits === 1)

    // resume: the production runner, same checkpoint, same store
    val q2 = StreamingIngest.runAvailableNow(
      spark, s"$landing/*/", ckpt, name, maxFilesPerTrigger = 1)
    assert(q2.awaitTermination(120000), "resumed stream timed out")
    assert(batch0Commits === 1, "the replayed batch 0 must land no second commit")

    val stored = graft.sources.TxStore.read(spark, store)
    val got = stored.select("date", "event_type", "n_events")
      .as[(String, String, Long)].collect()
    assert(got.length == got.map(r => (r._1, r._2)).distinct.length,
      "duplicate (date, event_type) rows — replay double-appended")
    val batch = Tables.events(spark, dir)
      .groupBy(
        date_format(Tables.tsMicros("ts"), "yyyy-MM-dd").as("date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .as[(String, String, Long)].collect().toSet
    assert(got.toSet == batch,
      "resumed durable rollup must equal the batch rollup over all events")
    // total_value: incremental state sums in a different order than the
    // batch plan — equal to float tolerance, not bit-equal
    val gotVal = stored.select(sum("total_value")).as[Double].head()
    val batchVal = Tables.events(spark, dir).select(sum("value")).as[Double].head()
    assert(math.abs(gotVal - batchVal) <= 1e-6 * math.abs(batchVal))

    // a third invocation with nothing new landed: zero micro-batches,
    // no new commit, and the rollup readable and unchanged in content
    val settled = graft.sources.TxStore.snapshot(spark, store).version
    val q3 = StreamingIngest.runAvailableNow(
      spark, s"$landing/*/", ckpt, name, maxFilesPerTrigger = 1)
    assert(q3.awaitTermination(120000))
    assert(graft.sources.TxStore.snapshot(spark, store).version === settled)
    assert(spark.table(name)
      .select("date", "event_type", "n_events")
      .as[(String, String, Long)].collect().toSet == batch)
  }

  test("zero-micro-batch run still registers an empty readable table") {
    val ckpt = Files.createTempDirectory("graft-ckpt-empty").toString
    val landing = Files.createTempDirectory("graft-landing-empty") // no files
    val q = StreamingIngest.runAvailableNow(
      spark, landing.toString, ckpt, "stream_rollup_empty")
    q.awaitTermination(120000)
    assert(spark.table("stream_rollup_empty").isEmpty)
  }

  test("stateful streaming sessionization equals the batch window operator") {
    val dir = sf("sf0.001")
    val ckpt = Files.createTempDirectory("graft-ckpt-sess").toString
    val landing = Files.createTempDirectory("graft-landing-sess")
    Files.copy(Paths.get(s"$dir/events.parquet"), landing.resolve("events.parquet"))
    val q = graft.streaming.StreamingSessionize.runAvailableNow(
      spark, landing.toString, ckpt, "stream_sessions")
    q.awaitTermination(120000)
    val streamed = spark.table("stream_sessions")
      .select("event_id", "user_id", "session_num")
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.ops.Sessionize.sessions(Tables.events(spark, dir))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("f9 JSON roundtrip: from_json(to_json(x)) == x") {
    val j = SparkEntry.queries("f9_row_json")(spark, sf("sf0.001"))
    val schema = "timestamp STRING, channel_label STRING, holder_engagement LONG, " +
      "closer_engagement LONG, conversion LONG, impression_interaction LONG"
    val back = j.select(
      col("conversion_id"), col("session_id"),
      from_json(col("payload"), org.apache.spark.sql.types.StructType.fromDDL(schema)).as("r"))
    assert(back.filter(col("r.timestamp").isNull || col("r.channel_label").isNull).isEmpty)
    assert(back.select("r.conversion").distinct().as[Long].collect().sameElements(Array(0L)))
    assert(j.count() == back.count())
  }

  test("fake decoder features are deterministic and length-derived") {
    val media = Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sf("sf0.001")))
    val feats = Multimodal.decodeFeatures(media)
    val byId = feats.collect().map(f => f.media_id -> f).toMap
    val lens = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), length(col("text")).cast("long")).as[(Long, Long)].collect().toMap
    assert(byId.size == lens.size)
    lens.foreach { case (id, n) =>
      val f = byId(id)
      assert(f.n_bytes == n && f.width == n % 640 + 1 && f.height == n % 480 + 1)
      assert(f.checksum >= 0 && f.checksum < 1000000007L)
    }
    // decoding twice gives identical checksums (stub is deterministic)
    val again = Multimodal.decodeFeatures(media).collect().map(f => f.media_id -> f.checksum).toMap
    assert(byId.forall { case (id, f) => again(id) == f.checksum })
  }

  test("resize emits a fixed-size payload per row with nearest-neighbor bytes") {
    val media = Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sf("sf0.001")))
    val resized = Multimodal.resize(media, targetW = 32, targetH = 32).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(r => r.payload.length == 1024 && r.width == 32 && r.height == 32))
    // nearest-neighbor contract: output byte i = input byte ⌊i·n/1024⌋
    val original = media.collect().map(m => m.media_id -> m.payload).toMap
    resized.take(10).foreach { r =>
      val in = original(r.media_id)
      (0 until 1024 by 97).foreach { i =>
        assert(r.payload(i) == in((i.toLong * in.length / 1024).toInt))
      }
    }
  }

  test("perceptual dHash: exact copies collide, banded pairs equal brute force") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val sig = Multimodal.perceptualHash(docs).as[(Long, Long)].collect().toMap
    assert(sig.size == docs.count())
    // a planted exact copy hashes identically (hamming 0)
    val copies = docs.limit(3).select(col("doc_id") + 100000L, col("text"))
      .toDF("doc_id", "text")
    val planted = docs.select("doc_id", "text").union(copies.select("doc_id", "text"))
    val sigP = Multimodal.perceptualHash(planted).as[(Long, Long)].collect().toMap
    (0 until 3).foreach(i => assert(sigP(i + 100000L) == sigP(i.toLong)))
    // banded pairs == brute-force hamming pairs (pigeonhole recall at
    // maxHamming < bands), so the bucket join loses nothing here
    val banded = Multimodal.mediaNearDup(planted.withColumn("text", col("text")))
      .select("media_a", "media_b").as[(Long, Long)].collect().toSet
    val brute = sigP.toSeq.flatMap { case (a, sa) =>
      sigP.toSeq.collect {
        case (b, sb) if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3 => (a, b)
      }
    }.toSet
    assert(banded == brute)
    assert(banded.exists { case (a, b) => b == a + 100000L }, "planted copies must pair")
  }

  test("frame sampling slices the payload on stride boundaries") {
    val frames = Multimodal.sampleFrames(spark, Tables.documents(spark, sf("sf0.001")),
      frameBytes = 64, stride = 4)
    val one = frames.filter(col("media_id") === 0L).collect()
    assert(one.nonEmpty)
    assert(one.forall(r => r.getLong(1) % 4 == 0))
    val text0 = Tables.documents(spark, sf("sf0.001"))
      .filter(col("doc_id") === 0L).select("text").head().getString(0)
    val frame0 = new String(one.find(_.getLong(1) == 0L).get.getAs[Array[Byte]]("frame"), "UTF-8")
    assert(text0.startsWith(frame0.take(8)))
  }
}
