package graft

import graft.sources.TxStore
import graft.streaming.StreamingCdf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** A TxStore table's change feed followed into a sink table through
  * graft's streaming source and sink. Pins stream-equals-batch (the
  * follower's history table is EXACTLY the batch CDC read), incremental
  * resume (a second drain moves only the new versions), replay
  * idempotence (same checkpoint, nothing new → no sink commit),
  * sinceVersion skipping, and the refusal of a checkpoint another
  * source wrote. */
class StreamingCdfSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-cdf-$name").toString + "/t"

  private def ev = Tables.events(spark, sf("sf0.001"))

  /** Order-free frame equality (CDC rows have no inherent order). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("follow lands each commit's changes once; resume moves only the new versions") {
    val (src, sink, ckpt) = (tmp("src"), tmp("sink"), tmp("ckpt"))
    TxStore.append(ev.filter(col("event_id") % 2 === 0), src) // v1
    TxStore.delete(spark, src, col("event_id") % 4 === 0) // v2 (copy-on-write)

    assert(StreamingCdf.follow(spark, src, sink, ckpt).awaitTermination(180000))
    val afterFirst = TxStore.read(spark, sink)
    assert(sameRows(afterFirst, TxStore.readChangesSince(spark, src, 0L)._2))
    assert(afterFirst.select("_commit_version").distinct()
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    val sinkV = TxStore.snapshot(spark, sink).version

    // replay with nothing new: no sink commit at all
    assert(StreamingCdf.follow(spark, src, sink, ckpt).awaitTermination(180000))
    assert(TxStore.snapshot(spark, sink).version === sinkV)

    // two more source commits; the next drain moves ONLY v3+v4 rows
    TxStore.update(spark, src, col("event_type") === "click",
      Map("value" -> (col("value") + 1))) // v3
    TxStore.append(ev.filter(col("event_id") % 2 =!= 0).limit(10), src) // v4
    assert(StreamingCdf.follow(spark, src, sink, ckpt).awaitTermination(180000))
    val afterSecond = TxStore.read(spark, sink)
    assert(sameRows(afterSecond, TxStore.readChangesSince(spark, src, 0L)._2))
    // the resumed drain's sink commits carry only the new versions
    val newRows = afterSecond.exceptAll(afterFirst)
    assert(newRows.select("_commit_version").distinct()
      .as[Long].collect().sorted.toSeq === Seq(3L, 4L))
  }

  test("sinceVersion skips history; bounded batch read matches the follower's slice") {
    val (src, sink, ckpt) = (tmp("src2"), tmp("sink2"), tmp("ckpt2"))
    TxStore.append(ev.filter(col("event_id") <= 100), src) // v1
    TxStore.append(ev.filter(col("event_id") > 100 && col("event_id") <= 200), src) // v2
    TxStore.append(ev.filter(col("event_id") > 200 && col("event_id") <= 300), src) // v3

    assert(StreamingCdf.follow(spark, src, sink, ckpt, sinceVersion = 2L)
      .awaitTermination(180000))
    val got = TxStore.read(spark, sink)
    assert(got.select("_commit_version").distinct().as[Long].collect().toSeq === Seq(3L))
    assert(sameRows(got, TxStore.readChangesBetween(spark, src, 2L, 3L)))
    // and the bounded batch read itself: (0, 2] is exactly v1+v2
    val bounded = TxStore.readChangesBetween(spark, src, 0L, 2L)
    assert(bounded.select("_commit_version").distinct()
      .as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(bounded.count() === ev.filter(col("event_id") <= 200).count())
  }

  test("a checkpoint of the old `_txlog` file-stream follower refuses loudly, naming the fix") {
    val (src, sink, ckpt) = (tmp("src4"), tmp("sink4"), tmp("ckpt4"))
    TxStore.append(ev.limit(20), src) // v1
    // what follow() checkpointed when it streamed the commit files
    val old = spark.readStream.schema("version LONG, op STRING").json(s"$src/_txlog")
      .writeStream
      .foreachBatch((_: DataFrame, _: Long) => ())
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(old.awaitTermination(180000))
    TxStore.append(ev.limit(10), src) // v2
    val ex = intercept[Exception] {
      val q = StreamingCdf.follow(spark, src, sink, ckpt)
      q.awaitTermination(180000)
      q.exception.foreach(throw _)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val msg = messages(ex).find(_.contains("not a commit version"))
      .getOrElse(fail(s"must refuse the foreign offset, got: ${messages(ex).mkString(" | ")}"))
    assert(msg.contains(ckpt) && msg.contains("sinceVersion"), msg)
    assert(!new java.io.File(sink).exists(), "nothing may land in the sink")
  }

  test("a follow range whose commits change no rows lands no sink commit") {
    val (src, sink, ckpt) = (tmp("src5"), tmp("sink5"), tmp("ckpt5"))
    TxStore.append(ev.limit(20).repartition(2), src) // v1
    assert(StreamingCdf.follow(spark, src, sink, ckpt, writerId = Some("cdf5"))
      .awaitTermination(180000))
    val sinkV = TxStore.snapshot(spark, sink).version
    // v2 only rewrites files: its change feed is empty
    assert(TxStore.compact(spark, src).isDefined)
    assert(StreamingCdf.follow(spark, src, sink, ckpt, writerId = Some("cdf5"))
      .awaitTermination(180000))
    assert(TxStore.snapshot(spark, sink).version === sinkV)
    // replaying that empty batch (batch 1 of writer cdf5) still lands none
    val empty = TxStore.read(spark, sink).limit(0)
    assert(TxStore.appendOnce(empty, sink, "cdf5", 1L) === sinkV)
    assert(TxStore.snapshot(spark, sink).version === sinkV)
    assert(TxStore.read(spark, sink).count() === 20L)
  }

  test("readChangesBetween refuses inverted and ahead-of-log ranges") {
    val src = tmp("src3")
    TxStore.append(ev.limit(5), src) // v1
    intercept[IllegalArgumentException] {
      TxStore.readChangesBetween(spark, src, 3L, 1L)
    }
    intercept[IllegalArgumentException] {
      TxStore.readChangesBetween(spark, src, 0L, 99L)
    }
  }
}
