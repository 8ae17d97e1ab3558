package graft

import graft.sources.TxStore
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.spark.sql.functions._

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** A local filesystem under the `faultfs` scheme that publishes commits
  * the way HDFS does — rename refuses an existing destination — and can
  * lose or fail the next commit publications (renames onto
  * `_txlog/<20 digits>.json`). A lost put first lands a rival writer's
  * empty commit at the contested version, so the rename loses exactly
  * as a real race does; a failed put throws an IOException; an applied
  * put renames and then throws, as an RPC that times out after the
  * NameNode applied it. A data fault fails a staged file's move into
  * `data/` (the rename answers false) after letting `dataPass` moves
  * through. */
class FaultFs extends FilterFileSystem(new FaultFs.Raw) {
  override def getScheme: String = "faultfs"

  override def rename(src: Path, dst: Path): Boolean = {
    if (FaultFs.isData(dst) && FaultFs.dataFail.get > 0 && !FaultFs.take(FaultFs.dataPass) &&
        FaultFs.take(FaultFs.dataFail))
      return false
    if (FaultFs.isCommit(dst)) {
      if (FaultFs.take(FaultFs.fail)) throw new IOException(s"injected put failure at $dst")
      if (FaultFs.take(FaultFs.applied)) {
        super.rename(src, dst)
        throw new IOException(s"injected failure after the put took effect at $dst")
      }
      if (FaultFs.take(FaultFs.lose)) {
        val version = dst.getName.stripSuffix(".json").toLong
        val out = create(dst, false)
        try out.write(s"""{"version":$version,"op":"append","add":[],"remove":[]}"""
          .getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }
    !exists(dst) && super.rename(src, dst)
  }
}

object FaultFs {
  /** The local filesystem under the `faultfs` name. Its statuses are
    * plain copies: the local ones load permissions through a
    * `file:`-only URI. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create("faultfs:///")
    override def getScheme: String = "faultfs"
    private def plain(s: FileStatus) = new FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
    override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
    override def getFileLinkStatus(p: Path): FileStatus = plain(super.getFileLinkStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
  }

  /** Commit publications left to lose, to fail, and to apply then fail;
    * staged data moves to let through, then to fail. */
  val lose = new AtomicInteger(0)
  val fail = new AtomicInteger(0)
  val applied = new AtomicInteger(0)
  val dataPass = new AtomicInteger(0)
  val dataFail = new AtomicInteger(0)

  private def take(n: AtomicInteger): Boolean = n.getAndUpdate(k => math.max(0, k - 1)) > 0

  private def isData(p: Path): Boolean =
    p.getName.endsWith(".parquet") && p.toString.contains("/data/") && !p.toString.contains("_stage-")

  private def isCommit(p: Path): Boolean =
    p.getParent != null && p.getParent.getName == "_txlog" && p.getName.matches("\\d{20}\\.json")
}

/** A local filesystem under the `countfs` scheme that records every
  * directory it lists. Rename refuses an existing destination, as
  * HDFS's does. */
class CountFs extends FilterFileSystem(new CountFs.Raw) {
  override def getScheme: String = "countfs"

  private def seen(p: Path): Unit = CountFs.listed.add(p.toUri.getPath.stripSuffix("/")): Unit

  override def listStatus(p: Path): Array[FileStatus] = { seen(p); super.listStatus(p) }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    seen(p); super.listStatusIterator(p)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    seen(p); super.listLocatedStatus(p)
  }
  override def listFiles(p: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    seen(p); super.listFiles(p, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = !exists(dst) && super.rename(src, dst)
}

object CountFs {
  /** The local filesystem under the `countfs` name, with plain statuses
    * (see [[FaultFs.Raw]]). */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create("countfs:///")
    override def getScheme: String = "countfs"
    private def plain(s: FileStatus) = new FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
    override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
    override def getFileLinkStatus(p: Path): FileStatus = plain(super.getFileLinkStatus(p))
    override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
  }

  /** The paths listed so far. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** TxStore's commit path under publication faults, through the renaming
  * log store a non-local filesystem gets: lost races retry at the next
  * version, a livelock names its op and table, and a put that fails
  * leaves no staged file behind for any staged write. */
class LogStoreFaultSpec extends SparkSpec {

  import spark.implicits._

  spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl", classOf[FaultFs].getName)
  spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountFs].getName)

  private def table(): String =
    s"faultfs://${Files.createTempDirectory("graft-logstore")}/t"

  private def rows(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  private def contents(t: String): Set[(Long, String)] =
    TxStore.read(spark, t).as[(Long, String)].collect().toSet

  private def armed[T](counter: AtomicInteger, n: Int)(body: => T): T = {
    counter.set(n)
    try body
    finally counter.set(0)
  }

  test("lost puts retry until the op owns the next free version") {
    val t = table()
    assert(TxStore.append(rows(10), t) === 1L)
    assert(armed(FaultFs.lose, 3)(TxStore.append(rows(5, from = 10), t)) === 5L)
    val log = TxStore.history(spark, t)
    assert(log.map(_.version) === (1L to 5L))
    assert(log.slice(1, 4).forall(c => c.add.isEmpty && c.remove.isEmpty),
      "the three lost versions hold the rivals' empty commits")
    assert(contents(t) === (0 until 15).map(i => (i.toLong, s"v$i")).toSet)
    // a rewrite retries the same way: the rivals removed none of its inputs
    assert(armed(FaultFs.lose, 2)(TxStore.delete(spark, t, col("id") < 3L)) === Some(8L))
    assert(contents(t) === (3 until 15).map(i => (i.toLong, s"v$i")).toSet)
    assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 0)
  }

  test("MaxRetries lost puts throw IllegalStateException naming the op and the table") {
    val t = table()
    TxStore.append(rows(4), t)
    val e = intercept[IllegalStateException](
      armed(FaultFs.lose, 1000)(TxStore.append(rows(2, from = 4), t)))
    assert(e.getMessage.contains("append") && e.getMessage.contains(t), e.getMessage)
    assert(TxStore.latestVersion(spark, t) === 21L, "twenty rivals won versions 2..21")
    assert(contents(t) === (0 until 4).map(i => (i.toLong, s"v$i")).toSet)
    assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 0, "the livelocked append's files are gone")
  }

  test("a put that throws leaves no staged file and the rows unchanged") {
    val writes: Seq[(String, String => Any)] = Seq(
      "append" -> (t => TxStore.append(rows(3, from = 100), t)),
      "delete" -> (t => TxStore.delete(spark, t, col("id") === 1L)),
      "update" -> (t => TxStore.update(spark, t, col("id") === 2L, Map("payload" -> lit("x")))),
      "merge" -> (t => TxStore.merge(spark, t, rows(2, from = 5), Seq("id"))),
      "compactSmallFiles" -> (t => TxStore.compactSmallFiles(spark, t)))
    writes.foreach { case (name, write) =>
      val t = table()
      TxStore.append(rows(6), t)
      TxStore.append(rows(6, from = 6), t)
      val before = contents(t)
      val e = intercept[IOException](armed(FaultFs.fail, 1)(write(t)))
      assert(e.getMessage.contains("injected"), s"$name: ${e.getMessage}")
      assert(TxStore.latestVersion(spark, t) === 2L, name)
      assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 0, s"$name left files behind")
      assert(contents(t) === before, name)
    }
  }

  test("a failed staged file move deletes the moved files and the stage dir") {
    val t = table()
    TxStore.append(rows(6), t)
    val before = contents(t)
    FaultFs.dataPass.set(1)
    val e = intercept[IllegalArgumentException](
      armed(FaultFs.dataFail, 1)(TxStore.append(rows(30, from = 10).repartition(3), t)))
    FaultFs.dataPass.set(0)
    assert(e.getMessage.contains("rename failed"), e.getMessage)
    assert(TxStore.latestVersion(spark, t) === 1L)
    assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 0, "the failed stage left files behind")
    assert(contents(t) === before)
  }

  test("a commit rename that throws after it took effect is the op's commit") {
    val t = table()
    TxStore.append(rows(6), t)
    assert(armed(FaultFs.applied, 1)(TxStore.append(rows(3, from = 6), t)) === 2L)
    assert(contents(t) === (0 until 9).map(i => (i.toLong, s"v$i")).toSet)
    assert(TxStore.vacuum(spark, t, ageGraceMs = 0) === 0)
  }

  test("compactSmallFiles sizes its bins from the log and never lists data/") {
    val dir = Files.createTempDirectory("graft-countfs").toString
    val t = s"countfs://$dir/t"
    // six small files of distinct sizes; one written without stats, so
    // its size comes from the file's own status
    val batches = Seq(3, 9, 14, 20, 27, 35)
    batches.zipWithIndex.foreach { case (n, i) =>
      TxStore.append(rows(n, from = i * 100).repartition(1), t, collectStats = i != 2)
    }
    val snap = TxStore.snapshot(spark, t)
    val size = snap.files.map(f => f -> new java.io.File(s"$dir/t/data/$f").length).toMap
    val floor = size.values.max + 1
    val target = floor * 2
    // first-fit-decreasing over the on-disk sizes, in log order
    val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    snap.files.sortBy(f => -size(f)).foreach { f =>
      bins.indexWhere(_._1 + size(f) <= target) match {
        case -1 => bins += ((size(f), Seq(f)))
        case i => bins(i) = (bins(i)._1 + size(f), bins(i)._2 :+ f)
      }
    }
    assert(bins.size > 1, "the fixture must pack more than one bin")
    def idsByFile(): Map[String, Set[Long]] =
      spark.read.format("graft").load(t).select("_file", "id").as[(String, Long)].collect()
        .groupBy(_._1).map { case (f, rs) => f -> rs.map(_._2).toSet }
    val before = idsByFile()

    CountFs.listed.clear()
    assert(TxStore.compactSmallFiles(spark, t, targetBytes = target, minBytes = floor).isDefined)
    val data = s"$dir/t/data"
    assert(!CountFs.listed.contains(data), s"data/ was listed: ${CountFs.listed}")
    // each packed file holds exactly one bin's rows
    val packed = idsByFile()
    assert(TxStore.history(spark, t).last.remove.toSet === snap.files.toSet)
    assert(packed.values.toSet === bins.map(_._2.flatMap(before).toSet).toSet)
  }
}
