package graft.sources

import java.io.IOException
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.util.UUID

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}

/** One published commit file as a listing reports it. */
private[graft] final case class LogFile(version: Long, mtime: Long, length: Long)

/** The commit log's storage seam: the one place that knows where a
  * table's commit files live (`<table>/_txlog/%020d.json`, sidecars
  * under `_txlog/_sidecar/`) and how a version is published. Everything
  * above it speaks versions. This is the LogStore of Armbrust et al.,
  * "Delta Lake: High-Performance ACID Table Storage over Cloud Object
  * Stores" (VLDB 2020): a sorted listing, reads, and an atomic
  * put-if-absent of one version's commit.
  *
  * A put must settle two things at once. EXISTENCE: exactly one of N
  * racing writers may own the version. CONTENT: a concurrent reader must
  * never see a partly written commit, or replay would die on truncated
  * JSON. An exclusive create-then-write gives only the first, so both
  * implementations write the full content to a writer-private temp name
  * (`.<v>.json.<uuid>.tmp`) and then make it appear under the final name
  * in one metadata operation; they differ only in that operation (see
  * [[LogStore.apply]]). */
private[graft] sealed abstract class LogStore(val fs: FileSystem, val table: String) {

  val dir: Path = new Path(LogStore.dirOf(table))

  protected def file(version: Long): Path = new Path(dir, s"${"%020d".format(version)}.json")

  /** The log's qualified location — the prefix of its commits' memo keys. */
  lazy val id: String = fs.makeQualified(dir).toString

  def exists: Boolean = fs.exists(dir)

  /** The published commits at `version` or later, in version order. */
  def listFrom(version: Long): Seq[LogFile] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).iterator
      .filter(_.getPath.getName.endsWith(".json"))
      .map(st => LogFile(st.getPath.getName.stripSuffix(".json").toLong,
        st.getModificationTime, st.getLen))
      .filter(_.version >= version)
      .toSeq.sortBy(_.version)

  def read(version: Long): String = {
    val in = fs.open(file(version))
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** When the commit of `version` was published — the only clock the
    * table has (history, timestamp time travel, wall-clock retention). */
  def mtime(version: Long): Long = fs.getFileStatus(file(version)).getModificationTime

  /** Publish `bytes` as the commit of `version`: true iff this writer
    * owns the version, false when another writer already does. */
  def putIfAbsent(version: Long, bytes: Array[Byte]): Boolean

  /** Drop the commit of `version` (vacuum's log truncation). */
  def delete(version: Long): Unit = fs.delete(file(version), false): Unit

  /** Temp files of puts in flight or of writers that died inside one. */
  def temps: Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { s =>
      val n = s.getPath.getName
      n.startsWith(".") && n.endsWith(".tmp")
    }

  def sidecar(name: String): Path = LogStore.sidecarPath(table, name)

  /** Every file and parquet-vector dir under the sidecar dir. */
  def sidecars: Seq[FileStatus] = {
    val d = new Path(dir, LogStore.SidecarDir)
    if (!fs.exists(d)) Nil else fs.listStatus(d).toSeq
  }
}

private[graft] object LogStore {

  private val LogDir = "_txlog"
  private val SidecarDir = "_sidecar"

  /** Where `table`'s commit files live; [[graft.streaming.StreamingCdf]]
    * follows a table by streaming this directory's arrivals. */
  def dirOf(table: String): String = s"$table/$LogDir"

  def sidecarPath(table: String, name: String): Path =
    new Path(s"$table/$LogDir/$SidecarDir/$name")

  /** The log store for `table` on `fs`: a hard link publishes on a local
    * filesystem (link(2) fails atomically if the target exists, where a
    * POSIX rename would silently overwrite and lose a race undetectably);
    * a rename publishes on every other Hadoop filesystem (HDFS rename is
    * atomic and refuses an existing destination). */
  def apply(fs: FileSystem, table: String): LogStore =
    if (fs.getScheme == "file") new Local(fs, table) else new Renaming(fs, table)

  private final class Local(fs: FileSystem, table: String) extends LogStore(fs, table) {
    def putIfAbsent(version: Long, bytes: Array[Byte]): Boolean = {
      val local = Paths.get(fs.makeQualified(file(version)).toUri)
      Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(s".${local.getFileName}.${UUID.randomUUID()}.tmp")
      Files.write(tmp, bytes)
      try {
        Files.createLink(local, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // the tmp vanished under us — a concurrent vacuum reclaimed it as
        // debris. Not a filesystem fault: treat it as a lost race; the
        // retry writes a fresh tmp (and may well win the same version).
        case _: NoSuchFileException => false
      }
      // the link alone decides the version: a failing cleanup must not
      // throw after a won link (the caller would take the published
      // version for lost), and a leftover tmp is vacuum's (see temps)
      finally try Files.deleteIfExists(tmp): Unit catch { case _: IOException => () }
    }
  }

  private final class Renaming(fs: FileSystem, table: String) extends LogStore(fs, table) {
    def putIfAbsent(version: Long, bytes: Array[Byte]): Boolean = {
      val p = file(version)
      val tmp = new Path(dir, s".${p.getName}.${UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, /* overwrite = */ true)
      try out.write(bytes)
      finally out.close()
      var won = false
      try {
        won =
          try fs.rename(tmp, p)
          catch {
            case _: FileAlreadyExistsException => false
            // a rename that took effect before it threw (an HDFS RPC that
            // timed out after the NameNode applied it): only this rename
            // can have consumed this writer's temp, so a gone temp beside
            // a present commit is a win — reporting a failed put would
            // make the caller delete data files the commit lists
            case e: IOException =>
              if (!fs.exists(tmp) && fs.exists(p)) true else throw e
          }
        // Hadoop's boolean rename conflates "destination exists" (a lost
        // commit race — expected) with every other failure; only the
        // former may be swallowed, or a genuine IO problem would
        // masquerade as lost races and a bogus livelock diagnosis.
        if (!won && !fs.exists(p))
          throw new IOException(
            s"commit rename $tmp -> $p failed but $p does not exist — " +
              "not a lost race; underlying filesystem error")
        won
      } finally if (!won) fs.delete(tmp, false): Unit
    }
  }
}
