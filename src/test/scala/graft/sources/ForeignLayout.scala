package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Test fixture: a layout a foreign writer could leave behind, which
  * neither `convert` (it infers the partition type from every raw) nor a
  * graft write (it writes typed values) produces. */
object ForeignLayout {

  /** Moves live file `rel` of the table at `path` into the partition
    * directory `dir` (`col=raw`, any raw) in one commit, with its stats
    * harvested as `convert` harvests them. Returns the version. */
  def relabel(spark: SparkSession, path: String, rel: String, dir: String): Long = {
    val f = TxSnapshot.fs(spark, path)
    val to = s"$dir/${rel.substring(rel.lastIndexOf('/') + 1)}"
    val data = s"$path/${TxSnapshot.DataDir}"
    f.mkdirs(new Path(s"$data/$dir"))
    require(f.rename(new Path(s"$data/$rel"), new Path(s"$data/$to")), s"rename failed for $rel")
    TxStore.commitLoop(spark, path, "convert") { snap =>
      Some(TxSnapshot.CommitSpec(Seq(to), Seq(rel), snap.schema.map(TxSnapshot.encodeSchema),
        TxStats.fileStats(f, path, Seq(to), foreign = true)))
    }.get.version
  }
}
