package graft

import graft.ops.CorpusClean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.CacheBridge

/** Cache hygiene of the cleaning pipeline: its shared frames are cut
  * from their lineage with local checkpoints, so a call leaves nothing
  * registered in Spark's CacheManager and its result plan embeds no
  * cached plan (every scan site of a cached frame re-prints the cached
  * plan at each adaptive re-plan). */
class CorpusCleanSpec extends SparkSpec {

  test("clean and cleanClustered leave the CacheManager as they found it and scan no cache") {
    for ((name, run) <- Seq[(String, DataFrame => DataFrame)](
        "clean" -> (CorpusClean.clean(_)),
        "cleanClustered" -> (CorpusClean.cleanClustered(_)))) {
      val before = CacheBridge.cachedPlans(spark)
      val out = run(Tables.documents(spark, sf("sf0.001")))
      assert(out.count() > 0)
      assert(CacheBridge.cachedPlans(spark) == before, s"$name registered cached plans")
      val scans = out.queryExecution.executedPlan.collectWithSubqueries {
        case s: InMemoryTableScanExec => s
      }
      assert(scans.isEmpty && !out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        s"$name's plan scans a cached frame")
    }
  }
}
