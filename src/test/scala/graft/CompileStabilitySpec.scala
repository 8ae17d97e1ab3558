package graft

import graft.ops.{CorpusClean, Similarity}
import org.apache.spark.metrics.source.CodegenMetrics

/** The engine's hot path compiles each generated class once per process.
  * Spark keeps compiled classes in a JVM-wide LRU cache; one pass over
  * the attribution pipeline, corpus cleaning and both LSH operators
  * generates more classes than the 100-entry default holds, so at that
  * size every repeat evicts and recompiles its own classes (~140 per
  * pass). GraftSession sizes the cache to the measured working set; a
  * settled process then compiles nothing when it repeats the path. The
  * count is Spark's own codegen metric: one histogram update per Janino
  * compile. */
class CompileStabilitySpec extends SparkSpec {

  private def hotPass(out: String): Unit = {
    val d = sf("sf0.001")
    AttributionPipeline.runAll(
      Tables.conversions(spark, d), Tables.sessions(spark, d), Tables.sessionCosts(spark, d),
      s"$out/attribution")
    assert(CorpusClean.cleanClustered(Tables.documents(spark, d)).count() > 0)
    val emb = Tables.embeddings(spark, d)
    Similarity.nearDupPairsLsh(emb).collect()
    assert(Similarity.topKLsh(emb).count() > 0)
  }

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated hot-path pass compiles no generated class") {
    // the metric is live: a literal never seen before is new source
    val fresh = System.nanoTime()
    assert(compiles(spark.range(1).selectExpr(s"id + ${fresh}L").collect()) > 0)
    val out = java.nio.file.Files.createTempDirectory("graft-compile").toString
    val first = compiles(hotPass(out))
    compiles(hotPass(out)) // settle: plans whose first run re-planned
    val repeat = compiles(hotPass(out))
    assert(repeat == 0,
      s"the repeated pass recompiled $repeat classes (first pass compiled $first): " +
        "the codegen cache is smaller than the hot path's working set, or a " +
        "per-call value reaches the generated source")
  }
}
