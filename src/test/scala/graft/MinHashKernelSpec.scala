package graft

import graft.functions.{GraftExtensions, MinHash, MinHashBands, ShingleJaccard}
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._

/** The native MinHash expressions vs the composed xxhash64 forms they
  * replaced: `graft_minhash` and `graft_minhash_bands` must be
  * bit-identical to the higher-order-function composition (so LSH
  * candidate sets, and the batch/stream parity, do not move), and
  * `graft_shingle_jaccard` must compute the exact ratio the inverted-
  * index path gets from shingle-row counts. */
class MinHashKernelSpec extends SparkSpec {

  import spark.implicits._

  private val W = 3
  private val K = 64

  /** The signature and band keys composed from built-in xxhash64 and
    * higher-order functions, kept here as the reference semantics:
    * shingles by `transform` over window starts, `sig_i =
    * array_min(xxhash64(h, i))`, band key = xxhash64 over the band's
    * slice, NULL below `w` tokens. Each step is its own projection (the
    * higher-order functions are interpreted and not common-subexpression
    * eliminated), and the result is checkpointed so later filters do not
    * re-inline it. Returns `doc_id`, the reference (`hof_sig`,
    * `hof_bands`) and the kernels' output (`sig`, `bands`). */
  private def withBoth(docs: DataFrame, w: Int, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val toks = split(col("text"), " ")
    val shingles = transform(
      sequence(lit(0), size(toks) - lit(w)),
      i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + lit(o + 1))): _*))
    docs
      .select(col("doc_id"), col("text"),
        when(size(toks) >= w, transform(shingles, s => xxhash64(s))).as("hs"))
      .select(col("doc_id"), col("text"),
        when(col("hs").isNotNull, array((0 until k).map(i =>
          array_min(transform(col("hs"), h => xxhash64(h, lit(i))))): _*)).as("hof_sig"))
      .select(col("doc_id"), col("text"), col("hof_sig"),
        when(col("hof_sig").isNotNull, array((0 until bands).map(b =>
          xxhash64((b * rows until (b + 1) * rows).map(r =>
            element_at(col("hof_sig"), r + 1)): _*)): _*)).as("hof_bands"))
      .select(col("doc_id"), col("hof_sig"), col("hof_bands"),
        native(col("text"), w, k).as("sig"))
      .select(col("doc_id"), col("hof_sig"), col("hof_bands"), col("sig"),
        GraftExtensions.minhashBands(col("sig"), lit(rows)).as("bands"))
      .localCheckpoint()
  }

  private def native(text: Column, w: Int, k: Int): Column =
    GraftExtensions.minhash(split(text, " "), lit(w), lit(k))

  private def diverged(both: DataFrame): DataFrame =
    both.filter(!(col("sig") <=> col("hof_sig")) || !(col("bands") <=> col("hof_bands")))

  private def assertSameAsComposed(docs: DataFrame, what: String): Unit =
    for (bands <- Seq(16, 32)) {
      val both = withBoth(docs, W, K, bands)
      val bad = diverged(both).select("doc_id").as[Long].take(5)
      assert(bad.isEmpty, s"$what: native and composed MinHash diverge at bands=$bands: " +
        bad.mkString(","))
      assert(both.filter(col("sig").isNotNull).count() == docs.count(),
        s"$what: every fixture doc has ≥ $W tokens, so none may hash to NULL")
    }

  test("graft_minhash and graft_minhash_bands equal the composed form on sf0.001 and sf0.01") {
    for (dir <- Seq("sf0.001", "sf0.01"))
      assertSameAsComposed(Tables.documents(spark, sf(dir)).select("doc_id", "text"), dir)
  }

  test("edge cases: short docs, empty tokens and NULL text match the composed form") {
    val docs = Seq(
      (1L, Some("one two")),                       // < w tokens: NULL, no band rows
      (2L, Some("one two three")),                 // exactly one shingle
      (3L, Some("one  two three")),                // double space: an empty token
      (4L, Some(" leading and trailing ")),        // empty first and last tokens
      (5L, None: Option[String]),                  // NULL text
      (6L, Some("")),                              // one empty token
      (7L, Some("a b c a b c a b c")))             // repeated shingles
      .toDF("doc_id", "text")
    assert(diverged(withBoth(docs, W, K, 16)).isEmpty, "edge-case signatures diverge")
    val sig = docs.select(col("doc_id"), native(col("text"), W, K).as("s"))
      .as[(Long, Option[Array[Long]])].collect().toMap
    assert(sig(1L).isEmpty && sig(5L).isEmpty && sig(6L).isEmpty)
    assert(sig(3L).exists(_.length == K), "the empty token is a token: 4 tokens, 2 shingles")
    // the LSH front end emits no band rows for the NULL signatures
    val banded = Dedup.bandedSignatures(docs, W, K, 16)
    assert(banded.select("doc_id").distinct().as[Long].collect().toSet == Set(2L, 3L, 4L, 7L))
    assert(banded.count() == 4L * 16)
  }

  test("graft_shingle_jaccard equals the jaccardFromCounts ratio on every jaccardPairs pair") {
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
    // threshold 0 keeps every pair sharing at least one shingle, so the
    // comparison covers the whole ratio range, not only the near-dups
    val exact = Dedup.jaccardPairs(docs, W, threshold = 0.0)
    val kernel = exact
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        Num.rnd(GraftExtensions.shingleJaccard(split(col("ta"), " "), split(col("tb"), " "), lit(W)), 4)
          .as("k"))
    assert(exact.count() > 1000L, "the comparison needs a non-trivial pair set")
    assert(kernel.filter(!(col("jaccard") <=> col("k"))).isEmpty,
      "kernel and count-based Jaccard diverge")
    // the LSH re-verification path gives the same rows as the exact path
    val verified = Dedup.verifyJaccard(exact.select("doc_a", "doc_b"), docs, W, 0.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(verified == exact.as[(Long, Long, Double)].collect().toSet)
  }

  test("graft_shingle_jaccard: set semantics, NULLs and short docs") {
    val r = spark.sql(
      """SELECT
        |  graft_shingle_jaccard(split('a b c d', ' '), split('a b c d', ' '), 3) AS same,
        |  graft_shingle_jaccard(split('a b c a b c', ' '), split('a b c', ' '), 3) AS dup,
        |  graft_shingle_jaccard(split('a b c d', ' '), split('b c d e', ' '), 3) AS third,
        |  graft_shingle_jaccard(split('a b', ' '), split('a b c', ' '), 3) AS short,
        |  graft_shingle_jaccard(CAST(NULL AS array<string>), split('a b c', ' '), 3) AS nul
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    // {abc, bca, cab} vs {abc}: 1 / 3 — repeats count once
    assert(r.getDouble(1) == 1.0 / 3.0)
    // {abc, bcd} vs {bcd, cde}: 1 / 3
    assert(r.getDouble(2) == 1.0 / 3.0)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("all three kernels are callable from SQL and none is CodegenFallback-null") {
    Seq(classOf[MinHash], classOf[MinHashBands], classOf[ShingleJaccard]).foreach { c =>
      assert(!classOf[CodegenFallback].isAssignableFrom(c), s"${c.getSimpleName} fell back")
    }
    Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"))
      .toDF("doc_id", "text").createOrReplaceTempView("mh_test")
    val rows = spark.sql(
      """SELECT doc_id,
        |       graft_minhash(split(text, ' '), 3, 8) AS sig,
        |       graft_minhash_bands(graft_minhash(split(text, ' '), 3, 8), 2) AS bands,
        |       graft_shingle_jaccard(split(text, ' '), split('the quick brown fox jumps', ' '), 3) AS j
        |FROM mh_test ORDER BY doc_id""".stripMargin)
    val got = rows.collect()
    assert(got.forall(r => !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3)))
    assert(got.forall(_.getSeq[Long](1).size == 8) && got.forall(_.getSeq[Long](2).size == 4))
    // docs 1 and 2 share {the quick brown, quick brown fox} of 3 + 3 shingles
    assert(got(0).getDouble(3) == 1.0 && got(1).getDouble(3) == 2.0 / 4.0)
    // the SQL path hashes like the composed reference
    val ref = withBoth(Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text"), 3, 8, 4)
      .select("hof_sig").head().getSeq[Long](0)
    assert(got(0).getSeq[Long](1) == ref)
    // a local relation is evaluated by the optimizer (interpreted); a
    // parquet scan runs the kernels in generated code
    Tables.documents(spark, sf("sf0.001")).createOrReplaceTempView("mh_docs")
    val scanned = spark.sql(
      """SELECT graft_minhash(split(text, ' '), 3, 8) AS sig,
        |       graft_minhash_bands(graft_minhash(split(text, ' '), 3, 8), 2) AS bands,
        |       graft_shingle_jaccard(split(text, ' '), split(text, ' '), 3) AS j
        |FROM mh_docs""".stripMargin)
    val codegen = scanned.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child.toString
    }
    assert(codegen.exists(p => p.contains("graft_minhash") && p.contains("graft_shingle_jaccard")),
      s"the kernels should run inside whole-stage codegen:\n${scanned.queryExecution.executedPlan}")
    val out = scanned.collect()
    assert(out.length == 500 && out.forall(r => !r.anyNull))
    assert(out.forall(r => r.getSeq[Long](0).size == 8 && r.getSeq[Long](1).size == 4))
    assert(out.forall(_.getDouble(2) == 1.0))
  }
}
