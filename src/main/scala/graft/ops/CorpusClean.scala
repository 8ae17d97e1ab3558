package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The canonical training-data cleaning pipeline, composed from the
  * engine's own operators: quality gate → exact dedup → near-dup dedup →
  * surviving corpus. Each stage is a keyed shuffle or an already-audited
  * op — the composition adds no new scale hazards.
  *
  *  1. quality gate: minimum token count + maximum stopword ratio
  *     (TextOps.qualityScore semantics);
  *  2. exact dedup: one survivor per identical text (min doc_id);
  *  3. near-dup dedup: for every near-dup pair (doc_a < doc_b) from the
  *     LSH path, the higher id is dropped — a deterministic greedy rule.
  *     On transitive chains it can over-drop (b removes c even though b
  *     itself was removed by a) — the conservative direction for training
  *     data, where an extra removal is cheaper than a kept duplicate;
  *     exact clustering would need iterative connected components.
  */
object CorpusClean {

  /** The shared front of both cleaning modes: the quality gate and the
    * exact dedup. Quality stats feed two consumers (the gate and the
    * final stat join); the exact-deduped corpus feeds four (the LSH
    * signature pass, the two text joins of the candidate
    * re-verification, and the final anti-join). Both are
    * localCheckpoint-ed so their lineage — a full corpus scan +
    * tokenization — runs once, not once per consumer, AND so every
    * downstream plan starts from a two-node scan of the checkpointed
    * rows instead of embedding the whole upstream plan (a `persist`
    * keeps the plan, and every scan site of a cached frame re-prints it
    * at each AQE re-plan). Lazy, like [[Dedup.connectedComponents]]'s
    * checkpoints: the first job that reads a frame materializes it.
    * Both frames are ≤ corpus-sized and column-pruned; the checkpoint
    * blocks are MEMORY_AND_DISK, so they spill safely at scale. Nothing
    * is registered in Spark's CacheManager: the blocks belong to the
    * checkpointed RDDs and are freed by the ContextCleaner once the
    * returned frame is unreachable, so repeated calls in one session
    * leave no cached plans behind. */
  private def gatedExact(
      docs: DataFrame,
      minTokens: Int,
      maxStopwordRatio: Double): (DataFrame, DataFrame) = {
    val quality = TextOps.qualityScore(docs)
      .filter(col("n_tokens") >= minTokens && col("stopword_ratio") <= maxStopwordRatio)
      .localCheckpoint(false)
    // carry only (doc_id, text): the fixture has its own n_chars column
    // that would collide with the computed quality stats downstream
    val passing = docs.select("doc_id", "text").join(quality.select("doc_id"), "doc_id")

    // exact dedup: keep min doc_id per identical text — the text is the
    // group key, so the aggregate already is the (doc_id, text) frame
    val exact = passing
      .groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text")
      .localCheckpoint(false)
    (quality, exact)
  }

  private def survivors(exact: DataFrame, quality: DataFrame, losers: DataFrame): DataFrame =
    exact
      .join(losers, Seq("doc_id"), "left_anti")
      .join(quality, "doc_id")
      .select("doc_id", "n_chars", "n_tokens", "stopword_ratio")

  /** Surviving doc_ids with their quality stats.
    *
    * `minBandMatches` passes through to [[Dedup.minhashLshPairs]] — the
    * LSH precision knob for low-df-skew vocabularies (see its scaladoc
    * and the sf10 century notes in BASELINE.md); default 1 keeps the
    * classic banding the oracle lanes pin. */
  def clean(
      docs: DataFrame,
      minTokens: Int = 10,
      maxStopwordRatio: Double = 0.5,
      jaccardThreshold: Double = 0.5,
      minBandMatches: Int = 1): DataFrame = {
    val (quality, exact) = gatedExact(docs, minTokens, maxStopwordRatio)
    // near-dup dedup over the exact-deduped corpus (LSH scale path)
    val dupLosers = Dedup
      .minhashLshPairs(exact, threshold = jaccardThreshold, minBandMatches = minBandMatches)
      .select(col("doc_b").as("doc_id")).distinct()
    survivors(exact, quality, dupLosers)
  }

  /** [[clean]] with exact near-dup CLUSTERING instead of the greedy
    * pairwise drop: near-dup pairs are grouped into connected components
    * (Dedup.connectedComponents) and exactly one representative — the
    * min doc_id — survives per component. On transitive chains
    * (a~b, b~c, a≁c) the greedy rule drops both b and c; clustering
    * keeps a and drops b, c with a guarantee of one survivor per
    * connected group — the semantics most training-data pipelines
    * actually want. Costs the component iteration (a few keyed joins)
    * on top of [[clean]]. */
  def cleanClustered(
      docs: DataFrame,
      minTokens: Int = 10,
      maxStopwordRatio: Double = 0.5,
      jaccardThreshold: Double = 0.5,
      minBandMatches: Int = 1): DataFrame = {
    val (quality, exact) = gatedExact(docs, minTokens, maxStopwordRatio)
    val comp = Dedup.connectedComponents(
      Dedup.minhashLshPairs(exact, threshold = jaccardThreshold, minBandMatches = minBandMatches))
    val dupLosers = comp.filter(col("component") =!= col("doc_id")).select("doc_id")
    survivors(exact, quality, dupLosers)
  }

  /** One-line corpus report after cleaning. */
  def stats(cleaned: DataFrame): DataFrame =
    cleaned.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      graft.Num.rnd(avg("n_tokens"), 4).as("avg_tokens"))
}
