package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data assembly: train/val/test
  * splitting and per-source mixture weighting.
  *
  * Everything here is HASH-deterministic, never RNG-based: `df.sample` and
  * `rand()` draw from per-task RNG streams, so membership changes with the
  * partition layout, the run, and the executor count — unacceptable for a
  * split that must stay frozen across reruns, engines, and backfills (a
  * document that migrates from test to train silently contaminates every
  * future evaluation). A stable function of a row KEY gives the same
  * verdict everywhere, forever, and needs no split-assignment table.
  *
  * The bucketer is pluggable: the default mixes the key through xxhash64
  * (sequential ids would otherwise stripe systematically across buckets —
  * doc 0,100,200… all landing in bucket 0 correlates membership with
  * crawl/ingest order). Callers needing cross-engine arithmetic parity
  * (the oracle queries) pass a portable bucketer like `key % 100`; the
  * default hashed path is pinned by determinism/fraction/disjointness
  * tests instead.
  */
object Sampling {

  /** Stable percent bucket in [0, 100): xxhash64-mixed by default. NULL
    * keys map to bucket 0 explicitly — xxhash64(NULL) returns the
    * seed-derived hash (non-NULL), so without this branch a NULL key
    * would land in whatever bucket the seed hashes to, not the bucket 0
    * the split contract documents. */
  def hashBucket(key: Column): Column =
    when(key.isNull, lit(0L)).otherwise(pmod(xxhash64(key), lit(100L)))

  /** Portable bucketer for non-negative integer keys — identical
    * arithmetic in any SQL engine (used by the oracle twins). */
  def modBucket(key: Column): Column = pmod(key, lit(100L))

  /** Adds a `split` column assigning each row to the first split whose
    * cumulative weight exceeds the row's bucket. `splits` are
    * (name, percent) with percents summing to 100 — e.g.
    * Seq(("train", 80), ("val", 10), ("test", 10)): buckets 0–79 train,
    * 80–89 val, 90–99 test. Disjoint and exhaustive by construction —
    * including NULL keys, which bucket to 0 (the first split)
    * deterministically rather than falling out of every split (a NULL
    * bucket would make each `when` NULL and the row would vanish from
    * any groupBy("split")). */
  def hashSplit(
      df: DataFrame,
      key: Column,
      splits: Seq[(String, Int)],
      bucketFn: Column => Column = hashBucket): DataFrame = {
    require(splits.map(_._2).sum == 100, s"split percents must sum to 100: $splits")
    require(splits.forall(_._2 > 0), s"split percents must be positive: $splits")
    require(!df.columns.contains("split"),
      "input already carries a split column — re-splitting would silently " +
        "destroy the frozen membership; drop or rename it explicitly first")
    val b = coalesce(bucketFn(key), lit(0L))
    val cuts = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val expr = splits.zip(cuts).tail.foldLeft(
      when(b < cuts.head, splits.head._1)) { case (acc, ((name, _), hi)) =>
      acc.when(b < hi, name)
    }
    df.withColumn("split", expr)
  }

  /** Exact-quota stratified sampling: keeps the FIRST
    * ceil(n_g · percent/100) rows of each stratum in `orderCol` order.
    * Bucket sampling ([[hashSplit]]/[[sampleByRates]]) hits the fraction
    * only in expectation — a small stratum can come back empty; quota
    * sampling guarantees every stratum its exact share (the "keep 20% of
    * EVERY language" contract). `orderCol` must be a total order (use a
    * unique id) or membership is nondeterministic under ties. One window
    * pass: rank and stratum size share the stratum's exchange. */
  def stratifiedHead(
      df: DataFrame,
      strata: Column,
      orderCol: Column,
      percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100, s"percent must be in [0,100]: $percent")
    require(!df.columns.contains("__rn") && !df.columns.contains("__n"),
      "input already carries a __rn/__n column — withColumn would silently " +
        "replace it and drop it on the way out; rename it first")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number().over(Window.partitionBy(strata).orderBy(orderCol)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(strata)))
      .filter(col("__rn") <= ceil(col("__n") * lit(percent) / lit(100.0)))
      .drop("__rn", "__n")
  }

  /** Mixture weighting: keep each row with the per-source percentage in
    * `rates` (0–100; sources absent from the map use `defaultRate`).
    * This is the corpus-mixing primitive — "2 parts web crawl, 1 part
    * books, a pinch of forum" — done by deterministic downsampling so the
    * SAME mixture reproduces on every run and engine. Rows keep all
    * columns; re-weighting upward (duplication) is a separate concern. */
  def sampleByRates(
      df: DataFrame,
      sourceCol: Column,
      rates: Map[String, Int],
      key: Column,
      defaultRate: Int = 0,
      bucketFn: Column => Column = hashBucket): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 100),
      s"rates must be percentages in [0,100]: $rates default=$defaultRate")
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (src, r)) =>
      when(sourceCol === src, r).otherwise(acc)
    }
    // NULL keys bucket to 0 (kept at any rate ≥ 1) instead of silently
    // failing every `bucket < rate` comparison — same discipline as
    // hashSplit; an unmatched NULL source falls to defaultRate via the
    // when-chain's otherwise.
    df.filter(coalesce(bucketFn(key), lit(0L)) < rate)
  }

  /** Temperature-flattened corpus mixing — the standard multilingual/LLM
    * data-mixing rule p_i ∝ n_i^α (exponentiated smoothing, cf. the
    * XLM-R/mBERT sampling scheme) at α = 1/2, realized as deterministic
    * per-source keep rates under a total row budget T:
    *
    *   rate_i = min(100%, ⌊100·T·q_i / (S·n_i)⌋),  q_i = ⌊√n_i⌋, S = Σq_j
    *
    * Over-represented sources downsample toward the flattened share
    * T·q_i/S; a source whose flattened share exceeds its size keeps
    * everything (rates cap at 100% — no replication — so the realized
    * mix renormalizes over the capped sources: the standard
    * waterfilling caveat, deliberately NOT redistributed to stay
    * one-pass deterministic; the rates are inspectable via
    * [[temperatureRates]]).
    *
    * Arithmetic discipline: q_i is ⌊IEEE-sqrt(n_i)⌋ (correctly rounded,
    * so identical in any engine) and everything after is exact BigInt
    * division — the rates, and therefore MEMBERSHIP, are bit-reproducible
    * cross-engine, which is what puts this under the DuckDB hash gate.
    * Cost: one count pass (per-source counts, source-cardinality driver
    * state — the same scale contract as the `rates` map itself) + the
    * narrow [[sampleByRates]] filter. NULL sources get no computed rate
    * and drop (defaultRate = 0). */
  def temperatureMixture(
      df: DataFrame,
      sourceCol: Column,
      key: Column,
      targetRows: Long,
      bucketFn: Column => Column = hashBucket): DataFrame =
    sampleByRates(df, sourceCol, temperatureRates(df, sourceCol, targetRows), key,
      defaultRate = 0, bucketFn)

  /** The per-source rates [[temperatureMixture]] applies — exposed so a
    * pipeline can log/audit its mixing decision. */
  def temperatureRates(
      df: DataFrame, sourceCol: Column, targetRows: Long): Map[String, Int] = {
    require(targetRows >= 0, s"targetRows must be ≥ 0: $targetRows")
    // cast to string so a non-string source column (an int source id,
    // say) yields its rate under the same key sampleByRates' === will
    // match, instead of a ClassCastException at collect time
    val counts = df
      .groupBy(sourceCol.cast("string").as("__src")).agg(count(lit(1)).as("__n"))
      .collect()
      .collect { case r if !r.isNullAt(0) => r.getString(0) -> r.getLong(1) }
    val qs = counts.map { case (s, n) => (s, n, math.floor(math.sqrt(n.toDouble)).toLong) }
    val total = qs.map(x => BigInt(x._3)).sum
    if (total == 0) return Map.empty
    qs.map { case (s, n, q) =>
      val r = (BigInt(100) * targetRows * q) / (total * n)
      s -> r.min(100).toInt
    }.toMap
  }

  /** EXT37 — DSIR-style importance selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): rank raw
    * documents by how much more likely the TARGET domain's language
    * model makes them than the raw-corpus SOURCE model, keep the top
    * `quota`. The per-doc weight is the length-normalized log importance
    * ratio mean_tok[ln p_tgt(tok) − ln p_src(tok)] — the paper scores
    * hashed n-gram features; the unigram models
    * ([[TextOps.unigramModel]], OOV add-one floor) are the portable core
    * on the same seam as EXT35, and both scores are
    * [[TextOps.scoreUnderModel]]'s, so the weight is a difference of two
    * already-canonically-rounded scores (deterministic across engines).
    *
    * Selection is deterministic top-quota by (weight DESC, doc_id) —
    * the paper's Gumbel-noise resampling randomizes the tail; a frozen
    * pipeline needs replayable membership (same argument as the hash
    * splits above), and temperature mixing is a separate, composable
    * knob ([[temperatureRates]]). Plans as TakeOrderedAndProject (per-
    * partition heaps + driver-side k-merge), never a global sort. */
  def importanceSelect(
      docs: DataFrame,
      targetTf: DataFrame,
      targetTotal: Double,
      sourceTf: DataFrame,
      sourceTotal: Double,
      quota: Int): DataFrame = {
    require(quota >= 1)
    require(targetTotal > 0 && sourceTotal > 0, "model totals must be positive")
    // both models score ONE token stream in one aggregate: two
    // scoreUnderModel frames joined on doc_id scan and aggregate the
    // corpus twice, and at small sizes AQE broadcasts whichever side
    // finishes first, so the plan and its generated code vary by call.
    // A NULL doc_id names no document, so it takes no score.
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .join(targetTf.select(col("token"), col("cnt").as("t_cnt")), Seq("token"), "left")
      .join(sourceTf.select(col("token"), col("cnt").as("s_cnt")), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        TextOps.sumLogCnt(col("t_cnt")).as("t_sum"),
        TextOps.sumLogCnt(col("s_cnt")).as("s_sum"))
      .select(col("doc_id"),
        graft.Num.rnd(
          TextOps.avgLogp(col("t_sum"), col("n"), targetTotal) -
            TextOps.avgLogp(col("s_sum"), col("n"), sourceTotal), 4).as("weight"))
      .orderBy(col("weight").desc, col("doc_id"))
      .limit(quota)
  }

  /** EXT44 — TOKEN-budget corpus mixing: fill each source's token quota
    * in the EXT30 seeded-permutation order. [[sampleByRates]] /
    * [[temperatureMixture]] mix by ROW rates, but training recipes are
    * stated in TOKENS per source ("300 B web, 30 B books…") and document
    * lengths vary by orders of magnitude — a row rate realizes a token
    * mix only in expectation. Here each source keeps its
    * permutation-ordered prefix of documents while the tokens BEFORE a
    * document stay under the budget, so the first budget-crossing
    * document is included ("fill to at least the budget" — downstream
    * packing/truncation trims the overshoot; a budget smaller than the
    * first document still yields that one document, never an empty
    * source). Sources absent from `budgets` drop entirely.
    *
    * Determinism is the whole contract: the order is
    * [[Curation.shuffleHash]]'s exact-arithmetic seeded bijection (ties
    * → doc_id), token counts are `size(tok(text))`, and the cutoff is a
    * per-source running sum — membership replays bit-identically in any
    * engine, and changing `seed` re-rolls WHICH documents fill each
    * quota without touching the quotas.
    *
    * The naive plan — one running-sum window partitioned by source —
    * serializes EACH SOURCE through one task, and source cardinality is
    * tens, not millions: a 10⁹-doc source would funnel through a single
    * executor thread. So the cutoff runs as a bucketed prefix sum
    * instead: (1) a map-side-combinable token total per (source,
    * hash-bucket of the permutation value — `hashBuckets` ranges); (2)
    * driver-side bucket classification over source×bucket SUMS
    * (metadata, like the `budgets` map itself): a bucket wholly under
    * its source's budget keeps every doc, wholly past it drops, and the
    * one CROSSING bucket per source — ~1/hashBuckets of that source —
    * goes through the exact window with the preceding buckets' total as
    * its offset. Identical membership (the window applies the same
    * strict rule, offset included), but the serial section shrinks by
    * the bucket factor and non-budgeted sources are filtered before any
    * shuffle. */
  def tokenBudgetMix(
      docs: DataFrame,
      sourceCol: Column,
      budgets: Map[String, Long],
      seed: Long = 42L,
      tok: Column => Column = TextOps.tokens,
      hashBuckets: Int = 1024): DataFrame = {
    require(budgets.values.forall(_ >= 0), s"budgets must be ≥ 0: $budgets")
    require(hashBuckets >= 1, s"hashBuckets must be ≥ 1: $hashBuckets")
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val p = 1000000007L // shuffleHash's modulus: values in [0, p)
    val bw = (p + hashBuckets - 1) / hashBuckets
    val budgeted = budgets.keys.foldLeft(lit(false)) { (acc, s0) =>
      acc || col("source") === s0
    }
    val base = docs
      .select(col("doc_id"), sourceCol.cast("string").as("source"),
        size(tok(col("text"))).cast("long").as("n_tokens"),
        Curation.shuffleHash(col("doc_id"), seed).as("__h"))
      .filter(budgeted) // sources without a budget never shuffle at all
      .withColumn("__b", expr(s"__h div $bw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // source×bucket totals — driver state is budgets-cardinality ×
    // hashBuckets longs, independent of corpus size
    val totals = base.groupBy("source", "__b").agg(sum("n_tokens").as("__t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val classified = totals.groupBy(_._1).toSeq.flatMap { case (src, bs) =>
      val budget = budgets.getOrElse(src, 0L)
      var cum = 0L
      bs.sortBy(_._2).map { case (_, b, t) =>
        val cls =
          if (cum + t < budget) "keep" // strictly under: every doc's before-sum < budget
          else if (cum < budget) "win" // the crossing bucket: exact rule below
          else "drop"
        val row = (src, b, cls, cum)
        cum += t
        row
      }.filter(_._3 != "drop")
    }
    val cdf = classified.toDF("source", "__b", "__cls", "__off")
    val joined = base.join(broadcast(cdf), Seq("source", "__b"))
    val keepAll = joined.filter(col("__cls") === "keep")
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val budget = budgets.foldLeft(lit(0L)) { case (acc, (s0, b)) =>
      when(col("source") === s0, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy("source", "__b").orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val crossing = joined.filter(col("__cls") === "win")
      .withColumn("__before", col("__off") + coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("__before") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"))
    keepAll.unionByName(crossing)
  }

  /** EXT48 — LEAKAGE-SAFE train/val/test split: assignment is by
    * near-dup GROUP, not by document. A doc-keyed [[hashSplit]] puts
    * the two halves of a near-duplicate pair in different splits with
    * probability ≈ 1 − Σpᵢ² — test-set contamination manufactured by
    * the splitter itself (the failure Lee et al. 2022 measure as
    * inflated eval scores on deduplicated-after-split corpora). Here
    * every document adopts the minimum doc_id transitively reachable
    * through `pairs` ([[Dedup.connectedComponents]]) as its
    * `group_id` — singletons keep their own id via the left-join
    * coalesce — and the split hashes the GROUP id, so a near-dup
    * cluster moves as one unit by construction.
    *
    * `pairs` is the caller's near-dup relation — the exact
    * [[Dedup.jaccardPairs]] twin in the registered lane (oracle
    * replayable), [[Dedup.minhashLshPairs]] at lake scale: the same
    * exact/banded seam every dedup consumer here shares. Shape: the
    * component fold is the iterated keyed join (O(log diameter)
    * rounds), then ONE left join docs→components and the split
    * projection — no window, no driver data. */
  def leakageSafeSplit(
      docs: DataFrame,
      pairs: DataFrame,
      splits: Seq[(String, Int)],
      bucketFn: Column => Column = hashBucket): DataFrame = {
    val comp = Dedup.connectedComponents(pairs)
    val grouped = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("group_id"))
    hashSplit(grouped, col("group_id"), splits, bucketFn)
  }
}
