package graft

import org.apache.spark.sql.functions.col

/** Automated physical-plan guard over the ENTIRE query registry: no
  * registered query may plan a cartesian product or an unintended
  * broadcast-nested-loop join, and the key scale-bearing plan features
  * must be present. Catches plan regressions the row-level oracle can't
  * see (a cartesian that happens to produce correct rows is still a
  * 100 TB outage). */
class PlanAuditSpec extends SparkSpec {

  // Brute-force similarity IS a deliberate broadcast scan of corpus ×
  // query set (PLANS.md), and tf-idf cross-joins a SINGLE-ROW broadcast
  // scalar (the corpus doc count); everything else must equi-join.
  // ext3_topk_ivf and ext3_topk_pq emit recall scorecards whose
  // ground-truth side is that same deliberate brute-force scan (the IVF
  // side equi-joins on the cell id; the PQ ADC pass is a deliberate
  // broadcast scan over the 16-codes-per-row compressed column — the
  // compression, not the join shape, is what it buys; its exact re-rank
  // equi-joins on vec_id). ext3_topk_ivfpq's approx side is pure
  // equi-join — PqSpec asserts that — but its registered scorecard
  // carries the same brute ground-truth side as its siblings.
  // ext35's BNLJ is the post-aggregate single-row grand-total broadcast
  // (|docs| rows × 1) — same class as tf-idf's doc-count scalar.
  private val intendedBnlj =
    Set("ext3_topk_cosine", "ext3_topk_ivf", "ext3_topk_pq",
      "ext3_topk_ivfpq", "ext4_tfidf", "ext35_unigram_logprob",
      "ext36_filter_flags", "ext36_funnel",
      // round 10: inherits the funnel's single-row broadcast-scalar
      // cross (the unigramLogProb grand total), same as its siblings
      "ext36_relaxation",
      // late round 11: scores through unigramLogProb — same single-row
      // broadcast-scalar cross as ext35 itself
      "ext43_ppl_buckets")

  test("no cartesians, unintended nested-loop joins, or global windows anywhere") {
    SparkEntry.registry.foreach { q =>
      // through SparkEntry.queries so the sweep exercises the same tuned
      // path every production consumer gets
      val qe = SparkEntry.queries(q.name)(spark, sf("sf0.001")).queryExecution
      val plan = qe.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} plans a cartesian:\n$plan")
      if (!intendedBnlj(q.name)) {
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"${q.name} plans an unintended BNLJ:\n$plan")
      }
      // No window may run unpartitioned: an empty partitionSpec is an
      // Exchange SinglePartition — the whole input through one task.
      // (c1_chunks was the one exception until round 7; Chunking.globalRank
      // removed it, so the guard is now unconditional.)
      val globalWindows = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"${q.name} plans a global single-partition window:\n${qe.sparkPlan}")
    }
  }

  test("top-k sort/limit plans as TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("an2_top_orders")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("dimension-chain joins broadcast the dimensions") {
    val plan = SparkEntry.queries("an3_nation_revenue")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("hot attribution queries stay inside whole-stage codegen") {
    // a CodegenFallback expression in the hot path silently de-optimizes
    // the whole stage (HOFs are the classic trap) — require codegen
    // spans in the plans that carry the data volume
    Seq("j1_journeys", "ihc_score", "an1_pricing_summary", "ext4_term_freq").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.collect() // finalize this Dataset's cached AQE plan (a write would build its own)
      val plan = df.queryExecution.executedPlan.toString
      // codegen stages render as "*(n) Operator" in the final plan string
      assert(plan.contains("*("), s"$q lost codegen:\n$plan")
    }
  }

  /** Count the shuffle exchanges a finalized plan actually executes:
    * recurse through the AQE wrapper and its materialized query stages,
    * treat ReusedExchange as free (it IS the point of reuse), and stop at
    * InMemoryTableScan — a cached lineage's exchanges run once for the
    * cache, not once per consumer. (The previous string-regex count also
    * picked up the cached-plan text that InMemoryRelation REPRINTS, which
    * varies with JVM/cache history — same plan, different count.) */
  private def countShuffles(root: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val deeper = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => p.children.map(walk).sum
      }
      self + deeper
    }
    walk(root)
  }

  test("shuffle counts hold the audited bounds (exchange creep guard)") {
    // Every groupBy/join/window that loses its exchange-sharing or gains
    // a stage shows up here before it shows up in the bench. Bounds are
    // the measured AQE-final executed-node counts at sf0.001 — a
    // regression ADDS a shuffle and fails; an improvement passes and the
    // bound should then be ratcheted down.
    val bounds = Map(
      "flagship_report" -> 3, // journey join + 4 SHARED-exchange windows + report agg
      "j1_journeys" -> 0,     // broadcast at this SF; SMJ (2 exchanges) at scale
      "ihc_score" -> 1,
      "an1_pricing_summary" -> 1,
      "ext6_sessionize" -> 1, // lag + running-sum share one user_id exchange
      "j7_asof" -> 1,         // union + ONE cumulative window (no join node)
      "j8_range" -> 2,
      "ext4_term_freq" -> 1,
      "an3_nation_revenue" -> 1, // dims broadcast — only fact⋈fact + agg shuffle
      "j10_salted_join" -> 1,    // salted dim broadcasts; one agg shuffle
      "ext25_pack" -> 1,         // one shard groupBy — no window, no join
      "ext25_pack_spans" -> 1,   // one shard exchange feeding the per-shard cumsum
      "ext26_shards" -> 1,       // rank's range exchange rides the cached lineage;
                                 // only the shard rollup shuffles per consumer
      "ext27_dup_audit" -> 2,    // df agg + the shingle-keyed enrich join
                                 // (shared exchange) + doc agg; was 1 while AQE
                                 // broadcast the df side at this SF — 2 is the
                                 // honest keyed-join count it settled on
      // round-10 additions
      "ext38_chunk_windows" -> 0, // pure per-row explode — ZERO shuffle, pinned
      "ext39_edit_neardup" -> 0,  // all joins broadcast at this SF
      "ext40_cluster_balance" -> 1, // the per-cell quota window only
      "ext35_bigram_logprob" -> 3,  // bigram tf + prefix tf + per-doc agg
      "ext36_relaxation" -> 4,      // flags' LM chain + the one-row counter agg
      // round-11 additions
      "ext41_winnow_pairs" -> 0,   // fp sets ride the cached lineage; every
                                   // consumer join broadcasts at this SF
      "ext34_semdedup_tail" -> 5,  // 16-table keyed self-join + verify joins
                                   // + the drop-id distinct + anti-join
      // late round-11 additions
      "ext42_bpe_encode" -> 3,      // word tf + doc×word agg + per-doc sum;
                                    // the vocab fold is vocab-scale, joins broadcast
      "ext41_winnow_decontam" -> 0, // both corpora's fp sets ride cached lineages;
                                    // df guard + containment joins broadcast at this SF
      "ext43_ppl_buckets" -> 0,     // scores cached; the rank's range exchange
                                    // rides the cached lineage
      "ext44_token_mix" -> 1,       // the crossing-bucket window only; totals agg
                                    // rides the cached base, classification broadcasts
      // round-11 session-3 additions
      "ext45_bloom_decontam" -> 0,   // bloom probe is a scan-side filter; the
                                     // cached shingle lineages + broadcasts
                                     // absorb every join at this SF
      "ext35_backoff_logprob" -> 6,  // five vocab-scale count aggs (c3/p2/c2/
                                     // p1/c1) + the per-doc agg; enrich joins
                                     // broadcast
      "ext46_line_dedup" -> 3,       // line df agg + removal agg + per-doc
                                     // reassembly agg; anti-join broadcasts
      "ext47_hash_classifier" -> 1,  // one keyed per-doc agg — the weight
                                     // lookup is a pure projection
      "ext48_leakage_split" -> 2,    // components' keyed join rounds on the
                                     // tiny pair graph; jaccard lineage cached
      "ext49_novelty" -> 1,          // the per-doc agg; the reference distinct
                                     // + semi-join broadcast at this SF
      // round-11 session-4 additions
      "an20_pagerank" -> 0,      // audited plan reads the final localCheckpoint;
                                 // per-iteration joins/aggs are pinned by shape
                                 // in GraphOps (one keyed join + one agg each)
      "an21_event_funnel" -> 7,  // 3 conditional-min aggs + 2 keyed joins +
                                 // the 3 scalar counts' single-partition folds
      "ext51_bm25" -> 6,         // tf agg + dl join + df agg + score agg +
                                 // per-query ranking window + stats cross-join
      "ext52_classifier_train" -> 0, // result is the model-bounded weight
                                     // vector; training aggs run inside the
                                     // iteration collects
      // round-11 session-5 additions
      "an22_copurchase" -> 2,        // (order, part) distinct + pair-support agg;
                                     // the basket self-join shares the distinct's
                                     // exchange
      "an23_markov_attribution" -> 0, // transition extraction collapses into the
                                      // model-bounded driver math; result is
                                      // state-scale literals
      "an24_triangles" -> 0,          // audited plan reads the localCheckpoint
                                      // (the pageRank rule); internal stages are
                                      // 3 keyed shuffles by shape in GraphOps
      "an25_anomaly" -> 2,            // daily pre-agg + ONE event_type window
                                      // exchange (all three moments share it)
      // round-12 additions
      "an24_triangles_sampled" -> 0,  // localCheckpoint read, like an24; the
                                      // coin filter rides the edge scan
      "an26_label_prop" -> 0,         // audited plan reads the final
                                      // localCheckpoint (the pageRank rule);
                                      // per-iteration join + 2 aggs by shape
      "an27_clustering_coeff" -> 0,   // audited plan reads the final
                                      // localCheckpoint (the pageRank rule);
                                      // internal shape pinned in GraphSpec:
                                      // ONE canonical distinct + ONE degree
                                      // agg shared with the orientation
                                      // (trianglesCanonical seam) + the
                                      // corner agg
      "s40_tx_partition_pruning" -> 0, // pruned readback is scan + projection;
                                      // the appends/checkpoint run before the
                                      // audited frame exists
      // round-13 additions — all three audited frames are transactional
      // READBACKS (the write ops run eagerly while the lane builds):
      // scan + projection, zero exchanges, same class as s40
      "s42_tx_replace_where" -> 0,
      "s43_tx_partitioned_optimize" -> 0,
      "s44_tx_small_file_compact" -> 0,
      // deletion-vector readbacks: the scan's reader skips marked
      // positions, so no mark join (and no exchange) is planned
      "s25_tx_delete_dv" -> 0,
      "s30_tx_delete_dv_sidecar" -> 0,
      "s31_tx_delete_dv_distributed" -> 0)
    val measured = bounds.toSeq.sortBy(_._1).map { case (name, maxShuffles) =>
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      df.collect() // finalize the AQE plan
      (name, maxShuffles, countShuffles(df.queryExecution.executedPlan))
    }
    info("executed shuffles: " +
      measured.map { case (n, _, g) => s"$n=$g" }.mkString(", "))
    val over = measured.filter { case (_, bound, got) => got > bound }
    assert(over.isEmpty,
      "shuffle-count regressions (query, bound, executed): " +
        over.map { case (n, b, g) => s"$n $b->$g" }.mkString(", ") +
        s"\nall counts: ${measured.map { case (n, _, g) => s"$n=$g" }.mkString(", ")}")
  }

  test("filters and projection reach the parquet scan") {
    val plan = SparkEntry.queries("s1_scan_prune")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,50000.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), plan)
  }

  test("journey scan prunes to the joined columns only") {
    val plan = graft.ops.JourneyBuilder.journeys(
      Tables.conversions(spark, sf("sf0.001")), Tables.sessions(spark, sf("sf0.001")))
      .select(col("conversion_id"), col("session_id"))
      .queryExecution.executedPlan.toString
    // Tables.conversions selects `value` (as revenue), but a key-only
    // projection must prune it out of the parquet scan entirely: no
    // events scan may read the double column.
    assert(!plan.contains("value:double"), plan)
    assert(plan.contains("ReadSchema"), plan)
  }
}
