package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** EXT2's streaming twin — MinHash-LSH NEAR-dup detection on the
  * incremental ingest path. Exact streaming dedup
  * ([[StreamingDedup.dedupedEvents]]) catches byte-identical re-landings;
  * a training-data pipeline also re-ingests *near*-identical documents
  * (re-crawls with changed boilerplate, trafficked mirrors) that arrive
  * in DIFFERENT micro-batches, which per-batch batch dedup can never
  * pair up. This operator keeps the LSH band buckets as streaming state,
  * so a new arrival is checked against every prior arrival it shares a
  * band bucket with — across batches, without ever re-scanning history.
  *
  * Hash parity with the batch lane is load-bearing, so there is one
  * implementation: signatures and band keys come from the batch lane's
  * own `Dedup.bandedSignatures` — the `graft_minhash` and
  * `graft_minhash_bands` expressions (shingle → xxhash64, sig_i = min
  * over xxhash64(h, i), band key = xxhash64 over the band's sig slice),
  * a per-row projection that a streaming frame can run as-is.
  *
  * State shape: per (band_id, band_key) bucket, the (doc_id, signature)
  * entries seen so far — bounded per bucket by `maxBucket` exactly like
  * the batch lane's hot-bucket cap (a full bucket stops ADMITTING new
  * docs; boilerplate collisions stop costing quadratic pair emission,
  * and a genuine pair is only lost if every one of its colliding bands
  * overflowed). Total state = Σ bucket sizes × (k+1) longs — the same
  * index a batch LSH build materializes, kept incrementally.
  *
  * Emitted candidates carry `est_sim` — the matching-signature-component
  * fraction, the standard MinHash Jaccard estimate — and the SAME pair
  * can surface from several bands (dedup downstream; the AvailableNow
  * runner re-verifies candidates against the document store with the
  * exact Jaccard, so its output equals the batch lane's verified pairs).
  */
object StreamingNearDup {

  final case class BandedDoc(doc_id: Long, band_id: Int, band_key: Long, sig: Array[Long])
  final case class Candidate(doc_a: Long, doc_b: Long, est_sim: Double)
  /** Parallel arrays, not a List of tuples: the state encoder stays flat. */
  final case class BucketState(ids: Array[Long], sigs: Array[Array[Long]])

  /** The stateful pairing kernel: new docs in a bucket pair against every
    * stored doc, then join the stored set (until the cap). Arrival order
    * inside a micro-batch is made deterministic by sorting on doc_id;
    * re-delivery of an already-stored doc_id is a no-op (at-least-once
    * upstream contract, same as the exact-dedup lane). */
  def pairFn(maxBucket: Int)(
      key: (Int, Long),
      docs: Iterator[BandedDoc],
      state: GroupState[BucketState]): Iterator[Candidate] = {
    var st = state.getOption.getOrElse(BucketState(Array.empty, Array.empty))
    val out = Seq.newBuilder[Candidate]
    docs.toSeq.sortBy(_.doc_id).foreach { d =>
      if (!st.ids.contains(d.doc_id) && st.ids.length < maxBucket) {
        var i = 0
        while (i < st.ids.length) {
          val other = st.ids(i)
          val osig = st.sigs(i)
          var m = 0
          var j = 0
          while (j < d.sig.length) {
            if (d.sig(j) == osig(j)) m += 1
            j += 1
          }
          out += Candidate(math.min(d.doc_id, other), math.max(d.doc_id, other),
            m.toDouble / d.sig.length)
          i += 1
        }
        st = BucketState(st.ids :+ d.doc_id, st.sigs :+ d.sig)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** Streaming candidate pairs: every (doc_a, doc_b) sharing at least one
    * band bucket with est_sim ≥ `minEst` (0 = all candidates). Pairs can
    * repeat across bands and micro-batches — run the result through
    * `dropDuplicates("doc_a", "doc_b")` (stateful) or re-verify exactly
    * per micro-batch ([[verifiedAvailableNow]]). */
  def candidatePairs(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      minEst: Double = 0.0,
      maxBucket: Int = Dedup.DefaultMaxBucket): Dataset[Candidate] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Dedup.bandedSignatures(docs, w, k, bands)
      .as[BandedDoc]
      .groupByKey(d => (d.band_id, d.band_key))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        pairFn(maxBucket))
      .filter(_.est_sim >= minEst)
  }

  /** End-to-end runner: stream docs → stateful LSH candidates → exact
    * Jaccard re-verification per micro-batch against the document store
    * (`staticDocs` — in production the compacted corpus table; the join
    * touches only candidate docs) → verified pairs appended to
    * `outDir` as parquet. The final parquet contents equal the batch
    * `Dedup.minhashLshPairs` pairs over the same corpus (asserted in
    * StreamingDedupSpec), modulo pairs whose copies arrived in the same
    * bucket AFTER it hit the cap. */
  def verifiedAvailableNow(
      spark: SparkSession,
      docs: DataFrame,
      staticDocs: DataFrame,
      outDir: String,
      checkpoint: String,
      w: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = Dedup.DefaultMaxBucket): StreamingQuery =
    candidatePairs(docs, w, k, bands, 0.0, maxBucket)
      .toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cand = batch.select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
        Dedup.verifyJaccard(cand, staticDocs, w, threshold)
          .write.mode("append").parquet(outDir)
      }
      .start()
}
