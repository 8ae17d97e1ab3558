package graft.ops

import graft.functions.GraftExtensions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXT1/EXT2 — deduplication operators for LLM-training-data pipelines:
  * exact dedup, n-gram Jaccard near-dup (exact), MinHash + banded-LSH
  * near-dup (the 100 TB scale path), and SimHash signatures.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is a
  * hash-shuffle on the key; Jaccard candidates come from an inverted-index
  * join on shared shingles (only pairs sharing ≥1 shingle meet); LSH
  * candidates come from band-bucket joins (only pairs colliding in ≥1 of
  * the 16 bands meet), after which the exact Jaccard is recomputed on the
  * candidate set only. All shuffles are keyed on shingle/bucket — no
  * crossJoin anywhere.
  */
object Dedup {

  /** EXT1 — exact dedup, keep-first-by-ordering: one row per key, the one
    * with the smallest (orderCol, tieCol). Implemented as a min-struct
    * aggregate (struct comparison is lexicographic), NOT the classic
    * `row_number() = 1` window: the aggregate combines map-side, so the
    * shuffle carries one row per key per mapper and nothing is sorted —
    * the window form shuffles and sorts every row. Same result (the
    * ext1 oracle is the ROW_NUMBER formulation and hash-matches).
    *
    * CONTRACT — (orderCol, tieCol) must be NON-NULL and UNIQUE within
    * each key group. The min-struct packs the remaining payload columns
    * after the ordering pair, so a duplicated (orderCol, tieCol) would
    * let payload values pick the winner (a ROW_NUMBER oracle picks a
    * stable-arbitrary row instead), and a NULL orderCol sorts FIRST in
    * Spark struct comparison but LAST under SQL's default NULLS LAST —
    * either violation silently flips survivors vs the oracle. Use a
    * unique id (event/session id) as `tieCol` to satisfy this by
    * construction, as every call site here does. */
  def keepFirst(df: DataFrame, keys: Seq[String], orderCol: String, tieCol: String): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    val packedFields =
      Seq(orderCol, tieCol) ++ others.filterNot(c => c == orderCol || c == tieCol)
    val packed = struct(packedFields.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(min(packed).as("__first"))
      .select(keys.map(col) ++ others.map(c => col(s"__first.$c").as(c)): _*)
  }

  /** Exact Jaccard of each candidate pair (doc_a, doc_b): both texts are
    * joined onto the pair and `graft_shingle_jaccard` compares their
    * distinct w-token shingle sets in one expression, then the ratio is
    * thresholded and 4-dp rounded like [[jaccardFromCounts]].
    *
    * Cost shape: two keyed joins of the candidate pairs (bounded by true
    * near-dups plus LSH false positives) against `docs`, and a per-pair
    * kernel linear in the two documents. Nothing is shuffled by shingle,
    * nothing is persisted, and `pairs` is consumed once, so its upstream
    * plan (signatures + band join) is analyzed and run once. No
    * broadcast hints: AQE broadcasts the small side whenever it is small;
    * on a dup-heavy corpus where it is not, a forced broadcast would blow
    * the driver. A candidate pair that shares no shingle gets Jaccard 0,
    * so only a threshold ≤ 0 can keep it. */
  private[graft] def verifyJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      w: Int,
      threshold: Double): DataFrame =
    pairs.select("doc_a", "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("__ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("__tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        GraftExtensions.shingleJaccard(
          TextOps.tokens(col("__ta")), TextOps.tokens(col("__tb")), lit(w)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), graft.Num.rnd(col("jaccard"), 4).as("jaccard"))

  /** The Jaccard formula tail of the exact inverted-index paths:
    * |∩| / (|A|+|B|−|∩|) from a per-pair common-shingle count and per-doc
    * sizes, thresholded and 4-dp rounded. The LSH re-verification
    * ([[verifyJaccard]]) computes the same ratio per pair with
    * `graft_shingle_jaccard` — the same long counts, the same double
    * division — and MinHashKernelSpec pins the two equal on every
    * [[jaccardPairs]] pair: the ext2_minhash_lsh oracle (LSH vs exact
    * ground truth) is only meaningful while both compute the identical
    * ratio. */
  private def jaccardFromCounts(
      common: DataFrame,
      sizes: DataFrame,
      threshold: Double): DataFrame =
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), graft.Num.rnd(col("jaccard"), 4).as("jaccard"))

  /** EXT2a — exact n-gram Jaccard near-dup pairs via an inverted-index
    * self-join on shingles: shingle rows → join on the shingle → count
    * common shingles per pair → Jaccard = |∩| / (|A|+|B|−|∩|). Returns
    * (doc_a, doc_b, jaccard) for pairs ≥ `threshold`, doc_a < doc_b. */
  def jaccardPairs(docs: DataFrame, w: Int = 3, threshold: Double = 0.5): DataFrame = {
    // The inverted index feeds three consumers (two join sides + the size
    // aggregate); persist it so tokenize+shingle runs once. This is the
    // exact GROUND-TRUTH path — inherently Σ_s d_s² in the join and only
    // sane at modest corpus sizes, where a serialized spill-able cache of
    // the index is cheap; the scale path (minhashLshPairs) never
    // materializes the full index more than once per pass.
    val inv = TextOps.shingleRows(docs, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = inv.alias("a")
      .join(inv.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    jaccardFromCounts(common, sizes, threshold)
  }

  /** EXACT n-gram Jaccard pairs with PREFIX FILTERING (SSJoin/PPJoin
    * family — Chaudhuri et al. 2006, Xiao et al. 2008): identical output
    * to [[jaccardPairs]], radically smaller candidate join. Under a
    * GLOBAL shingle order (document frequency ascending — rarest first),
    * any pair with Jaccard ≥ t must share a shingle inside BOTH docs'
    * prefixes of length |S| − ⌈t·|S|⌉ + 1: if all of A's ≥⌈t·|A|⌉
    * common shingles sat outside A's prefix, the suffix (⌈t·|A|⌉ − 1
    * slots) could not hold them. So only PREFIX shingles enter the
    * inverted-index self-join — and because the global order is df
    * ascending, the high-df shingles that drive the naive join's Σ_s d_s²
    * blow-up are exactly the ones prefixes exclude. Candidates are then
    * verified with an exact common-count against the FULL index.
    *
    * Scale shape: the quadratic term rides on prefix-shingle df only,
    * and verification is candidate-keyed — two equi-joins and a pair
    * groupBy, linear in Σ_cand |A|. On a REAL (Zipfian) vocabulary most
    * shingles are rare, prefixes are near-unique, and this is the form
    * that keeps the exact lane viable well past where the naive join
    * goes quadratic — which is exactly why the technique is standard in
    * the similarity-join literature.
    *
    * MEASURED HONESTY — why the registered fixture lane does NOT use
    * this path: the synthetic 31-word vocabulary gives EVERY shingle
    * df ≈ 100 at sf0.1 (median 95, max 145 at sf1 — no df skew at all),
    * so the prefix keeps ~half of each doc's shingles, prunes the join
    * by only ~2.3×, and the per-candidate verification joins then cost
    * more than they save: 5.6 s vs 0.9 s naive at sf0.1. Prefix
    * filtering buys nothing without rare shingles; on uniform-df data
    * the exact lane is inherently Σ df² and the scale answer is
    * [[minhashLshPairs]], not a smarter exact join. Equivalence to
    * [[jaccardPairs]] (any threshold) is pinned in DedupSimilaritySpec.
    *
    * The ⌈t·n⌉ is computed with a 1e-9 downward bias so float noise can
    * only ENLARGE the prefix (more candidates — still exact), never
    * shrink it (missed pairs). */
  def jaccardPairsPrefix(docs: DataFrame, w: Int = 3, threshold: Double = 0.5): DataFrame = {
    val inv = TextOps.shingleRows(docs, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = inv.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("df"))
    // Global order (df asc, shingle asc): rank each doc's shingles and
    // keep the prefix. Window keys by doc_id — the same keyed exchange
    // the naive path's distinct already pays.
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    val prefix = inv
      .join(dfreq, "shingle")
      .join(sizes, "doc_id")
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <=
        col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + lit(1))
      .select("doc_id", "shingle")
    val candidates = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Exact verification: count common shingles per candidate pair via
    // two equi-joins against the full index (one row per common shingle).
    val common = candidates
      .join(inv.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(inv.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"))
    jaccardFromCounts(common, sizes, threshold)
  }

  /** Hot-bucket guard shared by the banded-LSH joins: a (band_id,
    * band_key) bucket holding B docs emits O(B²) candidate pairs from the
    * self-join, so one boilerplate-heavy bucket (a signature collision
    * across a huge fraction of the corpus) turns the whole job quadratic.
    * Buckets larger than `maxBucket` are dropped BEFORE the self-join.
    * Recall note: a genuine near-dup pair inside a dropped bucket is only
    * lost if ALL of its colliding bands are oversized — for boilerplate
    * collisions the other bands still differ, and exact duplicates should
    * be removed by [[keepFirst]]/CorpusClean before LSH anyway. Dropped
    * buckets are observable via [[oversizedBuckets]] — run it when the
    * guard may have fired; the pair operators stay lazy so they cannot
    * log from inside the plan.
    *
    * Plan shape: the bucket count is a window over exactly the self-join
    * keys, so the sort/exchange it needs is the one the sort-merge join
    * needs anyway, and the two aliases of the guarded frame share one
    * exchange (ReusedExchange). */
  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy("band_id", "band_key")))
      .filter(col("__bucket_n") <= maxBucket)
      .drop("__bucket_n")

  /** Diagnostic twin of the guard in [[minhashLshPairs]]: the (band_id,
    * band_key, bucket_n) buckets that exceed `maxBucket` and were
    * therefore excluded from candidate generation. Empty ⇒ the guard
    * changed nothing. */
  def oversizedBuckets(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val b = if (bands > 0) bands else bandingFor(k, threshold)
    bandedSignatures(docs, w, k, b)
      .groupBy("band_id", "band_key")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
  }

  /** 1 000 docs/bucket ⇒ ≤ ~500 k candidate pairs per bucket — bounded
    * work per task; far above any honest near-dup cluster size once exact
    * dups are removed. */
  val DefaultMaxBucket: Int = 1000

  /** Cheapest banding of k MinHashes whose candidate recall at the
    * requested Jaccard threshold is ≥ 0.99. Banded-LSH recall for a pair
    * at similarity j is 1 − (1 − j^r)^(k/r) (r = rows/band): more rows
    * per band ⇒ fewer, more selective candidates but lower recall at low
    * j. This picks the LARGEST r (fewest candidates) still clearing 0.99
    * at j = threshold — e.g. k=64: threshold 0.5 → 32 bands × 2 rows,
    * 0.7 → 32×2, 0.8 → 16×4, 0.9 → 16×4. A fixed 16×4 banding at
    * threshold 0.5 would silently cap recall at ~0.64 — false NEGATIVES,
    * which the exact re-verification cannot repair. */
  private[graft] def bandingFor(k: Int, threshold: Double): Int = {
    val rowsPerBand = (1 to k).filter(k % _ == 0).reverse
      .find { r =>
        1.0 - math.pow(1.0 - math.pow(threshold, r.toDouble), (k / r).toDouble) >= 0.99
      }
      .getOrElse(1)
    k / rowsPerBand
  }

  /** (doc_id, sig, band_id, band_key) rows, one per (doc, band): `sig`
    * is the k-entry MinHash signature of the doc's w-token shingles
    * (`graft_minhash`) and band_key hashes the band's slice of it
    * (`graft_minhash_bands`) — one projection and a posexplode, no
    * shuffle, usable on a streaming frame as well (StreamingNearDup
    * keeps `sig` in its bucket state). Docs shorter than `w` tokens get
    * a NULL signature and so no rows. The batch callers select the band
    * columns right away, so neither `sig` nor the text rides through the
    * band join; the texts are joined back onto the much smaller
    * candidate-pair set instead. */
  private[graft] def bandedSignatures(docs: DataFrame, w: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands $bands must divide k $k")
    docs
      .select(col("doc_id"),
        GraftExtensions.minhash(TextOps.tokens(col("text")), lit(w), lit(k)).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(GraftExtensions.minhashBands(col("sig"), lit(k / bands)))
          .as(Seq("band_id", "band_key")))
  }

  /** EXT2b — MinHash + banded LSH near-dup (the scale path). k=64 hashes
    * banded per [[bandingFor]] (derived from `threshold` so candidate
    * recall stays ≥ 0.99 at the threshold — pass `bands` > 0 to override);
    * docs colliding on any band's row-hash become candidates; candidates
    * are re-verified with the exact Jaccard, so false POSITIVES cost
    * time, never correctness (false negatives are what the banding rule
    * bounds). Returns the same shape as [[jaccardPairs]]; at the derived
    * banding the two agree on pairs at or above the threshold with
    * ≥ 0.99 probability per pair (the oracle compares against the exact
    * ground truth and so measures exactly this). Buckets larger than
    * `maxBucket` are dropped (see [[capBuckets]]).
    *
    * `minBandMatches`: how many bands a pair must collide in before it
    * becomes a candidate. Default 1 is classic banded LSH. Raising it to
    * 2 is the standard precision knob for vocabularies with little df
    * skew, where single-band background collisions stop being rare: the
    * background candidate rate falls QUADRATICALLY (P ≈ C(b,2)·(j²)²
    * instead of b·j²) while true-pair recall at the threshold barely
    * moves (k=64/b=32/t=0.5: 0.9999 → 0.9988, still above the 0.99
    * banding floor). Measured at a 500 k-doc scale-up of the uniform-df
    * fixture (sf10): m=1 produces ~17 M false candidates purely from
    * chance band collisions and the exact re-verify becomes a
    * disk-bound 40 GB+ shuffle; m=2 suppresses them by ~4 orders. BOTH
    * configurations are registered under the same exact-Jaccard oracle:
    * `ext2_minhash_lsh` keeps m=1 (the structural recall floor) and
    * `ext2_minhash_lsh_guarded` runs m=2 — the scale-safe default a
    * 100 TB deployment would use, kept under continuous verification
    * precisely because the century run proved m=1 collapses there. */
  def minhashLshPairs(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 64,
      bands: Int = 0,
      threshold: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket,
      minBandMatches: Int = 1): DataFrame = {
    require(minBandMatches >= 1)
    val b = if (bands > 0) bands else bandingFor(k, threshold)
    val banded = capBuckets(
      bandedSignatures(docs, w, k, b).select("doc_id", "band_id", "band_key"), maxBucket)
    val collisions = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val candidates =
      if (minBandMatches == 1) collisions.dropDuplicates("doc_a", "doc_b")
      else collisions.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__bands"))
        .filter(col("__bands") >= minBandMatches).drop("__bands")
    // Exact re-verification on the (tiny) candidate set. The candidates
    // are localCheckpoint-ed (lazily: the verifying job fills the blocks)
    // so the verification and every downstream plan start from a scan of
    // them instead of embedding the signature/band-join plan, which AQE
    // would otherwise re-print at every re-plan of every consumer.
    verifyJaccard(candidates.localCheckpoint(false), docs, w, threshold)
  }

  /** EXT39 — FUZZY dedup: MinHash-LSH candidates verified by EDIT
    * DISTANCE instead of (only) Jaccard — the BigCode/StarCoder-style
    * near-dedup shape. Shingle Jaccard compares token SETS, so it
    * forgives rearrangements: a document whose halves were swapped
    * shares almost every 3-shingle with the original (only the seam
    * shingles change) yet reads in a different order — edit distance
    * sees the move and rejects it, while a true near-copy (a handful
    * of token edits) passes both gates. Returns (doc_a, doc_b,
    * edit_dist) for candidate pairs at shingle-Jaccard ≥
    * `candidateJaccard` whose character edit distance is ≤ `maxEdits`.
    *
    * Plan shape: candidates come from the banded, hot-bucket-capped
    * LSH join ([[minhashLshPairs]] — never all-pairs) under the
    * SCALE-SAFE m-of-b banding (minBandMatches = 2 by default — the
    * sf10-surviving configuration; m = 1's single-band background
    * collisions spilled >70 GB at the round-8 century), two keyed
    * joins pull the texts back, and `levenshtein` (a codegen'd
    * built-in) verifies — O(L²) per CANDIDATE, linear in candidates.
    * The quadratic all-pairs levenshtein lives in the oracle only. */
  def editNearDupPairs(
      docs: DataFrame,
      w: Int = 3,
      k: Int = 64,
      candidateJaccard: Double = 0.5,
      maxEdits: Long = 5L,
      minBandMatches: Int = 2): DataFrame =
    minhashLshPairs(docs, w, k, threshold = candidateJaccard,
      minBandMatches = minBandMatches)
      .select("doc_a", "doc_b")
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("__ta")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("__tb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxEdits)

  /** EXT20 — benchmark decontamination: which eval-set documents leak into
    * the training corpus? For every (train doc, eval doc) pair sharing
    * w-token shingles, reports `overlap` = |shingles(eval) ∩
    * shingles(train)| / |shingles(eval)| — CONTAINMENT of the eval doc in
    * the train doc, not Jaccard: a 50-token eval question buried inside a
    * 5 000-token train page has tiny Jaccard but is still fully leaked,
    * and containment is what the published decontamination procedures
    * (n-gram overlap against the eval sets) measure. Pairs at or above
    * `minOverlap` are returned as (eval_doc, train_doc, overlap).
    *
    * Scale shape — deliberately NOT MinHash-LSH: MinHash collision
    * probability tracks Jaccard, so it systematically misses exactly the
    * asymmetric small-eval-in-big-train containments this operator exists
    * to find. Instead: eval sets are small and bounded (thousands of
    * docs) while the train corpus is the 100 TB side, so the eval shingle
    * index is built once (and is broadcast-sized in practice), the train
    * corpus is shingled in a single streaming pass, and the only shuffle
    * of train-scale data is the keyed semi-join+count on the shingle.
    * Nothing self-joins; no all-pairs anywhere.
    *
    * `maxTrainDf` (0 = off) drops shingles appearing in more than that
    * many TRAIN documents before the join — the standard boilerplate
    * guard: a header shingle shared by millions of train pages would fan
    * the join out ×df without indicating leakage. Capping can only lower
    * measured overlap, and only for n-grams too common to identify a
    * document. The guard's own plan must not recreate the skew it
    * removes, so it is NOT a count-over-shingle window (that shuffles
    * every raw row of the hottest shingle into one task): doc
    * frequencies come from a map-side-combined groupBy (one row per
    * shingle per mapper crosses the wire), the over-cap shingles become
    * a small exclusion list (≤ rows/cap entries by pigeonhole, and
    * boilerplate df is zipfian so in practice far fewer), and the train
    * side anti-joins against it — AQE sees the runtime size and turns
    * the anti-join into a broadcast. The registered ext20 lanes run
    * with the cap ENGAGED (chosen above the fixtures' max train df, so
    * the DuckDB oracle stays exact); the planted-boilerplate case is
    * DedupSimilaritySpec's hot-shingle test. */
  def decontamPairs(
      train: DataFrame,
      eval: DataFrame,
      w: Int = 3,
      minOverlap: Double = 0.5,
      maxTrainDf: Long = 0L): DataFrame = {
    // Eval index feeds two consumers (the join and the size aggregate);
    // persist so the small side shingles once.
    val invE = TextOps.shingleRows(eval, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEval = invE.groupBy("doc_id").agg(count(lit(1)).as("n_eval"))
    val invT0 = TextOps.shingleRows(train, w)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val guarded =
      if (maxTrainDf <= 0L) invT0
      else {
        // the guard makes the train shingle set a TWO-consumer lineage
        // (the df aggregate and the anti-join left side) — persist it so
        // the corpus shingles once, the same multi-consumer rule the
        // cleaning lanes follow (round-3 fix). MEMORY_AND_DISK: at lake
        // scale this spills rather than recomputing two full corpus
        // passes, which is the cheaper side of the trade for a
        // shingle-sized projection of the corpus.
        val invT = invT0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = invT
          .groupBy("shingle")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxTrainDf)
          .select("shingle")
        invT.join(hot, Seq("shingle"), "left_anti")
      }
    val common = guarded
      .join(invE.select(col("doc_id").as("eval_doc"), col("shingle")), "shingle")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("common"))
    common
      .join(nEval.select(col("doc_id").as("eval_doc"), col("n_eval")), "eval_doc")
      .withColumn("overlap", col("common").cast("double") / col("n_eval").cast("double"))
      .filter(col("overlap") >= minOverlap)
      .select(col("eval_doc"), col("train_doc"), graft.Num.rnd(col("overlap"), 4).as("overlap"))
  }

  /** Distributed Bloom-filter build over one string column: k seeded
    * xxhash64 bit positions per value, OR-combined into 64-bit blocks by
    * a map-side-combinable `bit_or` aggregate, collected as ONE array of
    * `numBits / 64` longs. The collect is MODEL-bounded — the filter's
    * own size (e.g. 2²² bits = 512 KiB), never the data — the same
    * contract as the k-means/PQ training collects. Intended use: build
    * over the SMALL side of an asymmetric join, broadcast (a `lit`
    * array literal is one object in the plan), probe with
    * [[mightContain]] on the large side BEFORE its shuffle. */
  def bloomBuild(values: DataFrame, valueCol: String, numBits: Int, numHashes: Int): Array[Long] = {
    require(numBits >= 64 && numBits % 64 == 0, s"numBits must be a positive multiple of 64: $numBits")
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    val pos = (0 until numHashes).map(i => pmod(xxhash64(lit(i), col(valueCol)), lit(numBits.toLong)))
    val blocks = values
      .select(explode(array(pos: _*)).as("__pos"))
      .select((col("__pos") / 64L).cast("long").as("__block"),
        call_function("shiftleft", lit(1L), pmod(col("__pos"), lit(64L)).cast("int")).as("__mask"))
      .groupBy("__block")
      .agg(bit_or(col("__mask")).as("__bits"))
      .collect()
    val arr = new Array[Long](numBits / 64)
    blocks.foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Membership probe against a [[bloomBuild]] filter: true iff all k
    * seeded bit positions are set. Pure built-in Column arithmetic
    * (xxhash64 / element_at on an array LITERAL / bitwise and) — stays
    * inside whole-stage codegen, no UDF, no custom Expression. May
    * return false positives (rate ≈ (1 − e^(−kn/m))^k), NEVER false
    * negatives — the law the ext45 lane pins cross-engine. */
  def mightContain(blocks: Array[Long], numHashes: Int, value: Column): Column = {
    val numBits = blocks.length * 64L
    val blocksLit = lit(blocks)
    (0 until numHashes)
      .map { i =>
        val p = pmod(xxhash64(lit(i), value), lit(numBits))
        (element_at(blocksLit, ((p / 64L).cast("long") + 1L).cast("int"))
          .bitwiseAND(call_function("shiftleft", lit(1L), pmod(p, lit(64L)).cast("int")))) =!= 0L
      }
      .reduce(_ && _)
  }

  /** EXT45 — [[decontamPairs]] with a broadcast-Bloom train-side
    * prefilter: the eval corpus's shingle set (the SMALL side — a
    * benchmark suite, not the lake) is compressed into a fixed-size
    * Bloom filter on the driver, and every train shingle is probed
    * AGAINST THE FILTER BEFORE THE SHUFFLE — only shingles that might
    * appear in some eval doc cross the wire. At 100 TB this is the
    * difference between shuffling the full train shingle projection
    * (∝ corpus) and shuffling its eval-overlapping sliver (∝ leakage,
    * typically ≪ 1%), for a fixed broadcast of numBits/8 bytes.
    *
    * The result is EXACTLY [[decontamPairs]]' result, proven by the
    * registered lane hash-matching ext20's exact-intersection oracle:
    * Bloom false negatives cannot occur (a shared shingle always passes
    * its own bits), and a false positive merely lets through a train
    * shingle that then finds no eval partner in the equi-join —
    * intersection counts and the eval-side denominator are untouched.
    * The df guard still runs FIRST (on the unfiltered train side): its
    * cap semantics are defined against true corpus doc-frequencies,
    * and boilerplate that overlaps eval must stay capped. */
  def decontamPairsBloom(
      train: DataFrame,
      eval: DataFrame,
      w: Int = 3,
      minOverlap: Double = 0.5,
      maxTrainDf: Long = 0L,
      numBits: Int = 1 << 20,
      numHashes: Int = 5): DataFrame = {
    val invE = TextOps.shingleRows(eval, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEval = invE.groupBy("doc_id").agg(count(lit(1)).as("n_eval"))
    val bloom = bloomBuild(invE, "shingle", numBits, numHashes)
    val invT0 = TextOps.shingleRows(train, w)
      .select(col("doc_id").as("train_doc"), col("shingle"))
    val guarded =
      if (maxTrainDf <= 0L) invT0
      else {
        val invT = invT0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hot = invT
          .groupBy("shingle")
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxTrainDf)
          .select("shingle")
        invT.join(hot, Seq("shingle"), "left_anti")
      }
    val common = guarded
      .filter(mightContain(bloom, numHashes, col("shingle")))
      .join(invE.select(col("doc_id").as("eval_doc"), col("shingle")), "shingle")
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("common"))
    common
      .join(nEval.select(col("doc_id").as("eval_doc"), col("n_eval")), "eval_doc")
      .withColumn("overlap", col("common").cast("double") / col("n_eval").cast("double"))
      .filter(col("overlap") >= minOverlap)
      .select(col("eval_doc"), col("train_doc"), graft.Num.rnd(col("overlap"), 4).as("overlap"))
  }

  /** EXT49 — N-GRAM NOVELTY against a reference corpus: for each eval
    * document, the fraction of its distinct w-gram shingles that appear
    * NOWHERE in the reference corpus — the "how much of this is new
    * text" signal (the document-level complement of the memorized-
    * continuation metrics in Lee et al. 2022): novelty 0 is a verbatim
    * re-read, novelty 1 is entirely unseen text. Deduplication asks
    * "which pairs overlap"; mixing asks "how much does this SOURCE add"
    * — this is the latter, and unlike [[decontamPairs]] it needs no
    * per-pair join: the reference collapses to its DISTINCT global
    * shingle set (map-side-combined, vocabulary-of-shingles-sized) and
    * eval shingles LEFT-SEMI/ANTI against it, one keyed join per doc
    * shingle. At lake scale the same [[mightContain]] Bloom probe
    * prefilters the reference join (overcounting seen-ness only by the
    * fp rate); the registered lane is the exact form. */
  def noveltyScores(
      reference: DataFrame,
      eval: DataFrame,
      w: Int = 3): DataFrame = {
    val refSet = TextOps.shingleRows(reference, w).select("shingle").distinct()
    val invE = TextOps.shingleRows(eval, w)
    val seen = invE.join(refSet, Seq("shingle"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    invE.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        graft.Num.rnd(
          (col("n_grams") - coalesce(col("n_seen"), lit(0L))).cast("double") /
            col("n_grams").cast("double"), 4).as("novelty"))
  }

  /** Per-eval-doc rollup of [[decontamPairs]]: how many train docs
    * contaminate each eval doc, and how badly. The "can I trust this
    * benchmark" view — an eval doc with any row here needs excluding (or
    * its train twins need dropping) before the score means anything. */
  def decontamReport(
      train: DataFrame,
      eval: DataFrame,
      w: Int = 3,
      minOverlap: Double = 0.5,
      maxTrainDf: Long = 0L): DataFrame =
    decontamPairs(train, eval, w, minOverlap, maxTrainDf)
      .groupBy("eval_doc")
      .agg(count(lit(1)).as("n_train_docs"), max("overlap").as("max_overlap"))

  /** EXT46 — LINE-LEVEL dedup (the RefinedWeb / Falcon curation pass,
    * Penedo et al. 2023 §3: drop LINES duplicated across many
    * documents — navigation menus, cookie banners, like-counters —
    * while keeping the documents themselves): a line whose distinct-
    * document frequency reaches `maxDf` is removed from EVERY document,
    * and each document is reassembled from its surviving lines in
    * original order. This is the intra-document complement of
    * [[SpanDedup]]: span dedup trims a copied RUN between two specific
    * docs; line dedup kills corpus-wide boilerplate wherever it
    * appears.
    *
    * THE SEGMENTATION SEAM: `seg: Column => Column` maps the text
    * column to its array of lines — `split(text, "\n")` on a real
    * corpus; the registered lane uses aligned fixed-width token windows
    * because the fixture is newline-free (the oracle replays the same
    * segmentation). `joinSep` is the reassembly separator. One row per
    * INPUT doc always comes back (a fully-boilerplate doc returns
    * empty text, `n_lines_removed` = `n_lines`) — dropping empties is
    * the caller's policy, not the operator's.
    *
    * Shape: one posexplode per doc; the df table is a two-level keyed
    * aggregate ((line, doc_id) distinct → per-line count, both
    * map-side combinable — never a count-distinct shuffle of raw
    * occurrence rows); boilerplate removal is a left-anti join against
    * the (small, zipfian) over-threshold line list, which AQE
    * broadcasts; reassembly is array_sort over a per-doc collect_list
    * of (line_no, line) structs — grouped by doc_id, so the sort is
    * per-document in the aggregate buffer, NOT a window or global
    * sort. */
  def lineDedup(
      docs: DataFrame,
      maxDf: Long = 2L,
      seg: Column => Column = split(_, "\n"),
      joinSep: String = "\n"): DataFrame = {
    require(maxDf >= 2L, s"maxDf < 2 would remove every line: $maxDf")
    val lines = docs
      .select(col("doc_id"), posexplode(seg(col("text"))).as(Seq("line_no", "line")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = lines
      .select("line", "doc_id").distinct()
      .groupBy("line").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= maxDf)
      .select("line")
    val kept = lines.join(hot, Seq("line"), "left_anti")
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__n_kept"),
        array_sort(collect_list(struct(col("line_no"), col("line")))).as("__ls"))
      .select(col("doc_id"), col("__n_kept"),
        array_join(transform(col("__ls"), s => s.getField("line")), joinSep).as("__text"))
    docs
      .select(col("doc_id"), size(seg(col("text"))).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__text"), lit("")).as("text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__n_kept"), lit(0L))).as("n_lines_removed"))
  }

  /** EXT2e — connected components over an undirected near-dup pair graph
    * (doc_a, doc_b): returns (doc_id, component) for every doc appearing
    * in ≥ 1 pair, where component = the smallest doc_id transitively
    * reachable. This is the canonical dedup-clustering step: greedy
    * pairwise dropping (CorpusClean.clean) over-removes on transitive
    * chains (b removes c even though a already removed b); clustering
    * keeps exactly one representative — the min id — per group of
    * transitively connected near-dups.
    *
    * Algorithm: min-label propagation with ADAPTIVE POINTER DOUBLING.
    * Every round each node takes the min of its own and its neighbors'
    * labels; from round `doubleFrom` on, also its label's label
    * (component ← label(component), the path-compression step that
    * jumps a chain in half each round), making convergence O(log
    * diameter) instead of O(diameter) on deep chains. The doubling
    * self-join is NOT run in the first rounds: near-dup cluster graphs
    * are overwhelmingly diameter ≤ 2 (pairs and small cliques), which
    * plain propagation finishes in 2 rounds — paying an extra shuffle
    * stage per round to halve "2 rounds" is a net loss (measured ~4×
    * on the components phase at sf0.1; this regressed BENCH_r03's
    * ext7_clean_clustered). A graph still unconverged after
    * `doubleFrom` rounds has real chains, and doubling kicks in with
    * its asymptotic win intact — a 1000-hop chain still settles in ~12
    * total rounds. The doubling step is safe because a node's label is
    * always a member of its own component and labels only decrease —
    * the fixpoint is still exactly the component minimum. Each round
    * is one keyed join plus a map-side-combined min aggregate (two
    * once doubling engages; all shuffles on id-sized keys), and each
    * round's labels are localCheckpoint-ed so the plan does not double
    * per iteration (the classic Spark iterative-lineage bug).
    * Driver-side work per round is ONE scalar count (the convergence
    * check), never the data. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30, doubleFrom: Int = 2): DataFrame = {
    // LAZY localCheckpoints throughout (r17): every round ends in a
    // convergence count() — the blocking action that materializes the
    // lazily-marked RDD and caches its blocks in the same job, so the
    // eager variant's dedicated materialization job per frame is pure
    // overhead (one extra scheduled job per round, k+2 per run). Nothing
    // is unpersisted before the final labels frame is consumed, so the
    // truncated-lineage-recompute hazard of lazy checkpoints never
    // arises here (contrast GraphOps.trianglesCanonical, which must stay
    // eager because it unpersists its inputs before returning).
    // r18 measurement note: `repartition(dst).persist()` instead of the
    // checkpoint (the GraphOps.pageRank layout rule — would let every
    // round's join reuse one exchange) was tried and REVERTED: persist
    // does not TRUNCATE the logical plan, so each round re-planned the
    // whole upstream pairs pipeline (banded-LSH lanes carry hundreds of
    // hash expressions) and ext7_clean_clustered read 2.98 → 4.72 s
    // (+58%) same-window with flat controls. The checkpoint's plan
    // truncation is load-bearing for iterated consumers of deep
    // pipelines; the per-round edge re-exchange is the price.
    // both orientations from ONE scan of `pairs`: a union would analyze
    // and plan the whole upstream pairs pipeline twice
    val edges = pairs
      .select(inline(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))))
      .localCheckpoint(false)
    // init already needs one shuffle to enumerate nodes; fold round 0's
    // propagation into it for free (component = min(self, neighbors)) —
    // pure pair components (the dominant case) then converge with a
    // single confirming loop round
    var labels = edges
      .groupBy(col("src").as("doc_id"))
      .agg(min("dst").as("__nbr"))
      .select(col("doc_id"), least(col("doc_id"), col("__nbr")).as("component"))
      .localCheckpoint(false)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // SHUFFLE_HASH on the node-scale labels side (r18, guide §3.1):
      // without it the planner falls back to SortMergeJoin against the
      // unsized checkpointed labels and sorts the edge frame per round.
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("component").as("nbr"))
          .hint("SHUFFLE_HASH"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("nbr").as("nbr_min"))
      // `old` rides along so the convergence check is a filter on the
      // checkpointed frame, not another join
      val stepped = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("component").as("old"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
      // pointer doubling: component ← label(component); every label value
      // is itself a node id, so the lookup is a self-join on the frame.
      // Skipped in the first `doubleFrom` rounds — see scaladoc.
      val doubled =
        if (iter < doubleFrom) stepped
        else stepped
          .join(
            stepped.select(col("doc_id").as("component"), col("component").as("parent")),
            Seq("component"), "left")
          .select(
            col("doc_id"),
            col("old"),
            least(col("component"), coalesce(col("parent"), col("component"))).as("component"))
      val next = doubled.localCheckpoint(false)
      // this count materializes (and caches) `next` — the round's one job
      changed = next.filter(col("component") =!= col("old")).count()
      labels = next.select("doc_id", "component")
      iter += 1
    }
    // Unconverged labels are WRONG labels (a node mid-chain can still
    // carry component == doc_id without being the true min), and the
    // one-survivor-per-component guarantee of cleanClustered rests on
    // convergence — fail loudly rather than return them.
    require(changed == 0L,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still improving) — with pointer doubling this " +
        s"means diameter > ~2^$maxIter; raise maxIter")
    labels
  }

  /** EXT2c — 64-bit SimHash over distinct tokens: bit b of the signature is
    * the sign of Σ_tokens (2·bit_b(hash64(token)) − 1). Hamming-close
    * signatures ⇒ similar token sets. Signature only (pairing uses the
    * same band-join as LSH, [[simhashPairs]]).
    *
    * The token hash is PORTABLE by construction: bit b of hash64(tok) is
    * bit (b mod 4) of the (b/4+1)-th hex nibble of the standard MD5 of
    * the token — derivable in any engine with `md5` + ascii arithmetic,
    * so the full signature (and therefore the pair set) is replayable by
    * the DuckDB oracle and auditable across engines. xxhash64 would be
    * ~3× cheaper per token but locks the signature format to Spark;
    * fingerprints that downstream systems must reproduce are worth the
    * one-md5-per-distinct-token cost (cf. the same portability rule in
    * Curation.shuffleHash).
    *
    * EXT2c-pairs — SimHash near-dup pairs at scale: split the 64-bit
    * signature into `bands` chunks; two signatures within `maxHamming`
    * bits must agree on at least one chunk whenever maxHamming < bands
    * (pigeonhole), so the band-bucket join has guaranteed recall;
    * candidates are then filtered by exact Hamming distance (bit_count of
    * xor). Same no-all-pairs shape as MinHash LSH. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandedHammingPairs(
      simhash(docs), idCol = "doc_id", sigCol = "simhash",
      maxHamming = maxHamming, bands = bands, maxBucket = maxBucket,
      outA = "doc_a", outB = "doc_b")

  /** The banded hamming join shared by every 64-bit-signature near-dup
    * path (SimHash here, the perceptual media hash in
    * [[Multimodal.mediaNearDup]]): split the signature into `bands`
    * chunks, bucket-join on (band_id, band_key) — pairs within
    * `maxHamming` bits must agree on ≥1 chunk when maxHamming < bands
    * (pigeonhole) — then filter candidates by exact Hamming distance.
    * Same no-all-pairs shape as MinHash LSH, same hot-bucket guard
    * ([[capBuckets]]; recall holds only for pairs whose agreeing band's
    * bucket survives the cap). */
  private[ops] def bandedHammingPairs(
      sig: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bands: Int,
      maxBucket: Int,
      outA: String,
      outB: String): DataFrame = {
    require(maxHamming < bands, "pigeonhole recall needs maxHamming < bands")
    val width = 64 / bands
    // JVM shift semantics: (1L << 64) wraps to 1, so a single 64-bit band
    // would mask to 0 and funnel every doc into one bucket
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val banded = capBuckets(
      sig.select(
        col(idCol),
        col(sigCol),
        explode(array((0 until bands).map { b =>
          struct(
            lit(b).as("band_id"),
            shiftrightunsigned(col(sigCol), b * width)
              .bitwiseAND(mask).as("band_key"))
        }: _*)).as("band"))
        .select(col(idCol), col(sigCol), col("band.band_id"), col("band.band_key")),
      maxBucket)
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band_id") === col("b.band_id") && col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(
        col(s"a.$idCol").as(outA), col(s"b.$idCol").as(outB),
        bit_count(col(s"a.$sigCol").bitwiseXOR(col(s"b.$sigCol"))).cast("long").as("hamming"))
      .dropDuplicates(outA, outB)
      .filter(col("hamming") <= maxHamming)
  }

  def simhash(docs: DataFrame): DataFrame = {
    // Same explode-and-aggregate shape as MinHash (codegen'd, map-side
    // combinable): per bit, sum of ±1 over distinct token hashes. The
    // 64 token-hash bits come from the first 16 hex nibbles of md5(tok)
    // (see the scaladoc): nibble value via ascii arithmetic — lowercase
    // hex in both Spark and DuckDB — then bit (b mod 4) by shift/mask.
    val toks = docs
      .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("tok"))
      .withColumn("hx", md5(col("tok")))
    def nibble(i: Int): Column = {
      val a = ascii(substring(col("hx"), i, 1))
      when(a >= 97, a - 87).otherwise(a - 48) // 'a'..'f' → 10..15, '0'..'9' → 0..9
    }
    val bitSums = (0 until 64).map { b =>
      val bit = shiftright(nibble(b / 4 + 1), b % 4).bitwiseAND(1)
      sum(when(bit === 1, 1L).otherwise(-1L)).as(s"s_$b")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64)
      .map(b => when(col(s"s_$b") > 0L, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash"))
  }
}
