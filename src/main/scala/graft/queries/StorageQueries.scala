package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{ChannelReport, IhcScorer, IncrementalReport, JourneyBuilder, Skew}
import graft.sources.{Compaction, GraftScan, GraftSqlParser, TxCatalog, TxStore}
import graft.streaming.{StreamingCdf, StreamingIngest}
import org.apache.spark.sql.functions._

/** Round-5 storage & physical-layout surface: text source/sink formats
  * beyond CSV/parquet (JSON lines, ORC), the small-file compactor, and the
  * explicit skew-salted join. Every query here is a full oracle row — the
  * sinks are verified by writing through the REAL writer, reading back
  * through the REAL reader, and hash-comparing the round-trip against the
  * source-of-truth SQL over the original table.
  */
object StorageQueries {

  /** Fixed path per (query, data dir, process) + overwrite mode: repeated
    * invocations within a process replace the artifact instead of
    * accumulating temp dirs; the data-dir suffix separates scale factors
    * and the PID separates CONCURRENT harness processes pointed at the
    * SAME data dir (driver bench vs verify), which would otherwise race
    * on one round-trip path — one overwriting while the other reads back.
    * String.hashCode collisions across dirs are covered by the PID too. */
  private val procToken = java.lang.ProcessHandle.current().pid()

  /** PID-suffixed paths stop concurrent processes racing, but they also
    * mean no later process ever reuses (= overwrites) this one's dirs —
    * without cleanup every bench/verify run would strand table-sized
    * copies in /tmp until the disk fills. One shutdown hook reaps
    * exactly the paths this process minted. */
  private val scratch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val children = f.listFiles()
        if (children != null) children.foreach(rm)
        f.delete(): Unit
      }
      scratch.forEach(p => rm(new java.io.File(p)))
    }))
  }

  private def tmp(name: String, dataDir: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft-$name-" +
      java.lang.Integer.toHexString(dataDir.hashCode) + s"-p$procToken"
    scratch.add(p)
    p
  }

  /** The identity readback oracle for an events subset. The µs
    * discipline: the fixture's ns timestamps are NOT µs-aligned and
    * DuckDB truncates TIMESTAMP(NANOS) to µs on read, so the comparable
    * column is `ts div 1000` ≡ `epoch_us(ts)` — the round-trip still
    * carries the full ns long through the sink and source; only the
    * COMPARISON truncates. */
  private def eventsSql(where: String): String =
    s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
       |FROM events$where""".stripMargin

  /** Spark twin of [[eventsSql]]'s projection, applied after readback. */
  private def eventsCols(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(col("event_id"), expr("ts div 1000").as("ts_us"),
      col("user_id"), col("event_type"), col("value"), col("props"))

  val all: Seq[QueryDef] = Seq(

    // ── S9 — JSON-lines sink + source round-trip. JSON is the one text
    //    format every labeling/annotation tool speaks, so the engine must
    //    round-trip it LOSSLESSLY: longs stay longs, doubles survive via
    //    shortest-roundtrip rendering (Jackson both ways), nulls are
    //    omitted-and-restored, and the `props` column — a JSON document
    //    already — survives as an escaped string, not re-parsed. The
    //    read side applies the explicit landing schema (never inference:
    //    on a 100 TB lake, schema inference is a full extra scan).
    QueryDef(
      "s9_json_roundtrip",
      (s, d) => {
        // fixed path + overwrite mode — see s3_csv_roundtrip
        val out = tmp("s9-json", d)
        Tables.events(s, d).filter(col("event_id") % 20 === 0)
          .write.mode("overwrite").json(out)
        eventsCols(s.read.schema(StreamingIngest.eventsSchema).json(out))
      },
      Some(eventsSql(" WHERE event_id % 20 = 0"))),

    // ── S10 — ORC sink + source round-trip: the second columnar format
    //    (Hive-ecosystem interchange). Binary-exact by construction —
    //    the round-trip proves the engine's type mapping, not the codec.
    QueryDef(
      "s10_orc_roundtrip",
      (s, d) => {
        val out = tmp("s10-orc", d)
        Tables.events(s, d).filter(col("event_id") % 20 === 1)
          .write.mode("overwrite").orc(out)
        // explicit landing schema, same discipline as s9: inference would
        // let writer-side type drift pass the round-trip silently re-typed
        eventsCols(s.read.schema(StreamingIngest.eventsSchema).orc(out))
      },
      Some(eventsSql(" WHERE event_id % 20 = 1"))),

    // ── S27 — XML sink + source round-trip (Spark 4's built-in XML
    //    data source — the enterprise-interchange format the round-5
    //    text trio left out). Same explicit-landing-schema discipline
    //    as s9/s10; `props` is a JSON STRING riding inside an XML
    //    element, so the trip also pins text escaping of nested quotes.
    QueryDef(
      "s27_xml_roundtrip",
      (s, d) => {
        val out = tmp("s27-xml", d)
        Tables.events(s, d).filter(col("event_id") % 20 === 2)
          .write.mode("overwrite").option("rowTag", "event").format("xml").save(out)
        eventsCols(s.read.schema(StreamingIngest.eventsSchema)
          .option("rowTag", "event").format("xml").load(out))
      },
      Some(eventsSql(" WHERE event_id % 20 = 2"))),

    // ── S11 — small-file compaction: scatter events into 64 tiny files
    //    (the shape a per-trigger streaming writer leaves behind), compact
    //    to size-targeted files, hash-compare the readback against the
    //    original table. File-count/layout assertions live in
    //    CompactionSpec; the oracle pins that compaction moved BYTES, not
    //    meaning.
    QueryDef(
      "s11_compact_readback",
      (s, d) => {
        val in = tmp("s11-scattered", d)
        val out = tmp("s11-compacted", d)
        Tables.events(s, d).repartition(64).write.mode("overwrite").parquet(in)
        eventsCols(Compaction.compact(s, in, out))
      },
      Some(eventsSql("")),
      bench = true),

    // ── S12 — sorted compaction: same contract through the
    //    repartitionByRange + sortWithinPartitions path (disjoint key
    //    ranges per file for min/max data skipping — layout asserted in
    //    CompactionSpec, content pinned here).
    QueryDef(
      "s12_compact_sorted",
      (s, d) => {
        val in = tmp("s12-scattered", d)
        val out = tmp("s12-sorted", d)
        Tables.events(s, d).repartition(64).write.mode("overwrite").parquet(in)
        eventsCols(Compaction.compactSorted(s, in, out, Seq("user_id", "event_id")))
      },
      Some(eventsSql("")),
      bench = true),

    // ── S17 — Z-ORDER clustered rewrite. Multi-dimensional data
    //    skipping: bit-interleaved rank buckets make every output file a
    //    hyper-rectangle in (user_id, event_id) space, so footer stats
    //    prune files for predicates on EITHER column (quantified against
    //    the lexicographic layout in StorageSkewSpec). Clustering must be
    //    a pure physical rewrite — the readback hash pins that.
    QueryDef(
      "s17_zorder_readback",
      (s, d) => {
        val in = tmp("s17-scattered", d)
        val out = tmp("s17-zorder", d)
        Tables.events(s, d).repartition(64).write.mode("overwrite").parquet(in)
        val (_, bytes) = Compaction.dirStats(s, in)
        eventsCols(Compaction.compactZOrder(
          s, in, out, Seq("user_id", "event_id"), targetBytes = bytes / 8 + 1))
      },
      Some(eventsSql("")),
      bench = true),

    // ── J10 — skew-salted fact⋈dim join. The oracle is the PLAIN join:
    //    salting must be a pure physical rewrite (finer join key, dim
    //    replicated), invisible in the result. Sums accumulate exact
    //    integer cents; the outer CAST keeps DuckDB's HUGEINT sum BIGINT.
    QueryDef(
      "j10_salted_join",
      (s, d) =>
        Skew.saltedJoin(
            Tables.lineitem(s, d).select("l_partkey", "l_quantity"),
            Tables.part(s, d).select(col("p_partkey").as("l_partkey"), col("p_brand")),
            key = "l_partkey",
            salt = 8)
          .groupBy("p_brand")
          .agg(
            count(lit(1)).as("n_items"),
            sum(floor(col("l_quantity") * 100.0).cast("long")).as("qty_cents")),
      Some("""SELECT p_brand, COUNT(*) AS n_items,
             |       CAST(SUM(CAST(FLOOR(l_quantity * 100.0) AS BIGINT)) AS BIGINT) AS qty_cents
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1""".stripMargin),
      bench = true),

    // ── S13 — transactional table format, full lifecycle under one
    //    oracle: two transactional appends build the events table, a
    //    transactional compaction rewrites it, and the snapshot read
    //    must still hash-match the source of truth. Concurrency /
    //    time-travel / vacuum semantics live in TxStoreSpec; this row
    //    pins that the commit-log plumbing never drops or duplicates a
    //    row through the append→compact→read path.
    QueryDef(
      "s13_txlog_readback",
      (s, d) => {
        val store = freshStore(s, "s13-txlog", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store)
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store)
        TxStore.compact(s, store, target = 4)
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(""))),

    // ── S14 — time travel. Version 3 OVERWRITES the table down to the
    //    %7 slice, then the read rolls back to version 1: the log must
    //    reconstruct a pre-overwrite snapshot exactly, byte-for-byte
    //    against SQL over the original table — i.e. overwrite removed
    //    the old files from the LIVE set without destroying them.
    QueryDef(
      "s14_tx_timetravel",
      (s, d) => {
        val store = freshStore(s, "s14-txtravel", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store) // v2
        TxStore.overwrite(ev.filter(col("event_id") % 7 === 0), store) // v3
        eventsCols(TxStore.readAt(s, store, version = 1L))
      },
      Some(eventsSql(" WHERE event_id % 2 = 0"))),

    // ── S15 — copy-on-write DELETE, then checkpoint + vacuum: the
    //    surviving snapshot must still hash-match after the physical
    //    cleanup reclaimed the pre-delete files (vacuum keeps every file
    //    a RETAINED commit references; the checkpoint is what retires
    //    the old history and makes them reclaimable).
    QueryDef(
      "s15_tx_delete",
      (s, d) => {
        val store = freshStore(s, "s15-txdelete", d)
        TxStore.append(Tables.events(s, d), store) // v1
        TxStore.delete(s, store, col("event_id") % 3 === 0) // v2
        TxStore.checkpoint(s, store) // v3
        TxStore.vacuum(s, store)
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 3 <> 0"))),

    // ── S16 — keyed MERGE (upsert). The table starts without the %10
    //    rows; the update frame carries every %5 row with `value`
    //    negated (IEEE sign flip — bit-exact in both engines). Matched
    //    keys must be REPLACED (not duplicated), unmatched keys
    //    INSERTED — the oracle's CASE/WHERE pins both paths at once,
    //    since %10==0 ⊂ %5==0 makes the inserts the %10 slice.
    QueryDef(
      "s16_tx_merge",
      (s, d) => {
        val store = freshStore(s, "s16-txmerge", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 10 =!= 0), store) // v1
        val updates = ev.filter(col("event_id") % 5 === 0)
          .withColumn("value", -col("value"))
        TxStore.merge(s, store, updates, keys = Seq("event_id")) // v2
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       CASE WHEN event_id % 5 = 0 THEN -value ELSE value END AS value, props
             |FROM events
             |WHERE event_id % 10 <> 0 OR event_id % 5 = 0""".stripMargin)),

    // ── EXT50 — ANN index persistence: train the IVF coarse quantizer
    //    and the PQ codebooks, round-trip both through parquet
    //    artifacts, and require the LOADED index to return byte-
    //    identical full query results (symmetric exceptAll), not just
    //    similar recall — floats round-trip parquet exactly, so a
    //    persisted index is the same index. This is the artifact
    //    lifecycle a production ANN deployment needs: retraining per
    //    job silently shifts cell boundaries (k-means is float-order
    //    sensitive); the frozen artifact is the stable contract.
    QueryDef(
      "ext50_index_roundtrip",
      (s, d) =>
        graft.ops.IndexStore.roundTripReport(
          Tables.embeddings(s, d), freshStore(s, "ext50-index", d)),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_queries,
             |       true AS ivf_roundtrip_exact, true AS pq_roundtrip_exact
             |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin)),

    // ── S35 — copy-on-write UPDATE … SET … WHERE: the last of the four
    //    classic row-level ops. SET value = -value, event_type =
    //    'neg:' || type WHERE event_id % 7 = 0 — both RHS evaluate
    //    against the OLD row in one projection; non-matching rows are
    //    byte-identical carried-over or rewritten-unchanged rows. The
    //    oracle is the same CASE over the full table.
    QueryDef(
      "s35_tx_update",
      (s, d) => {
        val store = freshStore(s, "s35-txupdate", d)
        TxStore.append(Tables.events(s, d), store) // v1
        TxStore.update(s, store, col("event_id") % 7 === 0,
          Map(
            "value" -> -col("value"),
            "event_type" -> concat(lit("neg:"), col("event_type")))) // v2
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id,
             |       CASE WHEN event_id % 7 = 0 THEN 'neg:' || event_type
             |            ELSE event_type END AS event_type,
             |       CASE WHEN event_id % 7 = 0 THEN -value ELSE value END AS value,
             |       props
             |FROM events""".stripMargin)),

    // ── S36 — SHALLOW CLONE: the source's snapshot (including its live
    //    inline deletion vectors) publishes as version 1 of a fresh
    //    table with the data plane transferred as hard links — zero
    //    bytes rewritten. The lane then DIVERGES both tables: a
    //    copy-on-write delete on the clone and an append on the source;
    //    the readback proves the clone carried the DV state and that
    //    neither side's change leaks across (the require pins the
    //    source still holding the rows the clone dropped). Inode
    //    sharing under vacuum is pinned in TxStoreSpec.
    QueryDef(
      "s36_tx_clone",
      (s, d) => {
        val src = freshStore(s, "s36-src", d)
        val dst = freshStore(s, "s36-dst", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), src) // v1
        TxStore.deleteVectored(s, src, col("event_id") % 10 === 0) // v2: inline DV
        TxStore.cloneTable(s, src, dst) // dest v1
        TxStore.delete(s, dst, col("event_id") % 3 === 0) // clone-only CoW delete
        TxStore.append(ev.filter(col("event_id") % 2 === 1), src) // source-only append
        require(TxStore.read(s, src)
          .filter(col("event_id") % 3 === 0 && col("event_id") % 10 =!= 0)
          .limit(1).count() == 1,
          "source lost rows the clone deleted — isolation broken")
        eventsCols(TxStore.read(s, dst))
      },
      Some(eventsSql(
        " WHERE event_id % 2 = 0 AND event_id % 10 <> 0 AND event_id % 3 <> 0")),
      bench = true),

    // ── S37 — BLOOM-FILTER FILE SKIPPING (Delta's bloom index on the
    //    text log): the table lands round-robin scattered, so every
    //    file spans ~the full event_id domain and min/max ranges refute
    //    NOTHING for a point lookup (REQUIRED below); one bloom commit
    //    later the same IN-list prunes most files from pure log
    //    metadata. The readback oracle pins soundness — bloom pruning
    //    may only ever skip files that cannot hold a matching row.
    QueryDef(
      "s37_tx_bloom_skipping",
      (s, d) => {
        val store = freshStore(s, "s37-bloom", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartition(16), store) // v1: scattered
        val probe = col("event_id").isin(123L, 4567L, 891L)
        val (_, _, skipBefore) = TxStore.pruneFiles(s, store, probe)
        require(skipBefore.isEmpty,
          s"scattered layout must be range-unprunable, yet skipped ${skipBefore.size}")
        // SIZE THE FILTER TO THE DATA: ~10 bits per value per file. A
        // fixed 64 Kbit default saturates at sf10 (625 k values/file →
        // fp ≈ 1 → zero pruning) — found by the century measurement,
        // which is exactly what it exists to catch.
        TxStore.buildBlooms(s, store, Seq("event_id"),
          numBits = TxStore.bloomBits(ev.count() / 16L)) // v2
        val (_, _, skipAfter) = TxStore.pruneFiles(s, store, probe)
        require(skipAfter.size >= 8,
          s"bloom index should prune most of 16 files, skipped ${skipAfter.size}")
        eventsCols(TxStore.readWhere(s, store, probe))
      },
      Some(eventsSql(" WHERE event_id IN (123, 4567, 891)")),
      bench = true),

    // ── S38 — CHECK CONSTRAINTS (Delta's ALTER TABLE … ADD CONSTRAINT):
    //    the write-time data-quality gate. addConstraint validates
    //    EXISTING data in one distributed scan (so the live table always
    //    satisfies its set — the invariant that makes write-time checks
    //    sufficient); every subsequent append validates its batch in one
    //    aggregate pass and a violating write REFUSES LOUDLY, leaving
    //    the table byte-identical. The lane exercises the whole
    //    lifecycle: gated appends land, a violating append refuses, the
    //    constraint survives a checkpoint's restatement (replay truncates
    //    there — anything not restated is lost), and the final readback
    //    hash-matches the source SQL. At 100 TB the economics are the
    //    point: a post-hoc quality sweep is a full-table scan, the gate
    //    is O(batch).
    QueryDef(
      "s38_tx_constraints",
      (s, d) => {
        val store = freshStore(s, "s38-constraints", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.addConstraint(s, store, "value_nonneg", "value >= 0.0") // v2
        TxStore.addConstraint(s, store, "typed_event", "event_type IS NOT NULL") // v3
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store) // v4 (gated, lands)
        val refused =
          try { TxStore.append(ev.limit(5).withColumn("value", -col("value") - 1.0), store); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "violating append must refuse")
        TxStore.checkpoint(s, store) // v5 — constraints restate through it
        val refusedAfterCk =
          try {
            TxStore.append(
              ev.limit(5).withColumn("event_type", lit(null).cast("string")), store)
            false
          } catch { case _: IllegalArgumentException => true }
        require(refusedAfterCk, "post-checkpoint violating append must refuse")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(""))),

    // ── S39 — COLUMN MAPPING (Delta's rename/drop without rewrite):
    //    RENAME COLUMN and DROP COLUMN are metadata-only commits — the
    //    log schema stays the physical parquet schema, a (logical →
    //    physical) mapping rides beside it, readers project physical →
    //    logical and writers map back. At 100 TB this is the difference
    //    between an O(1) log line and rewriting the whole lake to
    //    change a name. The lane renames mid-history (files exist under
    //    BOTH physical generations), appends under the new logical
    //    name, drops a column, and hash-matches the logical readback
    //    against SQL that aliases/projects the original table — proving
    //    old files, new files, the rename and the drop all compose.
    QueryDef(
      "s39_tx_column_mapping",
      (s, d) => {
        val store = freshStore(s, "s39-colmap", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.renameColumn(s, store, "event_type", "channel") // v2 — metadata only
        TxStore.append(
          ev.filter(col("event_id") % 2 =!= 0).withColumnRenamed("event_type", "channel"),
          store) // v3 — new files land under the new logical name
        TxStore.dropColumn(s, store, "props") // v4 — no rewrite, values unreachable
        val back = TxStore.read(s, store)
        require(!back.columns.contains("props") && back.columns.contains("channel"),
          s"unexpected logical view: ${back.columns.mkString(",")}")
        back.select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
          col("channel"), col("value"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id,
             |       event_type AS channel, value
             |FROM events""".stripMargin)),

    // ── S40 — HIVE-STYLE PARTITION COLUMNS on the commit log (Delta's
    //    partitionBy): a partitioned append lands files under
    //    `event_type=…/` paths, the partition values travel in the
    //    log's file NAMES, and a partition-predicate read prunes whole
    //    partitions from pure log metadata BEFORE the per-file stats
    //    walk — the first filter every real 100 TB query applies
    //    (date/tenant partitions), complementing s37's blooms and
    //    s17's z-order which prune WITHIN what partitioning leaves.
    //    The lane proves the full surface: a creating partitioned
    //    append, an inheriting second append, a checkpoint restating
    //    the layout (replay truncates there), a REQUIRED
    //    only-matching-partition prune, and a readback hash against
    //    the plain SQL filter (pruning is an optimization, never the
    //    filter).
    QueryDef(
      "s40_tx_partition_pruning",
      (s, d) => {
        val store = freshStore(s, "s40-partition", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0).repartition(8), store,
          partitionBy = Seq("event_type")) // v1: creates the layout, 8 files/partition
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0).repartition(8), store) // v2: inherits
        TxStore.checkpoint(s, store) // v3 — partitioning restates through it
        require(TxStore.snapshot(s, store).partitioning == Seq("event_type"),
          "partitioning must survive the checkpoint restatement")
        val probe = col("event_type") === "purchase"
        val (_, kept, skipped) = TxStore.pruneFiles(s, store, probe)
        require(kept.nonEmpty && kept.forall(_.startsWith("event_type=purchase/")),
          s"partition pruning must keep ONLY purchase files; kept ${kept.take(3)}")
        require(skipped.nonEmpty && skipped.forall(!_.startsWith("event_type=purchase/")),
          "every other partition's files must be skipped")
        eventsCols(TxStore.readWhere(s, store, probe))
      },
      Some(eventsSql(" WHERE event_type = 'purchase'")),
      bench = true),

    // ── S41 — PARTITION DELETE (metadata-only retention): a DELETE
    //    whose predicate references partition columns exclusively is a
    //    constant per file, so it commits REMOVE-ONLY — no probe scan,
    //    no rewrite, zero data-plane IO. At 100 TB this is how a year
    //    of date partitions drops: one log line. The REQUIREs pin the
    //    mechanism (the commit adds nothing), the readback oracle pins
    //    the semantics, and a mixed predicate on the same table proves
    //    the fast path never hijacks a per-row delete.
    QueryDef(
      "s41_tx_partition_delete",
      (s, d) => {
        val store = freshStore(s, "s41-pdelete", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartition(4), store, partitionBy = Seq("event_type")) // v1
        TxStore.delete(s, store, col("event_type").isin("view", "error")) // v2: metadata-only
        val c = TxStore.history(s, store).last
        require(c.op == "delete" && c.add.isEmpty && c.remove.nonEmpty,
          s"partition delete must commit remove-only; got op=${c.op} adds=${c.add.size}")
        // mixed predicate → ordinary copy-on-write rewrite on what's left
        TxStore.delete(s, store,
          col("event_type") === "click" && col("event_id") % 100 === 0) // v3
        require(TxStore.history(s, store).last.add.nonEmpty,
          "mixed predicate must take the rewrite path")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(
        " WHERE event_type NOT IN ('view', 'error')" +
          " AND NOT (event_type = 'click' AND event_id % 100 = 0)")),
      bench = true),

    // ── S42 — DYNAMIC PARTITION OVERWRITE (Delta's `replaceWhere`):
    //    ONE atomic commit removes the matching partitions' live files
    //    and adds the restated batch — the daily-restatement idiom
    //    (re-derive one date/tenant partition in place) that the
    //    two-commit delete + append alternative serves with a window
    //    where the partition is empty. The REQUIREs pin the mechanism:
    //    a single commit whose removes all lie in the replaced
    //    partition while every other partition's files survive
    //    untouched; the readback oracle pins the semantics (clicks
    //    restated with value doubled — ×2 is IEEE-exact, so the hash
    //    holds cross-engine).
    QueryDef(
      "s42_tx_replace_where",
      (s, d) => {
        val store = freshStore(s, "s42-replacewhere", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartition(4), store, partitionBy = Seq("event_type")) // v1
        val before = TxStore.snapshot(s, store).files.filterNot(_.startsWith("event_type=click/"))
        val restated = ev.filter(col("event_type") === "click")
          .withColumn("value", col("value") * 2)
        TxStore.replaceWhere(restated, store, col("event_type") === "click") // v2: ONE commit
        val c = TxStore.history(s, store).last
        require(c.op == "replace-where" && c.add.nonEmpty && c.remove.nonEmpty &&
          c.remove.forall(_.startsWith("event_type=click/")),
          s"replaceWhere must swap ONLY the click partition in one commit; " +
            s"got op=${c.op} removes=${c.remove.take(3)}")
        require(before.forall(TxStore.snapshot(s, store).files.contains),
          "unmatched partitions' files must survive untouched")
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value,
             |       props
             |FROM events""".stripMargin),
      bench = true),

    // ── S34 — CONDITIONAL three-clause MERGE (Delta's WHEN MATCHED AND
    //    … THEN UPDATE / DELETE, WHEN NOT MATCHED AND … THEN INSERT):
    //    the update wave (%5 slice, value negated) UPDATES matched
    //    clicks, DELETES matched purchases, KEEPS every other matched
    //    row untouched, and INSERTS only even-user unmatched rows. All
    //    four paths are populated at every fixture SF; the oracle
    //    derives each from the modular structure (%10 = 0 ⊂ %5 = 0
    //    makes the unmatched slice exactly the %10 rows).
    QueryDef(
      "s34_tx_merge_conditional",
      (s, d) => {
        val store = freshStore(s, "s34-txmergecond", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 10 =!= 0), store) // v1
        val updates = ev.filter(col("event_id") % 5 === 0)
          .withColumn("value", -col("value"))
        TxStore.mergeConditional(s, store, updates, keys = Seq("event_id"),
          matchedUpdate = Some(col("t.event_type") === "click"),
          matchedDelete = Some(col("t.event_type") === "purchase"),
          notMatchedInsert = Some(col("s.user_id") % 2 === 0)) // v2
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       CASE WHEN event_id % 10 = 0 THEN -value
             |            WHEN event_id % 5 = 0 AND event_type = 'click' THEN -value
             |            ELSE value END AS value,
             |       props
             |FROM events
             |WHERE (event_id % 10 <> 0
             |       AND NOT (event_id % 5 = 0 AND event_type = 'purchase'))
             |   OR (event_id % 10 = 0 AND user_id % 2 = 0)""".stripMargin)),

    // ── S46 — GENERAL MERGE CLAUSES (the full ANSI/Delta surface over
    //    TxStore.mergeClauses): five ORDERED clauses in one statement —
    //    a column-assignment UPDATE that mixes OLD-row and source
    //    expressions, an unconditional DELETE catching the rest of the
    //    matched rows (clause ORDER is the dispatch rule), a
    //    column-list INSERT, and both NOT MATCHED BY SOURCE actions
    //    (the sync idiom: refresh stale target rows, drop ones the
    //    source disavows). Same modular fixture structure as s34, so
    //    every clause fires at every SF; the oracle derives each path
    //    from the arithmetic (%10 = 0 ⊂ %5 = 0 ⇒ matched = %5 rows of
    //    the %10≠0 table; unmatched-by-source = %5≠0). ×2 and sign
    //    flips are IEEE-exact — the hash holds cross-engine.
    QueryDef(
      "s46_tx_merge_clauses",
      (s, d) => {
        import TxStore.MergeClause._
        val store = freshStore(s, "s46-mergeclauses", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 10 =!= 0), store) // v1
        val wave = ev.filter(col("event_id") % 5 === 0)
          .withColumn("value", -col("value"))
        TxStore.mergeClauses(s, store, wave, keys = Seq("event_id"), Seq(
          // matched clicks: doubled source value + a tag from the OLD row
          MatchedUpdate(Some(col("t.event_type") === "click"), Some(Map(
            "value" -> (col("s.value") * 2),
            "event_type" -> concat(lit("u:"), col("t.event_type"))))),
          // every other matched row: delete (order gives click precedence)
          MatchedDelete(None),
          // even-user unmatched source rows insert via a column list
          NotMatchedInsert(Some(col("s.user_id") % 2 === 0), Some(Map(
            "event_id" -> col("s.event_id"), "ts" -> col("s.ts"),
            "user_id" -> col("s.user_id"), "event_type" -> lit("ins"),
            "value" -> col("s.value"), "props" -> col("s.props")))),
          // target rows the source no longer carries: views go stale,
          // purchases drop, the rest keep their bytes
          NotMatchedBySourceUpdate(Some(col("t.event_type") === "view"),
            Map("event_type" -> lit("stale"))),
          NotMatchedBySourceDelete(Some(col("t.event_type") === "purchase")))) // v2
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id,
             |       CASE WHEN event_id % 5 = 0 THEN 'u:' || event_type
             |            WHEN event_type = 'view' THEN 'stale'
             |            ELSE event_type END AS event_type,
             |       CASE WHEN event_id % 5 = 0 THEN -2 * value ELSE value END AS value,
             |       props
             |FROM events
             |WHERE event_id % 10 <> 0
             |  AND (event_id % 5 <> 0 OR event_type = 'click')
             |  AND (event_id % 5 = 0 OR event_type <> 'purchase')
             |UNION ALL
             |SELECT event_id, epoch_us(ts) AS ts_us, user_id, 'ins' AS event_type,
             |       -value AS value, props
             |FROM events
             |WHERE event_id % 10 = 0 AND user_id % 2 = 0""".stripMargin),
      bench = true),

    // ── S45 — SQL reads through the commit log's FILE SKIPPING: a
    //    `SELECT … WHERE event_id <= 500` as SQL TEXT over a `--tx`
    //    name (resolved by the same TxCatalog session the CLI's sql
    //    step uses) must consult the log's min/max stats exactly like
    //    TxStore.readWhere — the REQUIRE pins that the v2 scan it plans
    //    skips the IDENTICAL file set pruneFiles skips (not merely
    //    "some" files), and the oracle pins the pruned plan's rows
    //    byte-for-byte. This is the r13 verdict's top item: the
    //    engine's marquee feature (metadata-only pruning) serving its
    //    marquee interface (SQL text). At 100 TB the difference is a
    //    handful of file opens vs a full file-set scan before the
    //    parquet reader even starts.
    QueryDef(
      "s45_sql_pruned_read",
      (s, d) => {
        val store = freshStore(s, "s45-sqlread", d)
        TxStore.append(Tables.events(s, d).repartitionByRange(8, col("event_id")), store)
        prunedLikeReadWhere(s, store, col("event_id") <= 500L, "SQL read") {
          TxCatalog.session(s, TxCatalog.parse(s, s"s45tx=$store")).sql(
            "SELECT event_id, ts div 1000 AS ts_us, user_id, event_type, value, props " +
              "FROM s45tx WHERE event_id <= 500")
        }
      },
      Some(eventsSql(" WHERE event_id <= 500")),
      bench = true),

    // ── S51 — DataSource v2 PUSHED-FILTER pruning (EXT73): the native
    //    `spark.read.format("graft")` scan must skip the IDENTICAL file
    //    set the readWhere stats walk skips — pruning now happens INSIDE
    //    Catalyst (SupportsPushDownCatalystFilters → pruneSnapFiles), not in a
    //    pre-analysis rewrite, and the kept files are planned into
    //    splits from the log's #size facts (zero filesystem RPCs). The
    //    REQUIREs pin the file-set identity; the oracle pins the rows.
    QueryDef(
      "s51_dsv2_pruned_read",
      (s, d) => {
        val store = freshStore(s, "s51-dsv2", d)
        TxStore.append(Tables.events(s, d).repartitionByRange(8, col("event_id")), store)
        eventsCols(prunedLikeReadWhere(s, store, col("event_id") <= 500L, "v2 scan") {
          val v2 = s.read.format("graft").load(store).filter(col("event_id") <= 500L)
          require(v2.count() > 0, "the pruned v2 scan must still return rows")
          v2
        })
      },
      Some(eventsSql(" WHERE event_id <= 500")),
      bench = true),

    // ── S52 — DataSource v2 RUNTIME (dynamic-pruning) filtering
    //    (EXT73): a star join's broadcast dimension build hands its key
    //    set to the fact scan AT EXECUTION START (SupportsRuntimeFiltering
    //    → the same pruneSnapFiles walk over the runtime IN), so fact
    //    files of unselected partitions are never read — the plan a
    //    pre-analysis rewrite structurally cannot produce (the dim's
    //    surviving keys exist only after its filter runs). The fixture
    //    partitions events by event_type and keeps the two
    //    lexicographically-first types via a FILE-BACKED dim (a local
    //    relation would constant-fold its filter away and DPP would
    //    correctly decline). REQUIREs pin that a runtime filter arrived
    //    and only the selected partitions' files were read.
    QueryDef(
      "s52_dsv2_runtime_prune",
      (s, d) => {
        val store = freshStore(s, "s52-dsv2dpp", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev, store, partitionBy = Seq("event_type"))
        val keepTypes = ev.select("event_type").distinct()
          .orderBy("event_type").limit(2)
          .collect().map(_.getString(0)).toSeq // 2 values — model-bounded
        val dimPath = freshStore(s, "s52-dsv2dim", d)
        ev.select(col("event_type").as("etype")).distinct()
          .withColumn("flag",
            when(col("etype").isin(keepTypes: _*), "keep").otherwise("drop"))
          .coalesce(1).write.parquet(dimPath)
        val dim = s.read.parquet(dimPath).filter(col("flag") === "keep")
        val fact = s.read.format("graft").load(store)
        val joined = fact
          .join(broadcast(dim), fact("event_type") === dim("etype"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), graft.Num.rnd(sum("value"), 2).as("total"))
        // collect runs THIS plan, whose fact scan receives the runtime filter
        require(joined.collect().length == 2, "both kept event types must aggregate")
        val planned = GraftScan.planned(joined)
          .find(_.runtimeFilterCount > 0).getOrElse(
            sys.error("the fact scan must receive a runtime (dynamic pruning) filter"))
        val total = TxStore.snapshot(s, store).files.size
        require(planned.kept.nonEmpty && planned.kept.size < total,
          s"the runtime filter must prune fact files: kept ${planned.kept.size} of $total")
        val keepDirs = keepTypes.map(t => s"event_type=$t/").toSet
        require(planned.kept.forall(f => keepDirs.exists(f.startsWith)),
          s"only the dim-selected partitions may be read: ${planned.kept.take(5)}")
        joined
      },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${graft.Sql.rnd("SUM(value)", 2)} AS total
              |FROM events
              |WHERE event_type IN (
              |  SELECT DISTINCT event_type FROM events ORDER BY 1 LIMIT 2)
              |GROUP BY 1""".stripMargin),
      bench = true),

    // ── S18 — schema evolution through the commit log. The first wave
    //    lands WITHOUT `props`; the second wave adds it, evolving the
    //    table schema additively. The read must surface the evolved
    //    schema with pre-evolution rows reading NULL — from the schema
    //    carried in the LOG, never a footer-merge scan (the reader's
    //    plan touches zero extra metadata regardless of file count).
    QueryDef(
      "s18_tx_schema_evolution",
      (s, d) => {
        val store = freshStore(s, "s18-txschema", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0).drop("props"), store) // v1
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store) // v2 evolves
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
             |       CASE WHEN event_id % 2 = 0 THEN NULL ELSE props END AS props
             |FROM events""".stripMargin)),

    // ── S18b — TYPE-WIDENING evolution through the commit log. The
    //    first wave lands NARROW (value as float32, user_id as int32);
    //    the second wave carries the original double/bigint types, so
    //    the log schema widens along the safe chains (INT→BIGINT,
    //    FLOAT→DOUBLE) and the read promotes the v1 files through the
    //    widened schema (Spark 4 parquet widening, SPARK-40876). The
    //    oracle mirrors the one lossy step — double→float in wave 1 —
    //    with an explicit round-trip cast; the int narrowing is
    //    lossless at fixture id ranges, so plain user_id matches.
    QueryDef(
      "s18b_tx_widening",
      (s, d) => {
        val store = freshStore(s, "s18b-txwiden", d)
        val ev = Tables.events(s, d)
        TxStore.append(
          ev.filter(col("event_id") % 2 === 0)
            .withColumn("value", col("value").cast("float"))
            .withColumn("user_id", col("user_id").cast("int")), store) // v1 narrow
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store) // v2 widens
        eventsCols(TxStore.read(s, store))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       CASE WHEN event_id % 2 = 0
             |            THEN CAST(CAST(value AS FLOAT) AS DOUBLE)
             |            ELSE value END AS value, props
             |FROM events""".stripMargin)),

    // ── S19 — file-level append CDC: after two appends, the delta since
    //    version 1 must be EXACTLY the second wave — the incremental
    //    consumer never re-reads the v1 files (only added files are
    //    scanned), which is the whole point of log-driven consumption.
    QueryDef(
      "s19_tx_cdc",
      (s, d) => {
        val store = freshStore(s, "s19-txcdc", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0), store) // v2
        val (_, delta) = TxStore.readAppendsSince(s, store, sinceVersion = 1L)
        eventsCols(delta)
      },
      Some(eventsSql(" WHERE event_id % 2 <> 0"))),

    // ── S20 — incremental channel-report maintenance (EXT28): attribution
    //    rows land in a TxStore in two waves; the report store is folded
    //    forward from each wave's CDC delta (delta rollup + keyed additive
    //    merge, ops/IncrementalReport.scala) plus one caught-up no-op
    //    poll. The oracle is the FULL recompute over all attribution rows
    //    — green ⇔ incremental maintenance converges to the from-scratch
    //    rollup, the materialized-view invariant.
    QueryDef(
      "s20_incremental_report",
      (s, d) => {
        val attrStore = freshStore(s, "s20-attr", d)
        val repStore = freshStore(s, "s20-rep", d)
        // attr (the full journey+scoring pipeline — the lane's heaviest
        // plan) feeds both wave filters; sd feeds every advance step.
        // Persisted for the lane's eager body, released before returning.
        val attr = IhcScorer.score(
          JourneyBuilder.journeys(Tables.conversions(s, d), Tables.sessions(s, d))).persist()
        val sd = ChannelReport.sessionData(Tables.sessions(s, d), Tables.sessionCosts(s, d))
          .persist()
        val cv = Tables.conversions(s, d)
        try {
          TxStore.append(attr.filter(col("conversion_id") % 2 === 0), attrStore) // wave 1
          val v1 = IncrementalReport.advance(s, attrStore, repStore, sd, cv)
          TxStore.append(attr.filter(col("conversion_id") % 2 =!= 0), attrStore) // wave 2
          val v2 = IncrementalReport.advance(s, attrStore, repStore, sd, cv)
          require(v2 == v1 + 1, s"expected wave-2 consumption v${v1 + 1}, got v$v2")
          val v3 = IncrementalReport.advance(s, attrStore, repStore, sd, cv)
          require(v3 == v2, s"caught-up poll must not advance: $v2 -> $v3")
        } finally { attr.unpersist(); sd.unpersist(): Unit }
        TxStore.read(s, repStore).select(
          col("channel_name"), col("date"),
          graft.Num.rnd(col("cost"), 2).as("cost"),
          graft.Num.rnd(col("ihc"), 4).as("ihc"),
          graft.Num.rnd(col("ihc_revenue"), 2).as("ihc_revenue"))
      },
      Some(graft.Sql.CTES +
        s"""SELECT sd.channel_name, sd.date,
           |       ${graft.Sql.rnd("SUM(sd.cost)", 2)} AS cost,
           |       ${graft.Sql.rnd("SUM(a.ihc)", 4)} AS ihc,
           |       ${graft.Sql.rnd("SUM(a.ihc * cv.revenue)", 2)} AS ihc_revenue
           |FROM session_data sd
           |JOIN scored a ON sd.session_id = a.session_id
           |JOIN conversions cv ON a.conversion_id = cv.conv_id
           |GROUP BY 1, 2""".stripMargin)),

    // ── S21 — vacuum safety: overwrite kills the v1 files, a checkpoint
    //    truncates the retained log, vacuum(retainVersions = 1) must then
    //    reclaim the dead files AND the surviving table must read back
    //    byte-exact. The lane requires reclaimed > 0 — a vacuum that
    //    silently keeps garbage forever passes every read test, so the
    //    reclaim itself is asserted — and the oracle pins that vacuum
    //    never touches a LIVE file (the readback after deletion is the
    //    whole point).
    QueryDef(
      "s21_tx_vacuum",
      (s, d) => {
        val store = freshStore(s, "s21-vacuum", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.overwrite(ev.filter(col("event_id") % 3 === 0), store) // v2
        TxStore.checkpoint(s, store) // v3 — pre-checkpoint history released
        val reclaimed = TxStore.vacuum(s, store, retainVersions = 1, ageGraceMs = 0L)
        require(reclaimed > 0, "vacuum must reclaim the overwritten v1 files")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 3 = 0"))),

    // ── S22 — log-level DATA SKIPPING (the Delta-style stats half of
    //    the table format): commits carry per-file numeric min/max
    //    harvested from the files each commit itself wrote, and a
    //    predicate read prunes files from the LOG — zero file IO in
    //    the pruning decision, the tier above parquet row-group
    //    pushdown. The table is written range-laid-out (the s12/s17
    //    layout shape that makes skipping pay); the lane REQUIRES that
    //    files were actually skipped (a reader that silently scans
    //    everything would still hash-match), then the oracle pins the
    //    pruned read ≡ the full filter byte-for-byte.
    QueryDef(
      "s22_tx_skipping",
      (s, d) => {
        val store = freshStore(s, "s22-skip", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartitionByRange(8, col("event_id")), store)
        val pred = col("event_id") <= 500L
        val (_, kept, skipped) = TxStore.pruneFiles(s, store, pred)
        require(skipped.nonEmpty,
          s"range layout + selective predicate must skip files (kept ${kept.size})")
        eventsCols(TxStore.readWhere(s, store, pred))
      },
      Some(eventsSql(" WHERE event_id <= 500"))),

    // ── S53 — data skipping on NULL-COUNT facts (EXT74): commits carry
    //    per-file null counts (`<col>#n`, beside min/max/blooms/#rows),
    //    so `IS NOT NULL` prunes every ALL-NULL file and `IS NULL`
    //    prunes every all-non-null file — from log metadata, zero file
    //    IO (Delta's checkpoint nullCount re-derived). The fixture
    //    lands two waves: one with props nulled wholesale, one with
    //    props made never-null; the REQUIREs pin BOTH refutation
    //    directions to exact wave file sets, the oracle pins content.
    QueryDef(
      "s53_tx_null_skipping",
      (s, d) => {
        val store = freshStore(s, "s53-nullskip", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0)
          .withColumn("props", lit(null).cast("string")), store) // v1: all-null props
        TxStore.append(ev.filter(col("event_id") % 2 =!= 0)
          .withColumn("props", coalesce(col("props"), lit("{}"))), store) // v2: no nulls
        val v1Files = TxStore.history(s, store).find(_.version == 1L).get.add.toSet
        val v2Files = TxStore.history(s, store).find(_.version == 2L).get.add.toSet
        val (_, keptNN, skippedNN) = TxStore.pruneFiles(s, store, col("props").isNotNull)
        require(skippedNN.toSet == v1Files && keptNN.toSet == v2Files,
          s"IS NOT NULL must skip exactly the all-null wave " +
            s"(skipped ${skippedNN.size}, wave ${v1Files.size})")
        val (_, keptN, skippedN) = TxStore.pruneFiles(s, store, col("props").isNull)
        require(skippedN.toSet == v2Files && keptN.toSet == v1Files,
          s"IS NULL must skip exactly the never-null wave " +
            s"(skipped ${skippedN.size}, wave ${v2Files.size})")
        eventsCols(TxStore.readWhere(s, store, col("props").isNotNull))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
             |       COALESCE(props, '{}') AS props
             |FROM events WHERE event_id % 2 <> 0""".stripMargin)),

    // ── S55 — METADATA-ONLY AGGREGATES (EXT77): an unfiltered,
    //    ungrouped COUNT(*)/COUNT(col)/MIN/MAX over a mark-free table
    //    answers from the commit log's own facts — `#rows` for counts,
    //    `<col>#n` for COUNT(col), min/max ranges (and hive path values
    //    for partition columns) for MIN/MAX — via DSv2 aggregate
    //    pushdown, with ZERO files planned (parquet answers these from
    //    footers, one open per file; the log answers from memory — the
    //    100 TB COUNT(*) is O(1) IO). Exact-only by construction: any
    //    file missing a required fact refuses the pushdown and the
    //    ordinary scan answers instead. The REQUIREs pin that the
    //    answer came from facts; the oracle pins the values.
    QueryDef(
      "s55_dsv2_agg_pushdown",
      (s, d) => {
        val store = freshStore(s, "s55-agg", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev, store, partitionBy = Seq("event_type"))
        val got = s.read.format("graft").load(store).agg(
          count(lit(1)).as("n"),
          count(col("props")).as("n_props"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          min("value").as("min_v"), max("value").as("max_v"),
          min("event_type").as("type_lo"), max("event_type").as("type_hi"))
        require(got.collect().length == 1, "one aggregate row")
        require(GraftScan.planned(got).exists(p => p.aggregatePushed && p.kept.isEmpty),
          "aggregates must answer from log facts with zero files planned")
        got
      },
      Some("""SELECT COUNT(*) AS n, COUNT(props) AS n_props,
             |       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
             |       MIN(value) AS min_v, MAX(value) AS max_v,
             |       MIN(event_type) AS type_lo, MAX(event_type) AS type_hi
             |FROM events""".stripMargin),
      bench = true),

    // ── S54 — TABLE PROPERTIES in the log (EXT76): free-form
    //    TBLPROPERTIES ride commits latest-wins (like the schema),
    //    merge on SET, drop atomically on UNSET, and restate through a
    //    CHECKPOINT (whose replay truncation would otherwise lose
    //    them). The lane drives the full lifecycle and lands the final
    //    property set — deterministic, so the oracle is literal.
    QueryDef(
      "s54_tx_properties",
      (s, d) => {
        val store = freshStore(s, "s54-props", d)
        TxStore.append(Tables.events(s, d).limit(100), store) // v1
        TxStore.setTableProperties(s, store,
          Seq("owner" -> "data-eng", "pii" -> "false")) // v2
        TxStore.setTableProperties(s, store, Seq("pii" -> "true")) // v3 merge
        TxStore.unsetTableProperties(s, store, Seq("pii")) // v4
        TxStore.setTableProperties(s, store, Seq("retention.hours" -> "168")) // v5
        TxStore.checkpoint(s, store) // v6 — properties must survive truncation
        val props = TxStore.tableProperties(s, store)
        import s.implicits._
        props.toDF("key", "value")
      },
      Some("""SELECT 'owner' AS key, 'data-eng' AS value
             |UNION ALL SELECT 'retention.hours', '168'""".stripMargin)),

    // ── S57 — PARTITION-FILTERED + GROUPED METADATA AGGREGATES
    //    (EXT79, the rung above S55): a WHERE whose every conjunct is a
    //    PARTITION predicate is consumed EXACTLY by the scan (hive path
    //    values decide each file definitively — Spark's own
    //    partition-filter contract), so `COUNT(*) WHERE ptcol = 'x'`
    //    still answers from `#rows` facts over the partition-pruned
    //    file set with ZERO files planned — the Delta-checkpoint trick.
    //    GROUP BY a partition column likewise: one row per live
    //    partition dir, keys parsed from the paths, aggregates from the
    //    facts. Any non-partition conjunct refuses to the ordinary scan
    //    (REQUIRE-pinned). The oracle pins all values.
    QueryDef(
      "s57_dsv2_filtered_agg",
      (s, d) => {
        val store = freshStore(s, "s57-fagg", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev, store, partitionBy = Seq("event_type"))
        val t0 = ev.agg(min("event_type")).first().getString(0)
        // filtered AND grouped compose in one pushdown; keying by the
        // partition column keeps the final attach an equi-join (the
        // registry-wide plan audit forbids cross-join shapes)
        val filtered = s.read.format("graft").load(store)
          .filter(col("event_type") === t0)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_t0"), min("event_id").as("min_id_t0"))
        require(filtered.collect().length == 1, "one aggregate row")
        require(GraftScan.planned(filtered).exists(p => p.aggregatePushed && p.kept.isEmpty),
          "a partition-filtered aggregate must answer from log facts, zero files planned")
        val grouped = s.read.format("graft").load(store)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), count(col("props")).as("n_props"),
            min("value").as("min_v"), max("value").as("max_v"))
        require(grouped.collect().length > 1, "several live partitions must group")
        require(GraftScan.planned(grouped).exists(p => p.aggregatePushed && p.kept.isEmpty),
          "GROUP BY a partition column must answer from log facts, zero files planned")
        // REFUSAL leg: a non-partition conjunct cannot consume exactly —
        // the ordinary scan (with file pruning) answers instead
        val refused = s.read.format("graft").load(store)
          .filter(col("event_type") === t0 && col("event_id") >= 0L)
          .agg(count(lit(1)).as("n"))
        require(refused.collect().head.getLong(0) > 0, "the refused pushdown still answers")
        require(!GraftScan.planned(refused).exists(_.aggregatePushed),
          "a non-partition conjunct must refuse the aggregate pushdown")
        grouped.join(broadcast(filtered), Seq("event_type"), "left")
      },
      Some("""SELECT g.event_type, g.n, g.n_props, g.min_v, g.max_v, f.n_t0, f.min_id_t0
             |FROM (SELECT event_type, COUNT(*) AS n, COUNT(props) AS n_props,
             |             MIN(value) AS min_v, MAX(value) AS max_v
             |      FROM events GROUP BY 1) g
             |LEFT JOIN (SELECT event_type, COUNT(*) AS n_t0,
             |                  MIN(event_id) AS min_id_t0
             |           FROM events
             |           WHERE event_type = (SELECT MIN(event_type) FROM events)
             |           GROUP BY 1) f USING (event_type)"""
        .stripMargin),
      bench = true),

    // ── S58 — PREFIX-PREDICATE FILE PRUNING: `LIKE 'p%'` refutes files
    //    from the log's exact ASCII string ranges by the
    //    truncate-to-prefix-length endpoint compare (the ORC/parquet
    //    rule: values with prefix p exist iff lo[:|p|] <= p <= hi[:|p|]).
    //    The fixture derives a zero-padded tag whose range-partitioned
    //    layout gives each file a tight range, so a short prefix skips
    //    all but the low files — REQUIRE-pinned to the identical file
    //    set in the v1 walk and the v2 scan; the oracle pins the rows.
    QueryDef(
      "s58_tx_prefix_skipping",
      (s, d) => {
        val store = freshStore(s, "s58-prefix", d)
        // SCALE-HONEST fixture: tags bucket into four letter groups
        // (a…d by id mod 4) and the range layout sorts ON THE TAG, so
        // at ANY scale factor at least the files wholly inside b/c/d
        // refute the 'a' prefix — a zero-padded-id prefix would refute
        // nothing at small SF (every file's truncated range covers it)
        val ev = Tables.events(s, d)
          .withColumn("tag", concat(
            expr("chr(97 + cast(event_id % 4 as int))"),
            lpad(col("event_id").cast("string"), 8, "0")))
        TxStore.append(ev.repartitionByRange(4, col("tag")), store)
        val pred = col("tag").startsWith("a")
        val v2 = prunedLikeReadWhere(s, store, pred, "v2 scan") {
          val v2 = s.read.format("graft").load(store).filter(pred)
          require(v2.count() > 0, "the pruned scan must still return matching rows")
          v2
        }
        v2.select(col("event_id"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"), col("tag"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       chr(97 + CAST(event_id % 4 AS INTEGER))
             |         || LPAD(CAST(event_id AS VARCHAR), 8, '0') AS tag
             |FROM events
             |WHERE event_id % 4 = 0"""
        .stripMargin),
      bench = true),

    // ── S56 — NATIVE v2 WRITE (EXT78): `df.write.format("graft")`
    //    lands appends / partition-scoped overwrites as ONE staged
    //    commit THROUGH TxStore's own machinery — GraftWriteBuilder's
    //    V1Write IS the API (stats/null/bloom harvest, hive layout,
    //    constraint gates, optimistic commit races, exactly-once txn
    //    stamps all hold by identity, not re-implementation). The lane
    //    drives a creating partitioned write + an inheriting append
    //    against a TxStore-API twin and REQUIREs the two tables are
    //    indistinguishable (version, layout, row set); then a
    //    replaceWhere-scoped v2 overwrite restates one partition and
    //    an exactly-once stamped append proves replay no-ops. The
    //    oracle pins the final content.
    QueryDef(
      "s56_dsv2_write",
      (s, d) => {
        val store = freshStore(s, "s56-v2w", d)
        val twin = freshStore(s, "s56-v2w-twin", d)
        val ev = Tables.events(s, d)
        val even = ev.filter(col("event_id") % 2 === 0)
        val odd = ev.filter(col("event_id") % 2 =!= 0)
        even.write.format("graft").mode("append")
          .option("partitionBy", "event_type").save(store) // creates + layouts
        odd.write.format("graft").mode("append").save(store) // inherits layout
        TxStore.append(even, twin, partitionBy = Seq("event_type"))
        TxStore.append(odd, twin)
        val sv = TxStore.snapshot(s, store); val tv = TxStore.snapshot(s, twin)
        require(sv.version == tv.version && sv.partitioning == tv.partitioning,
          s"v2 writes must commit exactly like the API twin " +
            s"(v${sv.version}/${sv.partitioning} vs v${tv.version}/${tv.partitioning})")
        require(sv.files.forall(f => sv.stats.get(f).exists(_.contains("#rows"))),
          "the harvest discipline must ride the v2 write (missing #rows facts)")
        // row-set identity with the twin (event_id is unique, so
        // except-both-ways + equal counts is set equality)
        val a = TxStore.read(s, store); val b = TxStore.read(s, twin)
        require(a.count() == b.count() && a.except(b).isEmpty,
          "v2-written rows must equal the API twin's")
        // partition-scoped restatement through the v2 writer
        val t0 = ev.agg(min("event_type")).first().getString(0)
        ev.filter(col("event_type") === t0).withColumn("value", col("value") * 2)
          .write.format("graft").mode("overwrite")
          .option("replaceWhere", s"event_type = '$t0'").save(store)
        // exactly-once: the SAME stamped batch lands once (ids negated
        // so the marker rows are disjoint from the base content)
        val stamp = ev.limit(100).withColumn("event_id", -col("event_id") - 1L)
        stamp.write.format("graft").mode("append")
          .option("txnAppId", "s56").option("txnVersion", "1").save(store)
        val v = TxStore.snapshot(s, store).version
        stamp.write.format("graft").mode("append")
          .option("txnAppId", "s56").option("txnVersion", "1").save(store)
        require(TxStore.snapshot(s, store).version == v,
          "a redelivered txn stamp must be a committed no-op")
        // readback minus the disjoint stamped markers; value doubling is
        // exact in binary, so the compare needs no rounding
        eventsCols(TxStore.read(s, store).filter(col("event_id") >= 0))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       CASE WHEN event_type = (SELECT MIN(event_type) FROM events)
             |            THEN value * 2 ELSE value END AS value,
             |       props
             |FROM events""".stripMargin),
      bench = true),

    // ── S23 — data skipping on STRING stats: the table is laid out by
    //    event_type (range partitioning clusters the five values into
    //    separate files), commits carry ASCII string min/max, and an
    //    equality predicate prunes every file whose lexicographic range
    //    excludes the value. Same REQUIRE-skipped + oracle-pins-content
    //    contract as s22 — together they cover both range kinds the
    //    stats codec carries.
    QueryDef(
      "s23_tx_skipping_str",
      (s, d) => {
        val store = freshStore(s, "s23-skipstr", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartitionByRange(5, col("event_type")), store)
        val pred = col("event_type") === "click"
        val (_, kept, skipped) = TxStore.pruneFiles(s, store, pred)
        require(skipped.nonEmpty,
          s"type-clustered layout + equality must skip files (kept ${kept.size})")
        eventsCols(TxStore.readWhere(s, store, pred))
      },
      Some(eventsSql(" WHERE event_type = 'click'"))),

    // ── S24 — Z-ORDER layout × log-level skipping: the multi-dim
    //    synergy the two features exist for. The table is written
    //    range-laid-out on the Morton curve (Compaction.zOrderKey over
    //    (event_id, user_id)), so every file is a small hyper-rectangle
    //    in BOTH dimensions and the commit log's min/max stats prune
    //    files for predicates on EITHER column — a lexicographic sort
    //    would prune only its leading key. The lane REQUIRES skipping
    //    on each dimension independently, then hash-matches the 2-D
    //    pruned read.
    QueryDef(
      "s24_tx_zorder_skipping",
      (s, d) => {
        val store = freshStore(s, "s24-zskip", d)
        val ev = Tables.events(s, d)
        // bits = 6 (64 buckets/dim): 16 output files consume only the
        // top 2 z-bits per dimension, so finer curve resolution buys
        // nothing here while the bucket-lookup fold costs ~4× more at
        // 8 bits. The keyed frame persists across the range-sampling
        // and write passes — the fold is an interpreted HOF and would
        // otherwise be evaluated twice per row.
        val z = Compaction.zOrderKey(ev, Seq("event_id", "user_id"), bits = 6)
        val keyed = ev.withColumn("__z", z).persist()
        try
          TxStore.append(
            keyed.repartitionByRange(16, col("__z"))
              .sortWithinPartitions("__z").drop("__z"),
            store)
        finally keyed.unpersist(): Unit
        val (_, _, skipEvent) = TxStore.pruneFiles(s, store, col("event_id") <= 500L)
        val (_, _, skipUser) = TxStore.pruneFiles(s, store, col("user_id") <= 3L)
        require(skipEvent.nonEmpty && skipUser.nonEmpty,
          s"z-order must let BOTH dimensions prune (event ${skipEvent.size}, " +
            s"user ${skipUser.size})")
        eventsCols(
          TxStore.readWhere(s, store, col("event_id") <= 500L && col("user_id") <= 3L))
      },
      Some(eventsSql(" WHERE event_id <= 500 AND user_id <= 3"))),

    // ── S25 — merge-on-read DELETE via deletion vectors: the %1000
    //    rows (0.1% — the SELECTIVE-delete shape the feature exists
    //    for; a bulk delete belongs on the copy-on-write path and is
    //    refused by maxDvRows at any scale) are marked deleted in the
    //    LOG (one tiny commit, positions via _metadata.row_index) —
    //    the lane REQUIRES the file set is byte-identical before/after
    //    (a rewrite would pass the readback but defeat the feature),
    //    then the oracle pins that every read path applies the marks:
    //    the snapshot read must hash-match SQL DELETE semantics
    //    exactly. Compare s15 (copy-on-write) — same oracle shape,
    //    opposite physical trade.
    QueryDef(
      "s25_tx_delete_dv",
      (s, d) => {
        val store = freshStore(s, "s25-dvdelete", d)
        TxStore.append(Tables.events(s, d), store) // v1
        val before = TxStore.snapshot(s, store).files.toSet
        TxStore.deleteVectored(s, store, col("event_id") % 1000 === 0) // v2
        require(TxStore.snapshot(s, store).files.toSet == before,
          "deletion-vector delete must not add or remove data files")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 1000 <> 0"))),

    // ── S26 — RESTORE: v2 overwrites the table down to the %7 slice
    //    (the "accident"), one restore commit rewinds to v1, and the
    //    readback must hash-match the v1 content — while v2 stays in
    //    the log (time travel to it still works, asserted by the spec;
    //    the lane pins the restored LIVE state byte-for-byte).
    QueryDef(
      "s26_tx_restore",
      (s, d) => {
        val store = freshStore(s, "s26-restore", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), store) // v1
        TxStore.overwrite(ev.filter(col("event_id") % 7 === 0), store) // v2
        TxStore.restore(s, store, 1L) // v3
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 2 = 0"))),

    // ── S28 — OPTIMIZE ZORDER on an EXISTING table: the table lands
    //    round-robin scattered (every file spans the full domain of
    //    both columns — log stats can refute nothing, REQUIRED below),
    //    one optimize-zorder commit rewrites it clustered on the
    //    (event_id, user_id) curve, and the SAME predicates must now
    //    prune on each dimension. The readback oracle pins the rewrite
    //    as pure physical. Compare s24, which gets the layout at
    //    append time — this is the retrofit path a table that grew
    //    messy actually runs.
    QueryDef(
      "s28_tx_optimize_zorder",
      (s, d) => {
        val store = freshStore(s, "s28-optimize", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartition(8), store) // v1 — scattered layout
        val evPred = col("event_id") <= 500L
        val userPred = col("user_id") <= 3L
        val (_, _, skipBefore) = TxStore.pruneFiles(s, store, evPred)
        require(skipBefore.isEmpty,
          s"scattered layout must be unprunable, yet skipped ${skipBefore.size}")
        TxStore.compactZOrder(s, store, Seq("event_id", "user_id")) // v2
        val (_, _, skipEvent) = TxStore.pruneFiles(s, store, evPred)
        val (_, _, skipUser) = TxStore.pruneFiles(s, store, userPred)
        require(skipEvent.nonEmpty && skipUser.nonEmpty,
          s"optimize must make BOTH dimensions prunable (event ${skipEvent.size}, " +
            s"user ${skipUser.size})")
        eventsCols(TxStore.readWhere(s, store, evPred && userPred))
      },
      Some(eventsSql(" WHERE event_id <= 500 AND user_id <= 3"))),

    // ── S43 — PARTITION-SCOPED OPTIMIZE ZORDER (Delta's `OPTIMIZE …
    //    WHERE <partition predicate> ZORDER BY`): on a hive-partitioned
    //    table that landed scattered, ONE optimize commit rewrites only
    //    the matching partition's files clustered on the
    //    (event_id, user_id) curve — per-partition rewrite, the only
    //    OPTIMIZE a 100 TB table ever runs (yesterday's partition,
    //    never the lake). The REQUIREs pin the composition s40 + s28
    //    promise separately: partition pruning drops the other
    //    partitions from LOG METADATA, then z-order stats prune WITHIN
    //    the optimized partition on both curve dimensions, while a
    //    not-optimized partition stays scattered-unprunable and its
    //    files stay untouched bytes.
    QueryDef(
      "s43_tx_partitioned_optimize",
      (s, d) => {
        val store = freshStore(s, "s43-partopt", d)
        val ev = Tables.events(s, d)
        // 8 round-robin files per partition: every file spans the full
        // event_id/user_id domain, so stats can refute nothing yet
        TxStore.append(ev.repartition(8), store, partitionBy = Seq("event_type")) // v1
        val clickEv = col("event_type") === "click" && col("event_id") <= 500L
        val before = TxStore.pruneFiles(s, store, clickEv)
        require(before._2.nonEmpty && before._2.forall(_.startsWith("event_type=click/")) &&
          before._3.forall(!_.startsWith("event_type=click/")),
          "partition pruning must already drop other partitions, stats nothing within")
        val untouched = TxStore.snapshot(s, store).files.filterNot(_.startsWith("event_type=click/"))
        TxStore.compactZOrder(s, store, Seq("event_id", "user_id"), target = 8,
          where = Some(col("event_type") === "click")) // v2
        val c = TxStore.history(s, store).last
        require(c.op == "optimize-zorder" &&
          c.remove.nonEmpty && c.remove.forall(_.startsWith("event_type=click/")),
          s"optimize must rewrite ONLY the click partition; removed ${c.remove.take(3)}")
        require(untouched.forall(TxStore.snapshot(s, store).files.contains),
          "other partitions' files must survive the scoped optimize")
        // composition: partition pruning (log metadata) + z-stats
        // pruning (within the optimized partition) on BOTH dimensions
        val (_, keptEv, skipEv) = TxStore.pruneFiles(s, store, clickEv)
        require(keptEv.nonEmpty && keptEv.forall(_.startsWith("event_type=click/")),
          "partition pruning must still scope to click")
        require(skipEv.exists(_.startsWith("event_type=click/")),
          "z-order stats must now prune within the optimized partition (event_id)")
        val (_, _, skipUser) = TxStore.pruneFiles(s, store,
          col("event_type") === "click" && col("user_id") <= 3L)
        require(skipUser.exists(_.startsWith("event_type=click/")),
          "z-order stats must prune the second curve dimension too (user_id)")
        // a not-optimized partition stays scattered: nothing of it prunes
        val (_, keptV, skipV) = TxStore.pruneFiles(s, store,
          col("event_type") === "view" && col("event_id") <= 500L)
        require(skipV.forall(!_.startsWith("event_type=view/")) && keptV.nonEmpty,
          "the view partition was not optimized — its files must all survive pruning")
        eventsCols(TxStore.readWhere(s, store, clickEv))
      },
      Some(eventsSql(" WHERE event_type = 'click' AND event_id <= 500")),
      bench = true),

    // ── S44 — SIZE-AWARE SMALL-FILE COMPACTION (Delta's bin-packing
    //    OPTIMIZE): a streaming-style trickle lands 8 per-batch files
    //    beside one properly-sized file; ONE compact commit bin-packs
    //    only the sub-floor files into ~target-sized outputs and the
    //    big file is untouched BYTES (where `compact` would rewrite
    //    the whole table — the re-layout tool, not the nightly
    //    maintenance job every streaming-ingested 100 TB table runs).
    //    IO is proportional to the SMALL-file volume only; the
    //    REQUIREs pin candidate selection (only the trickle files
    //    removed), survivor identity (the big file stays live), and
    //    the bin math (8 trickle files → 1 packed file); the readback
    //    oracle pins the rewrite as pure physical.
    QueryDef(
      "s44_tx_small_file_compact",
      (s, d) => {
        val store = freshStore(s, "s44-smallfiles", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0).repartition(1), store) // v1: big
        for (w <- 0 until 8) // 8 small odd-id batches (streaming trickle)
          TxStore.append(
            ev.filter(col("event_id") % 16 === 2 * w + 1).repartition(1), store)
        val files0 = TxStore.snapshot(s, store).files
        require(files0.size == 9, s"fixture: 1 big + 8 small, got ${files0.size}")
        val big = files0.maxBy(fl => new java.io.File(s"$store/data/$fl").length)
        val bigLen = new java.io.File(s"$store/data/$big").length
        TxStore.compactSmallFiles(s, store,
          targetBytes = bigLen * 4, minBytes = bigLen) // v10
        val c = TxStore.history(s, store).last
        require(c.op == "compact" && !c.remove.contains(big) && c.remove.size == 8,
          s"only the 8 trickle files may rewrite; removed ${c.remove.size}")
        val after = TxStore.snapshot(s, store).files
        require(after.contains(big) && after.size == 2,
          s"big file untouched + one packed file, got ${after.size}")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql("")),
      bench = true),

    // ── S47 — MAINTENANCE SQL: the nightly-operations statements
    //    (OPTIMIZE / DESCRIBE HISTORY / RESTORE / VACUUM) as SQL TEXT
    //    through `spark.sql` — Spark's grammar knows none of them, so
    //    graft's parser extension turns each into a command whose table
    //    the analyzer resolves, like DML's.
    //    The lane drives the full lifecycle: a trickle-ingested table
    //    is OPTIMIZEd (bin-packing commit), its history read back as a
    //    frame (metadata-only, log-scale), RESTOREd to v1 (a NEW
    //    commit re-adding v1's live set — history stays append-only),
    //    then VACUUMed past a checkpoint so the final readback — which
    //    must hash-match the v1 content — runs PHYSICALLY from the
    //    files the reap left behind. REQUIREs pin each statement's
    //    commit op; the oracle pins the restored content exactly.
    QueryDef(
      "s47_sql_maintenance",
      (s, d) => {
        val store = freshStore(s, "s47-maint", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0).repartition(1), store) // v1
        for (w <- 0 until 4) // odd-id trickle, 4 small files (v2..v5)
          TxStore.append(ev.filter(col("event_id") % 8 === 2 * w + 1).repartition(1), store)
        val sql = TxCatalog.session(s, TxCatalog.parse(s, s"mt=$store"))
        // (summary rows, the version committed)
        def run(stmt: String) = {
          val (df, w) = TxCatalog.artifact(GraftSqlParser.sql(sql, stmt))
          (df, w.flatMap(_.version))
        }
        val filesBefore = TxStore.snapshot(s, store).files.size // 1 big + 4 trickle
        val (_, optimized) = run("OPTIMIZE mt")
        require(optimized.isDefined && TxStore.history(s, store).last.op == "compact",
          "OPTIMIZE must land a bin-packing compact commit")
        // scale-honest bin math: at bench SFs every file sits under the
        // 64 MB floor and all 5 fold into one; at century scale the big
        // v1 file crosses the floor and is untouched BYTES while the
        // trickle still folds — either way strictly fewer files
        require(TxStore.snapshot(s, store).files.size < filesBefore,
          "the sub-floor trickle files must fold")
        val (hist, _) = run("DESCRIBE HISTORY mt")
        require(hist.count() == 6 &&
          hist.columns.sameElements(Array("version", "ts", "op", "n_add", "n_remove")),
          "DESCRIBE HISTORY must answer one row per commit")
        val (_, restored) = run("RESTORE TABLE mt TO VERSION AS OF 1")
        require(restored.contains(7L) && TxStore.history(s, store).last.op == "restore",
          "RESTORE must land a new commit, never rewrite history")
        // reap everything the restore orphaned; the readback below must
        // survive on the kept files alone
        TxStore.checkpoint(s, store) // v8
        val (vac, _) = run("VACUUM mt RETAIN 1 VERSIONS GRACE 0 MS")
        require(vac.select("files_deleted").head.getLong(0) >= 4,
          "VACUUM must reap the trickle + packed files the restore orphaned")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 2 = 0")),
      bench = true),

    // ── S48 — STREAMING CDF FOLLOW: a TxStore table as a STREAMING
    //    SOURCE (Delta's readStream-on-a-table) through
    //    StreamingCdf.follow — graft's change-feed source, whose offset
    //    is the commit version and whose batches are readChangesBetween's
    //    row-level changes, into graft's sink, exactly-once by stamped
    //    appends (s59 wires the same pieces by hand). TWO drains: the
    //    first moves v1 (the initial snapshot as the inserts it was),
    //    the second resumes from the stream checkpoint and moves ONLY v2
    //    (a copy-on-write delete → delete rows). The REQUIRE pins
    //    stream ≡ batch CDC; the oracle pins the full change history
    //    exactly: inserts = the even-id half at v1, deletes = the %4
    //    rows at v2.
    QueryDef(
      "s48_tx_cdf_follow",
      (s, d) => {
        val src = freshStore(s, "s48-src", d)
        val sink = freshStore(s, "s48-sink", d)
        val ckpt = freshStore(s, "s48-ckpt", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), src) // v1
        require(StreamingCdf.follow(s, src, sink, ckpt).awaitTermination(300000),
          "first CDF drain timed out")
        val firstDrain = TxStore.snapshot(s, sink).version
        TxStore.delete(s, src, col("event_id") % 4 === 0) // v2
        require(StreamingCdf.follow(s, src, sink, ckpt).awaitTermination(300000),
          "resumed CDF drain timed out")
        require(TxStore.snapshot(s, sink).version > firstDrain,
          "the resumed drain must land v2's changes in a new sink commit")
        val streamed = TxStore.read(s, sink)
        val batch = TxStore.readChangesSince(s, src, 0L)._2
        // multiset equality in two actions, not three (r17): |S| = |B|
        // and S∖B = ∅ (exceptAll is multiset subtract, so S ⊆ B) already
        // force S = B — the reverse exceptAll re-proved the same fact
        // for one more full comparison job per run
        require(streamed.count() == batch.count() &&
          streamed.exceptAll(batch).isEmpty,
          "the follower's history table must equal the batch CDC read exactly")
        streamed.select(col("event_id"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"),
          col("_change_type"), col("_commit_version"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
             |FROM events WHERE event_id % 2 = 0
             |UNION ALL
             |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'delete' AS "_change_type", CAST(2 AS BIGINT) AS "_commit_version"
             |FROM events WHERE event_id % 4 = 0""".stripMargin),
      bench = true),

    // ── S59 — NATIVE CDF FOLLOW (EXT75 + EXT78 composed): the s48
    //    shape rebuilt ENTIRELY from engine-native streaming pieces —
    //    `readStream.format("graft")` (the v1-Source-behind-v2-table
    //    change feed, O(commits) offset polling) piped into
    //    `writeStream.format("graft")` (per-batch exactly-once
    //    appendOnce commits) — no foreachBatch hand assembly. The
    //    REQUIREs pin drain + resume landing exactly the batch CDC
    //    read; the oracle pins the rows. Gives EXT75 the registry lane
    //    it shipped without (r15: spec-only).
    QueryDef(
      "s59_cdf_native_follow",
      (s, d) => {
        val src = freshStore(s, "s59-src", d)
        val sink = freshStore(s, "s59-sink", d)
        val ckpt = freshStore(s, "s59-ckpt", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.filter(col("event_id") % 2 === 0), src) // v1
        def drain(): Unit = {
          val q = s.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(sink)
          require(q.awaitTermination(300000), "CDF drain timed out")
        }
        drain()
        val firstDrain = TxStore.snapshot(s, sink).version
        require(firstDrain > 0, "the first drain must land the v1 inserts")
        TxStore.delete(s, src, col("event_id") % 4 === 0) // v2
        drain()
        require(TxStore.snapshot(s, sink).version > firstDrain,
          "the resumed drain must land v2's changes in a new sink commit")
        // replay with nothing new: the stamped sink must not re-append
        val settled = TxStore.snapshot(s, sink).version
        drain()
        require(TxStore.snapshot(s, sink).version == settled,
          "an empty resume must be a committed no-op (exactly-once sink)")
        val streamed = TxStore.read(s, sink)
        val batch = TxStore.readChangesSince(s, src, 0L)._2
        // |S| = |B| ∧ S∖B = ∅ ⇒ S = B (multisets) — see the s48 note
        require(streamed.count() == batch.count() &&
          streamed.exceptAll(batch).isEmpty,
          "the native follower's history table must equal the batch CDC read exactly")
        streamed.select(col("event_id"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"),
          col("_change_type"), col("_commit_version"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
             |FROM events WHERE event_id % 2 = 0
             |UNION ALL
             |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'delete' AS "_change_type", CAST(2 AS BIGINT) AS "_commit_version"
             |FROM events WHERE event_id % 4 = 0""".stripMargin),
      bench = true),

    // ── S49 — CONVERT TO TX: adopt a pre-existing plain-parquet estate
    //    (hive-partitioned, written by Spark's own writer) into a
    //    transactional table IN PLACE — Delta's CONVERT TO DELTA, the
    //    migration path for the 100 TB a lake already holds, where any
    //    rewriting converter would cost a full copy. The REQUIREs pin
    //    the three claims that make convert convert: (1) ZERO data IO —
    //    every adopted file keeps its exact byte length under its
    //    original partition path; (2) file skipping works from the
    //    FIRST read — partition dirs prune from the commit's names,
    //    and the footer-harvested stats prune within a partition
    //    (the estate was range-laid-out on event_id, so ranges refute);
    //    (3) the adopted table is a full citizen — a partition DELETE
    //    lands as v2 and the oracle pins the post-DML readback exactly.
    QueryDef(
      "s49_tx_convert",
      (s, d) => {
        val store = freshStore(s, "s49-convert", d)
        val ev = Tables.events(s, d)
        ev.repartitionByRange(4, col("event_id"))
          .write.partitionBy("event_type").parquet(store)
        def walk(dir: java.io.File, prefix: String): Seq[(String, Long)] =
          dir.listFiles().toSeq.flatMap { ch =>
            if (ch.isDirectory) walk(ch, s"$prefix${ch.getName}/")
            else if (ch.getName.endsWith(".parquet") &&
              !ch.getName.startsWith("_") && !ch.getName.startsWith("."))
              Seq((s"$prefix${ch.getName}", ch.length()))
            else Nil
          }
        val before = walk(new java.io.File(store), "").toMap
        require(before.nonEmpty, "fixture: the estate must hold parquet files")
        val r = GraftSqlParser.sql(s, s"CONVERT TO TX '$store'").head()
        require(r.getAs[Long]("version") == 1L &&
          TxStore.history(s, store).head.op == "convert",
          "convert must publish exactly one v1 commit")
        val snap = TxStore.snapshot(s, store)
        val after = snap.files
          .map(fl => fl -> new java.io.File(s"$store/data/$fl").length()).toMap
        require(after == before,
          "convert must RENAME the estate's files — same paths, same bytes")
        val (_, kept, skipped) = TxStore.pruneFiles(s, store,
          col("event_type") === "click" && col("event_id") <= 100L)
        require(kept.nonEmpty && kept.forall(_.startsWith("event_type=click/")),
          "partition pruning must scope the first read to the click dir")
        require(skipped.exists(_.startsWith("event_type=click/")),
          "footer-harvested stats must prune within the partition too")
        TxStore.delete(s, store, col("event_type") === "view") // v2
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_type <> 'view'")),
      bench = true),

    // ── S50 — SQL DDL: ALTER TABLE statements (RENAME/ADD/DROP COLUMN,
    //    ADD CONSTRAINT) run by Spark over a `--tx` name and applied by
    //    the catalog's alterTable on the schema-evolution API —
    //    four ALTERs, and the REQUIRE pins what makes them lake-grade:
    //    ALL metadata-only (the file set stays byte-identical through
    //    the whole sequence — rename rides the column mapping, add/drop
    //    restate schema/mapping, the constraint validates in one pass
    //    and writes only the log). The oracle reads the table under the
    //    ALTERed schema: value surfaces as score, tag reads NULL in
    //    every pre-ALTER row, props is gone.
    QueryDef(
      "s50_sql_ddl",
      (s, d) => {
        val store = freshStore(s, "s50-ddl", d)
        TxStore.append(Tables.events(s, d), store) // v1
        val files1 = TxStore.snapshot(s, store).files.toSet
        val sql = TxCatalog.session(s, TxCatalog.parse(s, s"mt=$store"))
        def run(stmt: String): Unit = sql.sql(stmt): Unit
        run("ALTER TABLE mt RENAME COLUMN value TO score") // v2
        run("ALTER TABLE mt ADD COLUMN tag STRING") // v3
        run("ALTER TABLE mt DROP COLUMN props") // v4
        run("ALTER TABLE mt ADD CONSTRAINT nonneg CHECK (score >= -1e18)") // v5
        require(TxStore.history(s, store).map(_.op) ==
          Seq("append", "rename-column", "add-column", "drop-column", "constraint"),
          "each ALTER must land as its own metadata commit")
        require(TxStore.snapshot(s, store).files.toSet == files1,
          "ALTERs are metadata-only — no data file may be added or rewritten")
        TxStore.read(s, store).select(col("event_id"), expr("ts div 1000").as("ts_us"),
          col("user_id"), col("event_type"), col("score"), col("tag"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
             |       value AS score, CAST(NULL AS VARCHAR) AS tag
             |FROM events""".stripMargin),
      bench = true),

    // ── S29 — MULTI-PART CHECKPOINT: the restated per-file stats and
    //    deletion vectors shard into sidecar files (2 files per shard
    //    here, so an 8-file table crosses several shard boundaries) and
    //    the commit line is just the manifest — the Delta multi-part
    //    parquet-checkpoint shape, ending the O(live files × payload)
    //    single-line restatement. vacuum(retainVersions = 1) then prunes
    //    every pre-checkpoint commit file, so the readback that must
    //    hash-match runs PHYSICALLY from checkpoint + sidecars alone:
    //    sharded stats must still prune (REQUIRED) and sharded vectors
    //    must still apply (the %100 rows stay dead in the oracle).
    QueryDef(
      "s29_tx_checkpoint_multipart",
      (s, d) => {
        val store = freshStore(s, "s29-ckptmp", d)
        val ev = Tables.events(s, d)
        TxStore.append(ev.repartitionByRange(8, col("event_id")), store) // v1
        TxStore.deleteVectored(s, store, col("event_id") % 100 === 0) // v2
        TxStore.checkpoint(s, store, shardFiles = 2) // v3 — 4 sidecars
        TxStore.vacuum(s, store, retainVersions = 1, ageGraceMs = 0L)
        val ck = TxStore.history(s, store).head
        require(ck.op == "checkpoint" && ck.sidecars.size >= 2 && ck.stats.isEmpty,
          s"checkpoint must shard its restatement (got ${ck.sidecars.size} sidecars)")
        val (_, _, skipped) = TxStore.pruneFiles(s, store, col("event_id") <= 500L)
        require(skipped.nonEmpty, "sidecar-restated stats must still prune files")
        eventsCols(TxStore.read(s, store))
      },
      bench = true,
      sql = Some(eventsSql(" WHERE event_id % 100 <> 0"))),

    // ── S30 — BULK vectored delete through the DV SIDECAR: the %3 rows
    //    (a third of the table — far past any sane inline-line budget)
    //    are marked deleted via ONE sidecar of delta-varint packed
    //    positions referenced from the commit; the line itself carries
    //    nothing (REQUIRED). File set must stay byte-identical (still
    //    merge-on-read), and the oracle pins that every read path
    //    applies the sidecar marks exactly like inline ones. This is
    //    the production DV form — a 0.1% delete on a 10⁹-row table is
    //    10⁶ positions, which the s25 inline path structurally cannot
    //    carry.
    QueryDef(
      "s30_tx_delete_dv_sidecar",
      (s, d) => {
        val store = freshStore(s, "s30-dvsc", d)
        TxStore.append(Tables.events(s, d), store) // v1
        val before = TxStore.snapshot(s, store).files.toSet
        TxStore.deleteVectored(s, store, col("event_id") % 3 === 0, inlineDvRows = 0) // v2
        val c = TxStore.history(s, store).last
        require(c.op == "delete-dv" && c.dv.isEmpty && c.sidecars.size == 1,
          "bulk marks must ride the sidecar, not the commit line")
        require(TxStore.snapshot(s, store).files.toSet == before,
          "sidecar delete must not add or remove data files")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 3 <> 0"))),

    // ── S31 — DISTRIBUTED parquet deletion vectors: the bulk path with
    //    NO driver row collect at all — executors write the marked
    //    (file, row) positions as parquet under _txlog/_sidecar/, the
    //    commit references the dir through a text sidecar listing the
    //    covered files (file-level metadata only), and every read path
    //    unions the dir into the anti-join. The production Delta DV
    //    shape: vector payloads are data-plane files; the log carries
    //    references. REQUIRED: the commit line stays payload-free, the
    //    file set stays byte-identical, and the oracle pins that
    //    parquet-vector marks apply exactly like inline ones.
    QueryDef(
      "s31_tx_delete_dv_distributed",
      (s, d) => {
        val store = freshStore(s, "s31-dvdist", d)
        TxStore.append(Tables.events(s, d), store) // v1
        val before = TxStore.snapshot(s, store).files.toSet
        TxStore.deleteVectoredBulk(s, store, col("event_id") % 3 === 0) // v2
        val c = TxStore.history(s, store).last
        require(c.op == "delete-dv" && c.dv.isEmpty && c.sidecars.size == 1,
          "bulk marks must ride the parquet dir, never the commit line")
        require(TxStore.snapshot(s, store).files.toSet == before,
          "distributed-dv delete must not add or remove data files")
        eventsCols(TxStore.read(s, store))
      },
      Some(eventsSql(" WHERE event_id % 3 <> 0"))),

    // ── S32 — ROW-LEVEL CDC: the change-data-feed read. Three commits
    //    — append, merge-on-read vectored delete (parquet marks), and a
    //    copy-on-write delete — then ONE readChangesSince(0) must emit
    //    every logical row change with its type and version: the
    //    appended rows as v1 inserts, the newly marked positions as v2
    //    deletes (positions identify rows without any diff), and the
    //    rewrite's effective-row exceptAll as v3 deletes (the marks
    //    already dead at v2 must NOT re-emit — the oracle's v3 branch
    //    excludes them). This is the seam an incremental consumer polls
    //    instead of re-scanning 100 TB; readAppendsSince stays as the
    //    cheaper appends-only sibling.
    QueryDef(
      "s32_tx_cdc_row",
      (s, d) => {
        val store = freshStore(s, "s32-cdc", d)
        TxStore.append(Tables.events(s, d), store) // v1: inserts
        TxStore.deleteVectoredBulk(s, store, col("event_id") % 100 === 0) // v2: MoR deletes
        TxStore.delete(s, store, col("user_id") === 7L) // v3: CoW deletes
        val (v, ch) = TxStore.readChangesSince(s, store, 0L)
        require(v == 3L, s"expected log at v3, got v$v")
        ch.select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"),
          col("_change_type"), col("_commit_version"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
             |FROM events
             |UNION ALL
             |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'delete', 2 FROM events WHERE event_id % 100 = 0
             |UNION ALL
             |SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props,
             |       'delete', 3 FROM events
             |WHERE user_id = 7 AND event_id % 100 <> 0""".stripMargin)),

    // ── S33 — incremental rollup maintenance from ROW-level CDC: the
    //    s20 materialized-view pattern generalized to a source that
    //    DELETES. Step 1 folds the appended rows (+1 each); vectored +
    //    copy-on-write deletes land; step 2 folds BOTH delete commits
    //    as −1s — never re-scanning the table, exact because the state
    //    is all-integer. A third advance must no-op (exactly-once: the
    //    position rides in the rollup store's own commit stamps). The
    //    oracle is the full recompute over the surviving rows — green
    //    means two incremental folds ≡ the from-scratch rollup.
    QueryDef(
      "s33_tx_cdc_rollup",
      (s, d) => {
        val src = freshStore(s, "s33-src", d)
        val rep = freshStore(s, "s33-rep", d)
        TxStore.append(Tables.events(s, d), src) // v1
        IncrementalReport.advanceCounts(s, src, rep) // fold inserts
        TxStore.deleteVectoredBulk(s, src, col("event_id") % 100 === 0) // v2
        TxStore.delete(s, src, col("user_id") === 7L) // v3
        val v = IncrementalReport.advanceCounts(s, src, rep) // fold deletes
        require(v == 3L, s"expected to consume through v3, got v$v")
        require(IncrementalReport.advanceCounts(s, src, rep) == 3L,
          "a caught-up advance must no-op at the same position")
        TxStore.read(s, rep).filter(col("n_events") =!= 0L)
          .select(col("user_id"), col("event_type"), col("n_events"))
      },
      Some("""SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM events
             |WHERE event_id % 100 <> 0 AND user_id <> 7
             |GROUP BY 1, 2""".stripMargin)))

  /** s45/s51/s58: with `store` laid out so that `pred` skips some files
    * and keeps others, run `read` (a `pred` read) and REQUIRE that the
    * scan in its executed plan kept and skipped exactly the files the
    * readWhere stats walk does. */
  private def prunedLikeReadWhere(
      s: org.apache.spark.sql.SparkSession, store: String, pred: org.apache.spark.sql.Column,
      what: String)(read: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (_, kept, skipped) = TxStore.pruneFiles(s, store, pred)
    require(skipped.nonEmpty && kept.nonEmpty,
      s"the layout and predicate must skip files (kept ${kept.size}, skipped ${skipped.size})")
    val df = read
    val planned = GraftScan.planned(df)
    require(planned.exists(p => p.kept.toSet == kept.toSet && p.skipped.toSet == skipped.toSet),
      s"the $what must skip the SAME file set readWhere skips " +
        s"($what ${planned.head.skipped.size}, walk ${skipped.size})")
    df
  }

  /** A per-(query, dir, process) TxStore path, wiped before use — a
    * reused log would replay the previous run's commits on top of this
    * one's and (correctly) fail the readback oracle. */
  private def freshStore(
      s: org.apache.spark.sql.SparkSession, name: String, dataDir: String): String = {
    val store = tmp(name, dataDir)
    val p = new org.apache.hadoop.fs.Path(store)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.delete(p, true)
    store
  }
}
