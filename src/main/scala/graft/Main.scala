package graft

import java.nio.file.{Files, Paths}

import graft.ops.{ExternalScorer, IhcScorer, JourneyBuilder}
import graft.sources.{GraftScan, GraftSqlParser, TxCatalog}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.util.QuotingUtils
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, to_timestamp}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** CLI mirroring the reference's per-step interface
  * (run_pipeline.py:31–106): each step runnable standalone against the
  * file contracts, or `all` in one process. Usage:
  *
  *   graft.Main --data-dir /root/testdata/sf0.01 --out-dir /tmp/out \
  *     [--step build-journeys|score|score-external|report|clean-corpus|all] \
  *     [--start-date YYYY-MM-DD] [--end-date YYYY-MM-DD] \
  *     [--max-sessions N]   // skew gate: skip conversions over N sessions
  *     [--min-tokens N] [--max-stopword-ratio X] [--jaccard-threshold X] \
  *     [--survivor-rule clustered|greedy]   // clean-corpus step only
  *     [--sql '<statement>' | --query file.sql] [--tx name=path[@vN],…]  // sql step
  *
  * `--data-dir` points at the driver testdata (domain mapping in Tables);
  * `--out-dir` receives customer_journeys/ (CSV),
  * attribution_customer_journey/ (parquet) and channel_reporting/ (CSV).
  * Date bounds follow the reference's asymmetry: build-journeys filters
  * the conversion date (cj_builder.py:45–53), report filters the session
  * date (⚠B5, channel_reporter.py:47–56). `--step sql` runs one
  * statement through `spark.sql` (maintenance statements through
  * [[graft.sources.GraftSqlParser.sql]] on a session built without
  * graft's parser), with `--tx` names resolved by
  * [[graft.sources.TxCatalog]], and lands its result as
  * out-dir/sql_result/ (parquet; a statement with no result columns
  * writes none). A write on a graft table (DELETE, UPDATE, MERGE,
  * INSERT) lands the rows its commits changed; a maintenance statement
  * (OPTIMIZE, VACUUM, RESTORE, DESCRIBE HISTORY/DETAIL, CONVERT TO TX,
  * SHALLOW CLONE; [[graft.sources.GraftSqlParser]]) lands its summary.
  */
object Main {

  private val KnownFlags = Set(
    "config", "data-dir", "out-dir", "step", "start-date", "end-date", "max-sessions",
    // clean-corpus step
    "min-tokens", "max-stopword-ratio", "jaccard-threshold", "survivor-rule",
    // sql step
    "query", "sql", "tx")

  /** Strict flag parsing: a typo'd or mispaired flag must fail loudly —
    * silently ignoring `--max-session 1000` would run WITHOUT the skew
    * gate the flag exists to enable. */
  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"arguments must be --flag value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && KnownFlags(k.drop(2)) => k.drop(2) -> v
      case Array(k, _) =>
        sys.error(s"unknown flag $k (known: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")})")
    }.toMap
  }

  /** The summary the reference prints after every report save
    * (channel_reporter.py:133–151). Computed from the artifact just
    * written — channel×date-sized, one tiny read — rather than from the
    * report frame, whose (unpersisted) lineage would re-run the step-3
    * joins a second time. */
  private def printSummary(spark: org.apache.spark.sql.SparkSession, outDir: String): Unit = {
    val rep = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$outDir/channel_reporting")
    ops.ChannelReport.summaryLines(rep).foreach(l => println(s"[graft] $l"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val spark = GraftSession.build(s"graft-${opts.getOrElse("step", "all")}")
    try run(spark, opts)
    finally spark.stop()
  }

  /** Step dispatch, separated from session lifecycle so tests can drive
    * the CLI against a shared session (main's `finally stop()` would
    * kill it for every later suite). */
  def run(spark: org.apache.spark.sql.SparkSession, opts: Map[String, String]): Unit = {
    // --config file supplies defaults (reference config.ini, config.py:17-36);
    // explicit flags override it
    val cfg = opts.get("config").map(Config.load).getOrElse(Config.Defaults)
    val dataDir = opts.getOrElse("data-dir", cfg.dataDir)
    val outDir = opts.getOrElse("out-dir", cfg.outDir)
    val step = opts.getOrElse("step", "all")
    val start = opts.get("start-date").orElse(cfg.startDate)
    val end = opts.get("end-date").orElse(cfg.endDate)
    // skew gate for the scorer window (C2 skip semantics; AQE cannot
    // split skewed WINDOW partitions) — off unless configured
    val maxSessions = opts.get("max-sessions").map(_.toInt).orElse(cfg.maxSessionsPerConversion)

    // lazy: clean-corpus runs against a corpus-only data dir where
    // events.parquet (and these readers' schema reads) may not exist
    lazy val conv = Tables.conversions(spark, dataDir)
    lazy val sess = Tables.sessions(spark, dataDir)
    lazy val costs = Tables.sessionCosts(spark, dataDir)

    step match {
      case "build-journeys" =>
        val j = AttributionPipeline.buildJourneys(conv, sess, start, end)
        require(AttributionPipeline.nonEmpty(j), "no customer journeys built")
        AttributionPipeline.writeCsv(JourneyBuilder.journeyOutput(j), s"$outDir/customer_journeys")
        println(s"[graft] journeys -> $outDir/customer_journeys")
      case "score" =>
        val j = AttributionPipeline.readJourneysCsv(spark, s"$outDir/customer_journeys")
        require(AttributionPipeline.nonEmpty(j), "no journeys to score")
        val attr = AttributionPipeline.score(j, maxSessions)
        AttributionPipeline.writeAttribution(attr, s"$outDir/attribution_customer_journey")
        println(s"[graft] attribution -> $outDir/attribution_customer_journey")
      case "score-external" =>
        // the pluggable-boundary path (S6): same contract as `score`,
        // batched per the config's request limits
        val j = AttributionPipeline.readJourneysCsv(spark, s"$outDir/customer_journeys")
          .withColumn("ts",
            to_timestamp(col("timestamp"), "yyyy-MM-dd HH:mm:ss").cast("long"))
        require(AttributionPipeline.nonEmpty(j), "no journeys to score")
        val gated = maxSessions.fold(j)(IhcScorer.sessionGate(j, _))
        val attr = IhcScorer.normalize(ExternalScorer.score(
          gated,
          maxJourneysPerRequest = cfg.maxJourneysPerRequest,
          maxSessionsPerRequest = cfg.maxSessionsPerRequest))
        AttributionPipeline.writeAttribution(attr, s"$outDir/attribution_customer_journey")
        println(s"[graft] attribution (external boundary) -> $outDir/attribution_customer_journey")
      case "report" =>
        val attr = spark.read.parquet(s"$outDir/attribution_customer_journey")
        val rep = AttributionPipeline.report(sess, costs, attr, conv, start, end)
        AttributionPipeline.writeCsv(rep, s"$outDir/channel_reporting")
        println(s"[graft] report -> $outDir/channel_reporting")
        printSummary(spark, outDir)
      case "all" =>
        AttributionPipeline.runAll(conv, sess, costs, outDir, start, end, maxSessions)
        printSummary(spark, outDir)
        println(s"[graft] pipeline complete -> $outDir")
      case "clean-corpus" =>
        // the training-data flow as a product step: quality gate →
        // exact dedup → LSH near-dup dedup over documents.parquet;
        // survivor rule `clustered` (default, one survivor per
        // connected near-dup component) or `greedy` (pairwise drop)
        val docs = Tables.documents(spark, dataDir)
        val minTokens = opts.get("min-tokens").map(_.toInt).getOrElse(10)
        val maxStop = opts.get("max-stopword-ratio").map(_.toDouble).getOrElse(0.5)
        val thresh = opts.get("jaccard-threshold").map(_.toDouble).getOrElse(0.5)
        val cleaned = opts.getOrElse("survivor-rule", "clustered") match {
          case "clustered" => ops.CorpusClean.cleanClustered(docs, minTokens, maxStop, thresh)
          case "greedy" => ops.CorpusClean.clean(docs, minTokens, maxStop, thresh)
          case other => sys.error(s"unknown --survivor-rule $other (clustered|greedy)")
        }
        cleaned.write.mode("overwrite").parquet(s"$outDir/clean_corpus")
        val s = ops.CorpusClean.stats(spark.read.parquet(s"$outDir/clean_corpus")).head()
        println(s"[graft] clean corpus -> $outDir/clean_corpus " +
          s"(docs=${s.getLong(0)}, tokens=${s.getLong(1)}, avg_tokens=${s.getDouble(2)})")
      case "sql" =>
        // the SQL entry point: one statement over every fixture table,
        // the attribution domain views and the --tx transactional
        // tables, result landed as parquet — the reference's native
        // interface (SQL text) without writing Scala
        val text = opts.get("sql")
          .orElse(opts.get("query").map(p => Files.readString(Paths.get(p))))
          .getOrElse(sys.error("--step sql needs --sql '<statement>' or --query <file.sql>"))
        // --tx name=path[@vN][,…] names resolve through the session
        // catalog of a fresh session, so the caller's session keeps its
        // catalog and temp views; `@vN` pins a read-only time-travel
        // version. Temp views resolve before any catalog, so a --tx name
        // drops the fixture view it shadows: every statement then
        // addresses the same table.
        val entries = opts.get("tx").toSeq.flatMap(TxCatalog.parse(spark, _))
        val session = TxCatalog.session(spark, entries)
        Tables.registerViews(session, dataDir)
        entries.foreach(e => session.catalog.dropTempView(e.name))
        val result = s"$outDir/sql_result"
        // Spark parses every statement, graft's maintenance statements
        // through graft's parser (the session's own when it was built
        // with graft's extension); reads plan the v2
        // pushed-filter scan, writes run through the catalog and
        // graft's planner hooks
        TxCatalog.artifact(GraftSqlParser.sql(session, text)) match {
          case (df, Some(w)) =>
            df.write.mode("overwrite").parquet(result)
            println(s"[graft] sql ${w.op} on '${w.name}' " +
              w.version.fold("(no commit)")(v => s"committed v$v") + s" -> $result")
          // a statement with no result columns (CREATE, DROP, SET …)
          // has already run; parquet cannot hold a zero-column frame
          case (df, None) if df.columns.isEmpty => println("[graft] sql ok (no result columns)")
          case (df, None) =>
            // each graft scan's pruning as the write ran it, runtime
            // filters included, named as the statement wrote the table
            val written = df.queryExecution.logical.collectWithSubqueries {
              case u: UnresolvedRelation => u.multipartIdentifier
              case RelationTimeTravel(u: UnresolvedRelation, _, _) => u.multipartIdentifier
            }
            def lc(parts: Seq[String]) = parts.map(_.toLowerCase(java.util.Locale.ROOT))
            val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
            val listener = new QueryExecutionListener {
              override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
                ran.add(qe): Unit
              override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
            }
            df.sparkSession.listenerManager.register(listener)
            try df.write.mode("overwrite").parquet(result)
            finally {
              ColumnBridge.drainListenerBus(spark.sparkContext, 10000L)
              df.sparkSession.listenerManager.unregister(listener)
            }
            ran.forEach(qe => GraftScan.named(qe).foreach { case (id, p) =>
              val name = written.find(w => lc(id).endsWith(lc(w))).getOrElse(id)
              println(s"[graft] sql scan on '${name.map(QuotingUtils.quoteIfNeeded).mkString(".")}' " +
                s"@v${p.version}: " + (
                  if (p.aggregatePushed) "aggregate answered from log metadata, no file read"
                  else s"skipped ${p.skipped.size} of ${p.kept.size + p.skipped.size} " +
                    "files from log metadata"))
            })
            println(s"[graft] sql -> $result")
        }
      case other =>
        sys.error(s"unknown --step $other (build-journeys|score|score-external|report|clean-corpus|sql|all)")
    }
  }
}
