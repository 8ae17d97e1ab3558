package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so engine, tests, Verify and Bench all run
  * under identical semantics:
  *
  *  - `spark.sql.ansi.enabled=false`: float division by zero yields NULL,
  *    matching the DuckDB oracle and the reference's pandas inf/NaN → 0
  *    cleanup (reference channel_reporter.py:114–118; SURVEY.md F8 maps it
  *    to `coalesce(x/y, 0)`).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: kept for fixture
  *    generations whose `events.ts` is Parquet TIMESTAMP(NANOS) (Spark
  *    has no native nanos type; the conf surfaces it as epoch-nanos
  *    LongType). Current fixtures carry plain `timestamp[us]`, which
  *    reads as TIMESTAMP_NTZ — `Tables.normalizeTs` converts either
  *    physical type to the engine's canonical epoch-nanos LongType with
  *    integer arithmetic only, so the conf is a no-op there but keeps
  *    old-style files readable.
  *  - UTC session timezone, so date/time string formatting matches the
  *    oracle byte-for-byte.
  *  - `spark.sql.shuffle.partitions` sized to the local core count, not the
  *    200 default; on a real cluster this is tuned to executor count and
  *    AQE coalesces post-shuffle partitions either way.
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]: see
  *    there.
  *  - `spark.sql.artifact.isolation.enabled=false`: Spark keys compiled
  *    classes by the thread's class loader, and with isolation on, every
  *    cloned session — each streaming query start — gets fresh executor
  *    class loaders, so each `start()` recompiled all of its
  *    executor-side classes (9 per call of the s59 CDF-follow lane).
  *    graft adds no per-session jars or files, which is all isolation
  *    separates.
  *
  * [[build]] is the only place a graft process creates its session: the
  * CLI and tool mains at `SPARK_GRAFT_CPUS` cores, the test suite at 4.
  * It builds the session with [[graft.functions.GraftExtensions]], so
  * the session and every `newSession()` of it parse graft's
  * maintenance SQL.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Compiled classes Spark keeps per JVM (its LRU cache of Janino output,
    * default 100). graft's working sets, measured at 4 cores:
    *
    *  - one `attribution_curation` benchmark iteration (attribution
    *    pipeline, corpus cleaning, LSH near-dup and top-k): ~174 classes;
    *  - one such hot-path pass on sf0.001 fixtures: ~152;
    *  - the whole 216-lane registry at sf0.001: 2 294.
    *
    * At 100 entries every repeat of a hot path evicted its own classes:
    * each warm `attribution_curation` iteration recompiled ~166 of them
    * (~10 ms each) and then ran its stages on code the JIT had not
    * compiled yet. 1 000 holds any one path several times over, and
    * every registry lane's own classes across its immediate repeats (the
    * min-of-5 protocol), without pinning the whole registry for the life
    * of the process.
    *
    * Who gains: a process that runs a plan more than once — warm bench
    * iterations, streaming micro-batches, iterative operators, the test
    * suite. A one-shot CLI step compiles each class once either way.
    * The cache is static per JVM and sized from the conf in force at the
    * first codegen; [[tune]] cannot set static confs, so a session a
    * caller created and handed in through `SparkEntry.entry` keeps the
    * size it was created with. */
  val CodegenCacheEntries = 1000

  def build(appName: String, cores: String = cpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the same SQL-conf semantics to an externally created session
    * (e.g. one a caller created and passed to `SparkEntry.entry`). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
