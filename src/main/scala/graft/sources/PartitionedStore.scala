package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet layout — the engine's incremental-processing
  * story at scale. The reference's only incremental mechanism is splicing
  * date literals into SQL text (cj_builder.py:45–53; SURVEY.md §4
  * "partition pruning: manual"); here the tables are written
  * `partitionBy(date)`, so a date-bounded read prunes whole partitions at
  * planning time (`PartitionFilters` in the scan, verified in
  * PartitionedStoreSpec) and a daily pipeline run touches one partition,
  * not the full history.
  */
object PartitionedStore {

  /** Write `df` partitioned by the UTC date of its epoch-nanos `tsCol`.
    * `maxRecordsPerFile` guards against giant single files inside a hot
    * partition. */
  def writeByDate(
      df: DataFrame,
      tsCol: String,
      path: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    df.withColumn("date", date_format(graft.Tables.tsMicros(tsCol), "yyyy-MM-dd"))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("date")
      .parquet(path)

  /** Incremental keyed UPSERT of a batch into an existing date-partitioned
    * store — the daily-load merge pattern. Semantics: within each
    * (date, keyCol), a batch row replaces the stored row; stored rows
    * with no batch counterpart survive; partitions the batch does not
    * touch are NOT rewritten (their files stay byte-identical).
    *
    * Scale shape: the merge reads back ONLY the partitions the batch
    * touches (partition-pruned via an isin on the batch's distinct dates
    * — a tiny driver-side list, dates not keys), unions them with the
    * batch, keeps the batch row per key via a min-struct aggregate on a
    * precedence tag, and writes with DYNAMIC partition overwrite so the
    * commit replaces exactly the touched partitions. No full-table
    * rewrite, no row-at-a-time path (the reference's merge is a DELETE +
    * per-row INSERT loop, api_client.py:138–149). Not transactional
    * across concurrent writers — that needs a table format with a
    * transaction log; single-writer daily loads (the reference's DAG
    * topology) are exactly the supported contract.
    *
    * CONTRACT — `batch` must carry at most one row per (date, keyCol):
    * with duplicates, payload values would decide the winner (same
    * min-struct caveat as Dedup.keepFirst). Pre-aggregate upstream. */
  def upsertByDate(
      spark: SparkSession,
      batch: DataFrame,
      tsCol: String,
      keyCol: String,
      path: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    upsertDated(
      spark,
      batch.withColumn("date", date_format(graft.Tables.tsMicros(tsCol), "yyyy-MM-dd")),
      keyCol, path, maxRecordsPerFile)

  /** [[upsertByDate]] for a batch that ALREADY carries a `yyyy-MM-dd`
    * string `date` column (e.g. a windowed rollup whose date is the
    * window start, not a row timestamp). Same merge semantics and
    * single-writer contract. */
  def upsertByDateCol(
      spark: SparkSession,
      batch: DataFrame,
      keyCol: String,
      path: String,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    require(batch.columns.contains("date"),
      "upsertByDateCol needs a `date` column — use upsertByDate to derive one from a timestamp")
    upsertDated(spark, batch, keyCol, path, maxRecordsPerFile)
  }

  private def upsertDated(
      spark: SparkSession,
      dated: DataFrame,
      keyCol: String,
      path: String,
      maxRecordsPerFile: Long): Unit = {
    // the store exists once a write left a data entry under the path;
    // `_`/`.`-prefixed names are skipped as parquet discovery skips
    // them, so an empty or aborted-write directory still reads as new
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val merged =
      if (!exists) dated
      else {
        val touched = dated.select("date").distinct()
          .collect().map(_.getString(0)).toSeq
        val current = spark.read.parquet(path)
          .filter(col("date").cast("string").isin(touched: _*))
          .withColumn("date", col("date").cast("string"))
          .select(dated.columns.toSeq.map(col): _*) // align column order
        // precedence 0 = batch wins; min-struct keeps one row per key
        // with map-side combine (same shape as Dedup.keepFirst)
        val all = dated.withColumn("__prec", lit(0L))
          .unionByName(current.withColumn("__prec", lit(1L)))
        val payload = all.columns.filterNot(c => c == keyCol || c == "date")
        all.groupBy(col("date"), col(keyCol))
          .agg(min(struct(("__prec" +: payload.filterNot(_ == "__prec")).toSeq.map(col): _*)).as("__r"))
          .select(
            (col("date") +: col(keyCol) +:
              payload.filterNot(_ == "__prec").map(c => col(s"__r.$c").as(c))).toSeq: _*)
          .select(dated.columns.toSeq.map(col): _*)
      }
    // Dynamic overwrite as a PER-WRITE option, never a session conf: the
    // write executes under merged.sparkSession, which is NOT necessarily
    // the passed-in session — inside foreachBatch the batch frame belongs
    // to the stream's CLONED session, whose conf snapshot would still say
    // STATIC, and a static overwrite + partitionBy truncates the ENTIRE
    // store path (every untouched date partition gone). The writer option
    // binds the mode to this write regardless of which session runs it.
    merged.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("date")
      .parquet(path)
  }

  /** Read back with optional inclusive date bounds — the filter lands in
    * `PartitionFilters` (pruned before IO), not as a row-level scan
    * predicate. The partition column comes back as DateType (partition
    * type inference); the bounds are applied on it first — pruning needs
    * the raw partition column — and it is then cast to the engine's
    * `yyyy-MM-dd` string contract. */
  def read(
      spark: SparkSession,
      path: String,
      startDate: Option[String] = None,
      endDate: Option[String] = None): DataFrame = {
    val bounded = graft.AttributionPipeline.dateBounded(
      spark.read.parquet(path), col("date"), startDate, endDate)
    bounded.withColumn("date", col("date").cast("string"))
  }
}
