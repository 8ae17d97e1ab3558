package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{AttributionPipeline, Tables}
import graft.ops.{CorpusClean, Dedup, IhcScorer, Similarity}
import graft.sources.TxStore

/** What one iteration (or the end of a run) did. An operation is one
  * iteration on attribution_10x and corpus_curation, and one commit or
  * one read on table_upkeep; it fails when it throws or a check of its
  * output fails. */
final case class Outcome(
    attempted: Int = 0,
    failed: Int = 0,
    failures: Seq[String] = Nil,
    commitMs: Seq[Double] = Nil,
    readMs: Seq[Double] = Nil,
    layer: Map[String, Double] = Map.empty)

/** Collects the checks of one operation. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) failures += s"$name: $detail"
  def attempt[T](name: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  def close(rel: Double, a: Double, b: Double): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))
}

trait Workload {
  /** Prepares the run's state, such as the table it keeps up. */
  def start(spark: SparkSession): Unit = ()
  def iteration(spark: SparkSession, tr: Tracer): Outcome
  /** Untimed iterations after the set-up one, until CPU time per
    * iteration stops falling. */
  def warmup: Int = 1
  /** False once the generated input stream is used up. */
  def hasNext: Boolean = true
  /** Work that closes a run (table_upkeep's vacuum). */
  def finish(spark: SparkSession, tr: Tracer): Outcome = Outcome()
  /** Facts measured once per traced run, outside the timed iterations. */
  def facts(spark: SparkSession): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, data: String, work: String): Workload = {
    val exp = new ObjectMapper().readTree(new File(s"$data/expected.json"))
    name match {
      case "attribution_10x" => new Attribution(data, work, exp)
      case "corpus_curation" => new CorpusCuration(data, work, exp)
      case "attribution_curation" =>
        new Sequence(new Attribution(data, work, exp), new CorpusCuration(data, work, exp))
      case "table_upkeep" => new TableUpkeep(data, work, exp)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def single(c: Checks, layer: Map[String, Double] = Map.empty): Outcome =
    Outcome(1, if (c.failures.isEmpty) 0 else 1, c.failures.toSeq, layer = layer)

  def deleteDir(path: String): Unit = FileUtil.fullyDelete(new File(path)): Unit
}

/** Each iteration runs the parts' iterations one after the other and
  * counts as one operation, which fails when any part fails. */
final class Sequence(parts: Workload*) extends Workload {
  // one, not the parts' most: an iteration already runs every part, and a
  // second warm-up iteration would cost a run as much as a timed one
  override def warmup: Int = 1
  override def start(spark: SparkSession): Unit = parts.foreach(_.start(spark))
  override def hasNext: Boolean = parts.forall(_.hasNext)

  def iteration(spark: SparkSession, tr: Tracer): Outcome = {
    val outs = parts.map(_.iteration(spark, tr))
    val failures = outs.flatMap(_.failures)
    Outcome(1, if (failures.isEmpty) 0 else 1, failures, layer = outs.flatMap(_.layer).toMap)
  }

  override def facts(spark: SparkSession): Map[String, Double] = parts.flatMap(_.facts(spark)).toMap
}

/** `AttributionPipeline.runAll` over generated `events`, as
  * `Main --step all` runs it, followed by checks of the three artifacts. */
final class Attribution(data: String, work: String, exp: JsonNode) extends Workload {
  override def warmup: Int = 2
  private val out = s"$work/attribution"

  private val reportSchema = StructType(Seq(
    StructField("channel_name", StringType), StructField("date", StringType),
    StructField("cost", DoubleType), StructField("ihc", DoubleType),
    StructField("ihc_revenue", DoubleType), StructField("CPO", DoubleType),
    StructField("ROAS", DoubleType)))

  def iteration(spark: SparkSession, tr: Tracer): Outcome = {
    val c = new Checks
    val ran = c.attempt("runAll") {
      tr.span("pipeline.runAll") {
        AttributionPipeline.runAll(
          Tables.conversions(spark, data), Tables.sessions(spark, data),
          Tables.sessionCosts(spark, data), out)
      }
    }
    val layer = ran.flatMap(_ => c.attempt("read back") {
      tr.span("check") {
        val journeys = AttributionPipeline.readJourneysCsv(spark, s"$out/customer_journeys").count()
        val inv = IhcScorer.invariantReport(
          spark.read.parquet(s"$out/attribution_customer_journey")).head()
        val rep = spark.read.option("header", "true").schema(reportSchema)
          .csv(s"$out/channel_reporting")
          .agg(count(lit(1)), sum("cost"), sum("ihc"), sum("ihc_revenue")).head()
        val convs = inv.getLong(0)
        val ok = inv.getLong(1)
        c("journey_rows", journeys == exp.get("journey_rows").asLong,
          s"$journeys journey rows, expected ${exp.get("journey_rows").asLong}")
        c("attributed_conversions", convs == exp.get("attributed_conversions").asLong,
          s"$convs conversions, expected ${exp.get("attributed_conversions").asLong}")
        c("ihc_sum_per_conversion", ok == convs, s"${convs - ok} of $convs conversions off 1 by 1e-4")
        c("report_rows", rep.getLong(0) == exp.get("report_rows").asLong,
          s"${rep.getLong(0)} report rows, expected ${exp.get("report_rows").asLong}")
        for ((name, i) <- Seq("report_cost" -> 1, "report_ihc" -> 2, "report_ihc_revenue" -> 3))
          c(name, c.close(1e-6, rep.getDouble(i), exp.get(name).asDouble),
            s"${rep.getDouble(i)}, expected ${exp.get(name).asDouble}")
        Map("journey_builder.rows_out" -> journeys.toDouble,
          "ihc_scorer.invariant_violations" -> (convs - ok).toDouble)
      }
    }).getOrElse(Map.empty)
    Workload.single(c, layer)
  }
}

/** The corpus cleaning step (`Main --step clean-corpus`) and the two
  * LSH similarity kernels, with recall checked against planted
  * near-duplicates and exact neighbours. */
final class CorpusCuration(data: String, work: String, exp: JsonNode) extends Workload {
  private val out = s"$work/corpus/clean_corpus"
  private val groups = exp.get("planted_groups").elements.asScala
    .map(_.elements.asScala.map(_.asLong).toSeq).toSeq
  private val plantedPairs = exp.get("planted_vec_pairs").elements.asScala
    .map(p => (p.get(0).asLong, p.get(1).asLong)).toSet
  private val exactTopK: Map[Long, Set[Long]] = exp.get("topk").properties.asScala
    .map(e => e.getKey.toLong -> e.getValue.elements.asScala.map(_.asLong).toSet).toMap
  private val maxSurvivors = exp.get("max_survivors").asLong
  private val K = 10

  def iteration(spark: SparkSession, tr: Tracer): Outcome = {
    val c = new Checks
    val layer = mutable.Map.empty[String, Double]
    c.attempt("clean") {
      tr.span("corpus_clean") {
        CorpusClean.cleanClustered(Tables.documents(spark, data)).write.mode("overwrite").parquet(out)
      }
      val survivors = tr.span("check") {
        spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).toSet
      }
      val collapsed = groups.count(g => g.count(survivors) == 1)
      val recall = collapsed.toDouble / groups.size
      c("planted_duplicate_recall", recall >= 0.99, f"$recall%.4f of planted groups kept one survivor")
      c("survivor_count", survivors.size <= maxSurvivors && survivors.size >= 0.99 * maxSurvivors,
        s"${survivors.size} survivors, expected at most $maxSurvivors and at least 99% of it")
      layer ++= Map("corpus_clean.survivors" -> survivors.size.toDouble, "dedup.planted_recall" -> recall)
    }
    c.attempt("similarity") {
      val emb = Tables.embeddings(spark, data)
      val pairs = tr.span("similarity.near_dup") {
        Similarity.nearDupPairsLsh(emb).collect()
      }
      val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val pairRecall = plantedPairs.count(found).toDouble / plantedPairs.size
      c("near_dup_recall", pairRecall >= 0.9, f"$pairRecall%.4f of planted pairs found")
      c("near_dup_threshold", pairs.forall(_.getDouble(2) >= 0.95), "a pair below cosine 0.95")
      val topk = tr.span("similarity.topk") {
        Similarity.topKLsh(emb, emb.filter(col("vec_id") % 50 === 0), K, 4, 16, 64, 4)
          .select("q_id", "vec_id").collect()
      }
      val got = topk.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = exactTopK.map { case (q, ids) => got.getOrElse(q, Set.empty[Long]).count(ids) }.sum
      val recall = hits.toDouble / (exactTopK.size * K)
      c("topk_recall_at_k", recall >= 0.9, f"recall@$K $recall%.4f")
      layer ++= Map("similarity.topk_recall_at_k" -> recall)
    }
    Workload.single(c, layer.toMap)
  }

  override def facts(spark: SparkSession): Map[String, Double] = {
    val docs = Tables.documents(spark, data).select("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(docs).select("doc_a", "doc_b").persist()
    try {
      val n = pairs.count()
      val comps = Dedup.connectedComponents(pairs).select("component").distinct().count()
      Map("dedup.pairs" -> n.toDouble, "dedup.components" -> comps.toDouble)
    } finally pairs.unpersist()
  }
}

/** One date-partitioned TxStore table kept up by a generated daily-batch
  * stream: each iteration is one day of appends, upserts, retention
  * deletes and periodic compaction and checkpoints, every commit followed
  * by one read whose result is checked against the generator's model. */
final class TableUpkeep(data: String, work: String, exp: JsonNode) extends Workload {
  override def warmup: Int = 2
  private val ops = exp.get("ops").elements.asScala.toIndexedSeq
  private val warehouse = s"$work/warehouse"
  private val schema = StructType(Seq(StructField("id", LongType), StructField("day", StringType),
    StructField("qty", LongType), StructField("amount", LongType)))
  private val table = "daily"
  private val path = s"$warehouse/bench/$table"
  private var next = 0
  private val versions = mutable.ArrayBuffer.empty[Long]
  private var userBytes = 0L
  private var bytesBeforeVacuum = 0L
  private var bytesAfterVacuum = 0L

  override def start(spark: SparkSession): Unit = {
    new File(s"$warehouse/bench").mkdirs()
    versions += TxStore.create(spark, path, schema, Seq("day"))
  }

  override def hasNext: Boolean = next < ops.size

  private def digest(df: DataFrame): Seq[Long] = {
    val r: Row = df.agg(count(lit(1)), sum("id"), sum("qty"), sum("amount")).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def expect(op: JsonNode): Seq[Long] = op.get("expect").elements.asScala.map(_.asLong).toSeq

  private def batch(spark: SparkSession, op: JsonNode): DataFrame = {
    val f = s"$data/${op.get("file").asText}"
    userBytes += new File(f).length
    spark.read.parquet(f)
  }

  def iteration(spark: SparkSession, tr: Tracer): Outcome = {
    val failures = mutable.ArrayBuffer.empty[String]
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val readMs = mutable.ArrayBuffer.empty[Double]
    val pruned = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    var failed = 0
    var first = true
    while (next < ops.size && (first || ops(next).get("op").asText != "append")) {
      first = false
      val op = ops(next)
      next += 1
      val kind = op.get("op").asText
      val c = new Checks
      attempted += 1
      val t0 = System.nanoTime()
      kind match {
        case "append" | "merge" | "delete" | "compact" | "checkpoint" =>
          val v = c.attempt(kind) {
            tr.span(s"tx_store.$kind") {
              kind match {
                case "append" => TxStore.append(batch(spark, op), path)
                case "merge" => TxStore.mergeOnce(spark, path, batch(spark, op), Seq("id"),
                  "perfbench", op.get("batch").asLong)
                case "delete" =>
                  TxStore.deletePartitions(spark, path, col("day") === lit(op.get("day").asText))
                    .getOrElse(versions.last)
                case "compact" => TxStore.compactSmallFiles(spark, path).getOrElse(versions.last)
                case _ => TxStore.checkpoint(spark, path)
              }
            }
          }
          commitMs += (System.nanoTime() - t0) / 1e6
          versions += v.getOrElse(versions.last)
        case read =>
          val got = c.attempt(read) {
            read match {
              case "read_where" =>
                val pred = col("day").between(op.get("lo").asText, op.get("hi").asText)
                val d = tr.span("tx_store.read_where")(digest(TxStore.readWhere(spark, path, pred)))
                if (tr ne NoTrace) {
                  val (_, kept, skipped) = TxStore.pruneFiles(spark, path, pred)
                  pruned += skipped.size.toDouble / math.max(1, kept.size + skipped.size)
                }
                d
              case "read_at" =>
                val v = versions(versions.size - 1 - op.get("back").asInt)
                tr.span("tx_store.read_at")(digest(TxStore.readAt(spark, path, v)))
              case _ =>
                tr.span("graft_catalog.sql_read") {
                  val r = spark.sql(
                    s"SELECT count(*), sum(id), sum(qty), sum(amount) FROM graft.bench.$table " +
                      s"WHERE day >= '${op.get("lo").asText}'").head()
                  (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
                }
            }
          }
          readMs += (System.nanoTime() - t0) / 1e6
          got.foreach(d => c(s"model_$read", d == expect(op), s"read ${d.mkString(",")}, " +
            s"model ${expect(op).mkString(",")} after op ${next - 1}"))
      }
      if (c.failures.nonEmpty) {
        failed += 1
        failures ++= c.failures
      }
    }
    val layer =
      if (pruned.isEmpty) Map.empty[String, Double]
      else Map("tx_store.pruned_file_ratio" -> pruned.sum / pruned.size)
    Outcome(attempted, failed, failures.toSeq, commitMs.toSeq, readMs.toSeq, layer)
  }

  private def bytesUnder(p: String): Long = {
    def walk(f: File): Long = if (f.isDirectory) f.listFiles.map(walk).sum else f.length
    walk(new File(p))
  }

  /** The final vacuum, then the table read back at its current version. */
  override def finish(spark: SparkSession, tr: Tracer): Outcome = {
    val c = new Checks
    bytesBeforeVacuum = bytesUnder(path)
    c.attempt("vacuum")(tr.span("tx_store.vacuum")(TxStore.vacuum(spark, path, 2, 0L)))
    bytesAfterVacuum = bytesUnder(path)
    val last = ops.take(next).reverse.find(o => !Set("read_where", "read_at", "sql")(o.get("op").asText))
    c.attempt("read after vacuum") {
      val d = digest(TxStore.read(spark, path))
      last.foreach(o => c("model_after_vacuum", d == expect(o), s"read ${d.mkString(",")}"))
    }
    Workload.single(c)
  }

  override def facts(spark: SparkSession): Map[String, Double] = {
    val snap = TxStore.snapshot(spark, path)
    val liveBytes = snap.files.map(f => new File(s"$path/data/$f").length).sum
    val logDir = new File(s"$path/_txlog")
    def files(f: File): Int = if (f.isDirectory) f.listFiles.map(files).sum else 1
    // a cold replay: the log copied to a path the commit memo has not seen
    val coldMs = (0 until 3).map { i =>
      val copy = s"$work/cold-replay-$i"
      val src = logDir.toPath
      new File(copy).mkdirs()
      java.nio.file.Files.walk(src).iterator.asScala.foreach { f =>
        java.nio.file.Files.copy(f, java.nio.file.Paths.get(s"$copy/_txlog").resolve(src.relativize(f).toString))
      }
      val t0 = System.nanoTime()
      TxStore.snapshot(spark, copy)
      val ms = (System.nanoTime() - t0) / 1e6
      Workload.deleteDir(copy)
      ms
    }.sorted
    Map(
      "tx_store.snapshot_ms" -> coldMs(1),
      "tx_store.files_live" -> snap.files.size.toDouble,
      "tx_store.log_files" -> files(logDir).toDouble,
      "tx_store.write_amp" -> bytesBeforeVacuum.toDouble / math.max(1L, userBytes),
      "tx_store.space_amp" -> bytesAfterVacuum.toDouble / math.max(1L, liveBytes))
  }
}
