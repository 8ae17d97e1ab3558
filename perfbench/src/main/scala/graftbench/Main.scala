package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run of one workload in one JVM. Set-up is everything
  * from process start to the end of the untimed first iteration: the JVM,
  * `GraftSession.build` with the catalog configured, JIT and codegen
  * warm-up. After the workload's untimed warm-up iterations, one client
  * runs iterations back to back for `seconds`, untraced. With `--trace 1`
  * the loop runs twice as long and every second iteration is traced,
  * which yields the per-layer metrics.
  *
  *   graftbench.Main --workload W --data DIR --work DIR --seconds S
  *                   --trace 0|1 --result FILE
  */
object Main {

  final case class Sample(wallS: Double, cpuS: Double, out: Outcome)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  /** Process CPU seconds, less the JIT compiler threads' (Linux
    * `/proc/self/task`). Background compilation runs on idle cores
    * whenever the JIT decides to, and swung `cpu_s` by a quarter from
    * one run to the next; the JVM keeps its compiler threads alive
    * (`-XX:-UseDynamicNumberOfCompilerThreads`) so their time is not
    * lost when one exits. */
  private def workCpuS: Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles
    val compilerTicks = tasks.iterator.flatMap { t =>
      scala.util.Try(new String(Files.readAllBytes(Paths.get(s"$t/stat")), StandardCharsets.UTF_8)).toOption
    }.collect {
      case stat if stat.contains("CompilerThre") =>
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        f(11).toLong + f(12).toLong // utime, stime
    }.sum
    os.getProcessCpuTime / 1e9 - compilerTicks / 100.0
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The closed loop: iteration `i` runs under `tracer(i)` until
    * `seconds` have passed, at least once. */
  private def loop(spark: SparkSession, w: Workload, seconds: Double,
      tracer: Int => Tracer): Seq[Sample] = {
    val buf = mutable.ArrayBuffer.empty[Sample]
    val t0 = System.nanoTime()
    while (w.hasNext && (buf.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)) {
      val run = (tr: Tracer) => {
        val c0 = workCpuS
        val i0 = System.nanoTime()
        val out = w.iteration(spark, tr)
        Sample((System.nanoTime() - i0) / 1e9, workCpuS - c0, out)
      }
      buf += (tracer(buf.size) match {
        case rec: Recorder => rec.record(buf.size / 2)(run(rec))
        case tr => run(tr)
      })
    }
    buf.toSeq
  }

  def main(args: Array[String]): Unit = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = o("workload")
    val data = o("data")
    val work = o("work")
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val w = Workload(name, data, work)

    val b0 = System.nanoTime()
    val spark = GraftSession.build("graft-perfbench")
    val buildS = (System.nanoTime() - b0) / 1e9
    w.start(spark)
    val outcomes = mutable.ArrayBuffer(w.iteration(spark, NoTrace))
    val setupS = (System.currentTimeMillis() - startMs) / 1e3
    // more untimed iterations: JIT compilation still runs through them,
    // and timing them widened the spread of cpu_s between runs
    for (_ <- 0 until w.warmup if w.hasNext) outcomes += w.iteration(spark, NoTrace)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    var selfS = Map.empty[String, Double]
    val untraced =
      if (!trace) {
        val samples = loop(spark, w, seconds, _ => NoTrace)
        outcomes ++= samples.map(_.out)
        outcomes += w.finish(spark, NoTrace)
        samples
      } else {
        // traced and untraced iterations alternate for twice the run
        // length, so both halves see the same warm-up; the recorder
        // listens only during traced iterations
        val rec = new Recorder(spark, data, s"$name-$startMs")
        val both = loop(spark, w, 2 * seconds, i => if (i % 2 == 1) rec else NoTrace)
        val (tracedI, plainI) = both.zipWithIndex.partition(_._2 % 2 == 1)
        val traced = tracedI.map(_._1)
        outcomes ++= both.map(_.out)
        rec.record(-1)(outcomes += w.finish(spark, rec))
        val perIter = traced.zipWithIndex.map { case (s, i) => Layers.iteration(rec, i, s) }
        perIter.flatMap(_.keys).distinct.foreach(k => layers(k) = median(perIter.flatMap(_.get(k))))
        layers ++= Layers.opLatencies(rec)
        layers ++= w.facts(spark)
        layers("graft_session.build_s") = buildS
        layers("trace.overhead_pct") =
          (median(traced.map(_.wallS)) / median(plainI.map(_._1.wallS)) - 1) * 100
        selfS = rec.selfTimes
        Files.write(Paths.get(s"$work/spans.jsonl"), rec.spansJson.getBytes(StandardCharsets.UTF_8))
        Files.write(Paths.get(s"$work/jobs.jsonl"), rec.jobsJson.getBytes(StandardCharsets.UTF_8))
        plainI.map(_._1)
      }
    spark.stop()

    val attempted = outcomes.map(_.attempted).sum
    val failed = outcomes.map(_.failed).sum
    val commits = untraced.flatMap(_.out.commitMs)
    val reads = untraced.flatMap(_.out.readMs)
    val metrics = Map(
      "setup_s" -> setupS,
      "run_s" -> median(untraced.map(_.wallS)),
      "cpu_s" -> median(untraced.map(_.cpuS)),
      "peak_rss_mb" -> peakRssMb)
    val extra = Seq(
      ("fail_rate", failed.toDouble / math.max(1, attempted), "ratio"),
      ("commit_ms.p50", percentile(commits, 0.5), "ms"),
      ("commit_ms.p90", percentile(commits, 0.9), "ms"),
      ("read_ms.p50", percentile(reads, 0.5), "ms"),
      ("read_ms.p90", percentile(reads, 0.9), "ms"))
    def obj(kv: Iterable[(String, Double)]): String =
      kv.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    val json =
      s"""{"workload":${str(name)},"attempted":$attempted,"failed":$failed,""" +
        s""""failures":${outcomes.flatMap(_.failures).distinct.take(50).map(str).mkString("[", ",", "]")},""" +
        s""""metrics":${obj(metrics)},""" +
        s""""extra":${extra.map(e => s"""${str(e._1)}:{"value":${e._2},"unit":${str(e._3)}}""").mkString("{", ",", "}")},""" +
        s""""samples":{"iterations":${untraced.size},""" +
        s""""commits":${commits.size},"reads":${reads.size}},""" +
        s""""run_s_all":${untraced.map(_.wallS).mkString("[", ",", "]")},""" +
        s""""cpu_s_all":${untraced.map(_.cpuS).mkString("[", ",", "]")},""" +
        s""""layers":${obj(layers)},"self_s":${obj(selfS.toSeq.sortBy(-_._2))}}"""
    Files.write(Paths.get(o("result")), json.getBytes(StandardCharsets.UTF_8))
  }
}

/** Turns the recorder's spans and Spark counters into per-layer metrics. */
object Layers {
  import Main.median

  /** `runAll`'s actions in the order it runs them: the journeys guard
    * and CSV sink, the attribution guard and parquet sink, then the
    * report's CSV sink. A job belongs to the action named by its first
    * two `graft.` call-site frames. */
  private val StepOfAction = Seq("journey_builder", "journey_builder", "ihc_scorer", "ihc_scorer")

  def iteration(rec: Recorder, i: Int, s: Main.Sample): Map[String, Double] = {
    val jobs = rec.jobs.values.filter(_.iter == i).toSeq
    val stages = rec.stagesOf(i)
    val queries = rec.queries.filter(_.iter == i).toSeq
    val spans = rec.spans.filter(_.iter == i).toSeq
    def iv(js: Seq[JobRec]) = rec.union(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))) / 1e3
    def spanS(n: String) = spans.filter(_.name == n).map(_.ms).sum / 1e3
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("scheduler.jobs") = jobs.size
    m("scheduler.stages") = stages.size
    m("scheduler.tasks") = stages.map(_.tasks).sum
    m("executor.run_s") = stages.map(_.runMs).sum / 1e3
    m("executor.cpu_s") = stages.map(_.cpuNs).sum / 1e9
    m("executor.gc_s") = stages.map(_.gcMs).sum / 1e3
    m("shuffle.write_bytes") = stages.map(_.shuffleWrite).sum.toDouble
    m("shuffle.read_bytes") = stages.map(_.shuffleRead).sum.toDouble
    m("shuffle.spill_disk_bytes") = stages.map(_.spillDisk).sum.toDouble
    m("shuffle.task_skew") =
      if (stages.isEmpty) 0.0
      else {
        val big = stages.maxBy(_.runMs)
        big.taskMs.max / math.max(1.0, median(big.taskMs.map(_.toDouble).toSeq))
      }
    m("driver.gap_s") = s.wallS - iv(jobs)
    m("catalyst.analysis_ms") = queries.map(_.analysisMs).sum.toDouble
    m("catalyst.optimization_ms") = queries.map(_.optimizationMs).sum.toDouble
    m("catalyst.planning_ms") = queries.map(_.planningMs).sum.toDouble
    m("tables.scan_bytes") = queries.map(_.scanBytes).sum.toDouble
    m("tables.scan_records") = queries.map(_.scanRecords).sum.toDouble

    val runAll = spans.filter(_.name == "pipeline.runAll").map(_.id).toSet
    if (runAll.nonEmpty) {
      // jobs in submission order; a job that is not one of runAll's own
      // actions (the input scans' file listing) joins the current step
      val pipelineJobs = jobs.filter(j => runAll(j.span)).sortBy(_.id)
      val actions = mutable.ArrayBuffer.empty[String]
      var current = StepOfAction.head
      val step = pipelineJobs.map { j =>
        if (j.frames.headOption.exists(_.startsWith("graft.AttributionPipeline$."))) {
          val key = j.frames.take(2).mkString("|")
          if (!actions.contains(key)) actions += key
          current = StepOfAction.lift(actions.indexOf(key)).getOrElse("channel_report")
        }
        current -> j
      }.groupMap(_._1)(_._2)
      for (n <- Seq("journey_builder", "ihc_scorer", "channel_report"))
        m(s"$n.s") = iv(step.getOrElse(n, Nil))
      def method(j: JobRec, names: String*) = j.frames.headOption.exists(f => names.exists(n => f.contains(s".$n(")))
      m("pipeline.sink_s") = iv(pipelineJobs.filter(method(_, "writeCsv", "writeAttribution")))
      m("pipeline.guard_s") = iv(pipelineJobs.filter(method(_, "nonEmpty")))
    }
    for ((span, metric) <- Seq("corpus_clean" -> "corpus_clean.s",
        "similarity.near_dup" -> "similarity.near_dup_s", "similarity.topk" -> "similarity.topk_s"))
      if (spans.exists(_.name == span)) m(metric) = spanS(span)
    m ++= s.out.layer
    m.toMap
  }

  /** Median latency of each TxStore operation and catalog read, over
    * every call in the traced loop. */
  def opLatencies(rec: Recorder): Map[String, Double] =
    rec.spans.toSeq.filter(s => s.name.startsWith("tx_store.") || s.name.startsWith("graft_catalog."))
      .groupBy(_.name).map { case (n, ss) => s"${n}_ms" -> median(ss.map(_.ms)) }
}
