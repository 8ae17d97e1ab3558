package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers. The untraced
  * run uses [[NoTrace]], whose `span` is a plain call of its body. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  @inline def span[T](name: String)(body: => T): T = body
}

final case class Span(id: Int, parent: Int, name: String, iter: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobRec(id: Int, span: Int, iter: Int, frames: Seq[String], startMs: Long,
    var endMs: Long = -1L)

final class StageRec {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spillDisk = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class QueryRec(iter: Int, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    scanBytes: Long, scanRecords: Long)

/** Records spans in memory, plus Spark's public counters from a
  * `SparkListener` (jobs, stages, tasks) and a `QueryExecutionListener`
  * (Catalyst phase times and file-scan input). Every job carries the id
  * of the span that submitted it as a local property, so jobs, and the
  * queries that ran them, are attributed to the layer call they belong
  * to. Spans of one benchmark run share `runId`. */
final class Recorder(spark: SparkSession, inputRoot: String, val runId: String)
    extends Tracer with AdaptiveSparkPlanHelper {

  private val SpanProp = "graftbench.span"
  private val sc = spark.sparkContext
  private var nextId = 1
  private var current = 0
  var iter = 0

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val queries = mutable.ArrayBuffer.empty[QueryRec]
  private val stageIter = mutable.HashMap.empty[Int, Int]
  private val execFrames = mutable.HashMap.empty[Long, Seq[String]]

  private def graftFrames(callSite: String): Seq[String] =
    callSite.split('\n').map(_.trim).filter(_.startsWith("graft.")).toSeq

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    current = id
    val prevProp = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, iter, t0, System.nanoTime())
      current = parent
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      // the action's call site: from the SQL execution that ran the job,
      // else from the job's own stage
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val frames = exec.flatMap(execFrames.get)
        .getOrElse(graftFrames(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
      val it = iter
      e.stageInfos.foreach(si => stageIter(si.stageId) = it)
      jobs(e.jobId) = JobRec(e.jobId, span, it, frames, e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Recorder.this.synchronized {
        execFrames(s.executionId) = graftFrames(s.details)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val s = stages.getOrElseUpdate(e.stageId, new StageRec)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spillDisk += m.diskBytesSpilled
        s.taskMs += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
      val scans = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(inputRoot)) =>
          (s.metrics.get("filesSize").map(_.value).getOrElse(0L),
            s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
      Recorder.this.synchronized {
        queries += QueryRec(iter, phase("analysis"), phase("optimization"), phase("planning"),
          scans.map(_._1).sum, scans.map(_._2).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Runs `body` as traced iteration `iteration`: the listeners are
    * attached only meanwhile, and every event it caused is seen before
    * this returns. */
  def record[T](iteration: Int)(body: => T): T = {
    iter = iteration
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    try body
    finally {
      org.apache.spark.graftbench.Bus.drain(spark, 60000L)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
    }
  }

  def stagesOf(iteration: Int): Seq[StageRec] = synchronized {
    stageIter.collect { case (sid, it) if it == iteration => stages.get(sid) }.flatten.toSeq
  }

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""iter":${s.iter},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")

  def jobsJson: String = jobs.values.map { j =>
    val frames = j.frames.take(3).map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")
    s"""{"run":"$runId","job":${j.id},"span":${j.span},"iter":${j.iter},""" +
      s""""start_ms":${j.startMs},"end_ms":${j.endMs},"frames":$frames}"""
  }.mkString("\n")

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) {
        total += e - math.max(s, end)
        end = e
      }
    }
    total
  }
}
