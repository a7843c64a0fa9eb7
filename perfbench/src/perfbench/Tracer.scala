package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One unit of work the harness times: a query run (construct + action)
  * or a micro-batch. Times are epoch milliseconds with sub-ms fractions.
  * `actionStartMs` is where Spark work may begin (after frame
  * construction for a query run; the batch start for a micro-batch).
  */
final case class Op(id: Long, kind: String, name: String, startMs: Double,
                    actionStartMs: Double, endMs: Double)

/** The traced run's recorder. It attaches a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, keeps every event
  * in memory, and after the timed phase attributes jobs, stages, tasks and
  * planning phases to the ops whose window contains them (ops never
  * overlap: query runs are sequential, and so are one query's
  * micro-batches). Untraced runs never construct it.
  */
object Tracer {
  private final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  private final case class Stage(id: Int, submitMs: Long, doneMs: Long, tasks: Int,
                                 runMs: Long, cpuNs: Long, gcMs: Long,
                                 shRead: Long, shWrite: Long, spill: Long)
}

final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[(Long, Long)]()
  // planning phase -> (start, end) epoch ms, one map per executed query
  private val plans = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.add(Stage(s.stageId, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L), s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      tasks.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  // the EXECUTING QueryExecution's tracker: a built frame's own
  // `queryExecution` reports analysis only, or a stale memoized figure
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Union length of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  private def within(t: Double, op: Op): Boolean = t >= op.startMs - 1 && t <= op.endMs + 1

  /** Per-op Spark layer metrics over `ops` (means per op), plus the spans
    * of every op: op → construct / planning phases / jobs → stages.
    * `wallMs` is the timed phase's wall time, the base of core_util.
    */
  def summarize(ops: Seq[Op], wallMs: Double): (mutable.LinkedHashMap[String, Double], Seq[Map[String, Any]]) = {
    drain()
    val allJobs = jobs.asScala.toSeq
    val stageById = stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.last }
    val taskIvs = tasks.asScala.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }
    val allPlans = plans.asScala.toSeq
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var nJobs, nStages, nTasks, nSingle = 0L
    var runMs, cpuNs, gcMs, shR, shW, spill = 0L
    var idleMs, anaMs, optMs, plnMs = 0.0
    var spanId = 0L
    def span(parent: Long, op: Long, layer: String, name: String, s: Double, e: Double): Long = {
      spanId += 1
      spans += Map("id" -> spanId, "parent" -> parent, "op" -> op, "layer" -> layer,
        "name" -> name, "start_ms" -> s, "end_ms" -> e)
      spanId
    }
    val root = span(0, 0, "workload", "timed", ops.headOption.map(_.startMs).getOrElse(0.0),
      ops.lastOption.map(_.endMs).getOrElse(0.0))
    ops.foreach { op =>
      val opSpan = span(root, op.id, "op", s"${op.kind}:${op.name}", op.startMs, op.endMs)
      if (op.actionStartMs > op.startMs)
        span(opSpan, op.id, "operators.construct", op.name, op.startMs, op.actionStartMs)
      allPlans.filter(_.get("analysis").exists(a => within(a._1.toDouble, op)))
        .foreach { p =>
          p.foreach { case (k, (s, e)) =>
            span(opSpan, op.id, s"spark.$k", k, s.toDouble, e.toDouble)
            k match {
              case "analysis"     => anaMs += e - s
              case "optimization" => optMs += e - s
              case "planning"     => plnMs += e - s
              case _ =>
            }
          }
        }
      val opJobs = allJobs.filter(j => within(j.startMs.toDouble, op))
      opJobs.foreach { j =>
        val js = span(opSpan, op.id, "spark.job", s"job ${j.id}", j.startMs.toDouble,
          (if (j.endMs > 0) j.endMs else j.startMs).toDouble)
        nJobs += 1
        j.stages.flatMap(stageById.get).filter(_.doneMs > 0).foreach { s =>
          span(js, op.id, "spark.stage", s"stage ${s.id}", s.submitMs.toDouble, s.doneMs.toDouble)
          nStages += 1; nTasks += s.tasks
          if (s.tasks == 1) nSingle += 1
          runMs += s.runMs; cpuNs += s.cpuNs; gcMs += s.gcMs
          shR += s.shRead; shW += s.shWrite; spill += s.spill
        }
      }
      idleMs += (op.endMs - op.actionStartMs) - covered(taskIvs, op.actionStartMs, op.endMs)
    }
    val n = math.max(ops.size, 1).toDouble
    val m = mutable.LinkedHashMap[String, Double](
      "op.count" -> ops.size.toDouble,
      "spark.jobs" -> nJobs / n,
      "spark.stages" -> nStages / n,
      "spark.tasks" -> nTasks / n,
      "spark.single_task_stages" -> nSingle / n,
      "spark.task_run_ms" -> runMs / n,
      "spark.task_cpu_ms" -> cpuNs / 1e6 / n,
      "spark.gc_ms" -> gcMs / n,
      "spark.shuffle_read_bytes" -> shR / n,
      "spark.shuffle_write_bytes" -> shW / n,
      "spark.spill_bytes" -> spill / n,
      "spark.core_util" -> (if (wallMs > 0) runMs / (wallMs * cores) else 0.0),
      "spark.driver_idle_ms" -> idleMs / n,
      "spark.analysis_ms" -> anaMs / n,
      "spark.optimization_ms" -> optMs / n,
      "spark.planning_ms" -> plnMs / n,
      "spark.plan_ms" -> (anaMs + optMs + plnMs) / n)
    (m, spans.toSeq)
  }

  /** Self time per span layer: a span's duration minus the part of its
    * interval that its children cover, summed per layer.
    */
  def selfTimes(spans: Seq[Map[String, Any]]): mutable.LinkedHashMap[String, Double] = {
    val byParent = spans.groupBy(_("parent").asInstanceOf[Long])
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { s =>
      val id = s("id").asInstanceOf[Long]
      val a = s("start_ms").asInstanceOf[Double]
      val b = s("end_ms").asInstanceOf[Double]
      val kids = byParent.getOrElse(id, Nil).map(k =>
        (k("start_ms").asInstanceOf[Double], k("end_ms").asInstanceOf[Double]))
      val self = (b - a) - covered(kids, a, b)
      val layer = s("layer").toString
      out(layer) = out.getOrElse(layer, 0.0) + self
    }
    out
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
