package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run span recorder. It observes the engine from outside only: a
  * SparkListener for jobs and stages and a QueryExecutionListener for the
  * Catalyst phases of every query execution. Spans are kept in memory and
  * dumped once at exit; each carries the id of the op whose interval it
  * falls in (one client thread, so op intervals never overlap).
  */
final class Trace(spark: SparkSession) {

  private val spans = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  @volatile private var attached = false

  private def span(kind: String, name: String, startMs: Double, endMs: Double,
      attrs: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", kind); m.put("name", name)
    m.put("start_ms", startMs); m.put("end_ms", endMs)
    attrs.foreach { case (k, v) => m.put(k, v) }
    spans.add(m)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t, stages) =>
        span("job", s"job ${e.jobId}", t.toDouble, e.time.toDouble,
          "stages" -> stages.size)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      if (m != null) span("stage", s"stage ${s.stageId}.${s.attemptNumber()}",
        s.submissionTime.getOrElse(0L).toDouble,
        s.completionTime.getOrElse(0L).toDouble,
        "tasks" -> s.numTasks,
        "task_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution, ok: Boolean): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        span("catalyst", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble,
          "ok" -> ok)
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe, true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe, false)
  }

  /** Listeners are only registered while a traced round runs. */
  def attach(on: Boolean): Unit = if (on != attached) {
    attached = on
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private val anchorWall = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def wallMs(ns: Long): Double = anchorWall + (ns - anchorNs) / 1e6

  private val opSpans = new ConcurrentLinkedQueue[(Int, Double, Double)]()

  /** The op span and its construct (or catalog statement) child. */
  def op(op: Harness.Op, startNs: Long, constructEndNs: Long, endNs: Long): Unit = {
    val (s, c, e) = (wallMs(startNs), wallMs(constructEndNs), wallMs(endNs))
    opSpans.add((op.id, s, e))
    span("op", op.name, s, e, "op" -> op.id, "op_kind" -> op.kind)
    span(if (op.kind == "corpus") "construct" else "catalog", op.name, s, c,
      "op" -> op.id)
  }

  /** All spans, each tagged with the id of the op whose interval holds its
    * start; spans outside every op (listener-bus stragglers) keep op -1.
    */
  def dump(): java.util.List[java.util.Map[String, Any]] = {
    val ops = opSpans.asScala.toSeq
    spans.asScala.foreach { m =>
      if (!m.containsKey("op")) {
        val t = m.get("start_ms").asInstanceOf[Double]
        m.put("op", ops.find { case (_, s, e) => t >= s - 1 && t <= e + 1 }
          .map(_._1).getOrElse(-1))
      }
    }
    spans.asScala.toSeq.sortBy(_.get("start_ms").asInstanceOf[Double]).asJava
  }
}
