package genbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Spans of one run share the run's id; `parent` names
  * the span that caused this one.
  */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark and Catalyst did during one traced call. */
final class CallRecord {
  var jobs = 0
  var tasks = 0
  var executorRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisNs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var exchanges = 0
  /** Wall-clock milliseconds at which the call started and ended. */
  var fromMs = 0L
  var toMs = 0L
  /** Job intervals in wall-clock milliseconds. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]

  def catalystS: Double = analysisNs / 1e9 + (optimizationMs + planningMs) / 1e3

  private[genbench] def startJob(id: Int, t: Long): Unit = { jobs += 1; jobStart(id) = t }
  private[genbench] def endJob(id: Int, t: Long): Unit =
    jobStart.remove(id).foreach(s => jobIntervals += (s -> t))

  /** Seconds of the call not covered by any Spark job: the driver's own
    * work (planning, probes, file listing, commit) inside the call.
    */
  def driverSelfS: Double = {
    val clipped = jobIntervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0L, toMs - fromMs - covered) / 1e3
  }
}

/** Listeners the benchmark registers on its session in a traced run. Every
  * event lands in the record of the call in progress; the benchmark drains
  * the listener bus after each call before it reads the record.
  */
final class Tracer(val spark: SparkSession) {
  @volatile private var current: CallRecord = new CallRecord

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.startJob(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = current.endJob(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = current
      val m = e.taskMetrics
      r.tasks += 1
      if (m != null) {
        r.executorRunMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val r = current
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).fold(0L)(_.durationMs)
      // The analysis phase clock counts whole milliseconds, and a write
      // command re-analyzes an already analyzed plan in well under one;
      // the analyzer rules' own nanosecond timers resolve it.
      r.analysisNs += qe.tracker.rules.collect {
        case (rule, s) if rule.startsWith("org.apache.spark.sql.catalyst.analysis.") => s.totalTimeNs
      }.sum
      r.optimizationMs += ms("optimization")
      r.planningMs += ms("planning")
      r.exchanges += Tracer.exchanges(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Register the listeners; untraced iterations run with them detached. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Run `f` as one traced call: returns its wall-clock span and record. */
  def call[T](name: String, parent: String)(f: => T): (T, Span, CallRecord) = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    val rec = new CallRecord
    current = rec
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val out = f
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    current = new CallRecord
    rec.fromMs = ms0
    rec.toMs = ms1
    (out, Span(name, parent, t0, t1), rec)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {

  /** Exchanges in a physical plan, looking through adaptive query stages,
    * so that a plan read after execution counts the final AQE plan.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.innerChildren.collect { case c: SparkPlan => c })
      .map(exchanges).sum
  }
}
