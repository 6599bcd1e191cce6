package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one of the benchmark's call boundaries. Times are
  * epoch milliseconds with sub-millisecond digits, on the same clock as
  * Spark's listener events. `counts` holds numbers measured at the span.
  */
final class Span(val id: Int, val name: String, val label: String,
    val parent: Int, val start: Double) {
  var end: Double = Double.NaN
  val counts = scala.collection.mutable.LinkedHashMap[String, Double]()
  def seconds: Double = (end - start) / 1000
}

/** Records spans around the benchmark's own calls into the program and,
  * through a SparkListener and a QueryExecutionListener, the jobs, stages,
  * tasks and plan phases inside them. Between [[start]] and [[stop]] it
  * records; otherwise it runs bodies untouched and has no listener
  * registered.
  */
final class Tracer {
  import Tracer._

  val spans = ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  def now: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val tasks = ArrayBuffer[TaskRec]()
  val plans = ArrayBuffer[PlanRec]()

  private var session: Option[(SparkSession, SparkListener, QueryExecutionListener)] = None
  def active: Boolean = session.nonEmpty

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!active) body
    else {
      val s = new Span(spans.size, name, label, open.headOption.fold(-1)(_.id), now)
      spans += s
      open ::= s
      val sc = session.map(_._1.sparkContext)
      sc.foreach(_.setLocalProperty(SpanKey, s.id.toString))
      try body
      finally {
        s.end = now
        open = open.tail
        sc.foreach(_.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull))
      }
    }

  /** Attaches `value` under `key` to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (active) open.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + value)

  def start(spark: SparkSession): Unit = {
    stop()
    val app = spark.sparkContext.applicationId
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties)
        val rec = JobRec(app, e.jobId, Option(p.getProperty(SpanKey)).fold(-1)(_.toInt),
          Option(p.getProperty("callSite.short")).getOrElse(""), e.time.toDouble,
          e.stageIds)
        Tracer.this.synchronized(jobs += rec)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          val rec = StageRec(app, si.stageId, si.submissionTime.getOrElse(0L).toDouble,
            si.completionTime.getOrElse(0L).toDouble, si.numTasks,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
            m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
          Tracer.this.synchronized(stages += rec)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          val rec = TaskRec(app, e.stageId, e.taskMetrics.shuffleReadMetrics.totalBytesRead,
            e.taskInfo.duration.toDouble)
          Tracer.this.synchronized(tasks += rec)
        }
    }
    val qeListener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).fold(0.0)(_.durationMs.toDouble)
        val start = if (ph.isEmpty) 0.0 else ph.values.map(_.startTimeMs).min.toDouble
        val rec = PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
        Tracer.this.synchronized(plans += rec)
      }
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    session = Some((spark, listener, qeListener))
  }

  /** Waits for queued events, then unregisters the listeners. */
  def stop(): Unit = session.foreach { case (spark, l, q) =>
    SparkInternals.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(q)
    spark.sparkContext.setLocalProperty(SpanKey, null)
    session = None
  }

  /** Span JSON: every span with its parent, times and counts. */
  def spansJson: String = spans.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"name":"${s.name}","label":${Json.str(s.label)},"parent":${s.parent},""" +
      s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"counts":$counts}"""
  }.mkString("[\n", ",\n", "\n]\n")

  /** Seconds of each span's duration not covered by its children, summed
    * by span name.
    */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  // Job and stage ids restart with each SparkContext; `app` tells the
  // set-ups' sessions apart.
  final case class JobRec(app: String, id: Int, span: Int, callSite: String, start: Double, stageIds: Seq[Int])
  final case class StageRec(app: String, id: Int, submit: Double, complete: Double, tasks: Int,
      inputBytes: Long, shuffleRead: Long, shuffleWrite: Long, spillDisk: Long,
      outputBytes: Long, outputRecords: Long)
  final case class TaskRec(app: String, stage: Int, shuffleRead: Long, durationMs: Double)
  final case class PlanRec(start: Double, analysisMs: Double, optimizationMs: Double,
      planningMs: Double)

  /** JVM-wide counters read at pass boundaries. */
  final case class JvmCounters(gcMs: Long, jitMs: Long, compiles: Long, codegenNanos: Long) {
    def -(o: JvmCounters) = JvmCounters(gcMs - o.gcMs, jitMs - o.jitMs,
      compiles - o.compiles, codegenNanos - o.codegenNanos)
  }
  def jvmCounters(): JvmCounters = JvmCounters(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    SparkInternals.codegenCompiles, SparkInternals.codegenNanos)
}
