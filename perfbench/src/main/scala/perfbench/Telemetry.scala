package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are wall-clock epoch
  * microseconds so that spans recorded by the benchmark and phase
  * timings reported by Spark share one clock. `trace` groups the spans
  * of one registry query (its name) or one micro-batch ("b<id>"). */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
    name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Wall clock in epoch microseconds with nanoTime resolution. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

/** In-memory span recorder. Spans opened with [[span]] nest through a
  * per-thread stack, and the innermost open span id is published as the
  * Spark local property [[Tracer.SpanKey]] so jobs and stages launched
  * inside it are attributed to it by [[SparkCounters]]. Spans derived
  * from listener events are added with [[add]]. Recording is off unless
  * the run is traced; the job-property is set in every run because the
  * per-phase job counts need it. */
final class Tracer(sc: SparkContext, recording: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def nextId(): Long = ids.incrementAndGet()

  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](layer: String, name: String, trace: String)(body: => T): T = {
    val id = nextId()
    val parent = current
    stack.set(id :: stack.get)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = Clock.us()
    try body
    finally {
      val t1 = Clock.us()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanKey,
        if (parent == 0L) null else parent.toString)
      if (recording) spans.add(Span(id, parent, trace, layer, name, t0, t1))
    }
  }

  def add(s: Span): Unit = if (recording) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def toJson: String = all.sortBy(s => (s.startUs, s.id)).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}",""" +
      s""""layer":"${s.layer}","name":"${s.name}","start_us":${s.startUs},""" +
      s""""end_us":${s.endUs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Self time per layer in seconds: each span's duration minus the part
    * of its interval that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.startUs
        kids.foreach { case (a, b) =>
          val lo = math.max(a, reach)
          if (b > lo) { covered += b - lo; reach = b }
        }
        (s.durUs - covered) / 1e6
      }.sum
    }
  }
}

/** Per-group Spark work counters: jobs, stages, tasks, task time, CPU,
  * shuffle and spill. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
  }
}

/** SparkListener that attributes every job, stage and task to the span
  * that launched it (local property [[Tracer.SpanKey]]) and to the
  * streaming query and micro-batch that launched it. */
final class SparkCounters extends SparkListener {
  private val bySpan = mutable.Map.empty[Long, Work]
  private val byBatch = mutable.Map.empty[(String, Long), Work]
  private val stageKeys = mutable.Map.empty[Int, (Long, Option[(String, Long)])]

  private def keysOf(props: java.util.Properties): (Long, Option[(String, Long)]) = {
    val p = Option(props)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val batch = for {
      x <- p
      q <- Option(x.getProperty("sql.streaming.queryId"))
      b <- Option(x.getProperty("streaming.sql.batchId"))
    } yield (q, b.toLong)
    (span, batch)
  }

  private def update(k: (Long, Option[(String, Long)]))(f: Work => Unit): Unit = {
    f(bySpan.getOrElseUpdate(k._1, new Work))
    k._2.foreach(b => f(byBatch.getOrElseUpdate(b, new Work)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    update(keysOf(e.properties))(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val k = keysOf(e.properties)
    stageKeys(e.stageInfo.stageId) = k
    update(k)(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKeys.get(e.stageId).foreach { k =>
      update(k) { w =>
        w.tasks += 1
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def span(id: Long): Work = synchronized(bySpan.getOrElse(id, new Work))

  def spans(ids: Iterable[Long]): Work = synchronized {
    val w = new Work
    ids.foreach(i => bySpan.get(i).foreach(w += _))
    w
  }

  def batch(queryId: String, batchId: Long): Work =
    synchronized(byBatch.getOrElse((queryId, batchId), new Work))
}

/** Catalyst phase timings of every executed QueryExecution, read from
  * the executed command's planning tracker (the constructed DataFrame's
  * own tracker records only analysis for a noop write). */
final class CatalystPhases extends QueryExecutionListener {
  final case class Phases(funcName: String, phases: Map[String, (Long, Long)])
  private val events = new ConcurrentLinkedQueue[Phases]()

  private def record(funcName: String, qe: QueryExecution): Unit =
    events.add(Phases(funcName, qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(funcName, qe)

  def all: Seq[Phases] = events.asScala.toSeq
}

/** Keeps every micro-batch progress report of the session's streams. */
final class ProgressLog extends StreamingQueryListener {
  private val ps = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile var failure: Option[String] = None
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = ps.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x))
  def of(queryId: String): Seq[StreamingQueryProgress] =
    ps.asScala.filter(_.id.toString == queryId).toSeq.sortBy(_.batchId)
}

/** The listeners of one session plus the tracer, registered together. */
final class Telemetry(val spark: SparkSession, recording: Boolean) {
  val tracer = new Tracer(spark.sparkContext, recording)
  val counters = new SparkCounters
  val catalyst = new CatalystPhases
  val progress = new ProgressLog
  spark.sparkContext.addSparkListener(counters)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(progress)

  /** Wait until every posted listener event has been delivered. */
  def flush(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
