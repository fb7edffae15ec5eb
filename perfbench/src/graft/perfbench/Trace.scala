package graft.perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var execRunMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var inputBytes = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall-clock ms
  private val openJobs = mutable.Map.empty[Int, Long]

  def jobStart(id: Int, t: Long): Unit = { jobs += 1; openJobs(id) = t }
  def jobEnd(id: Int, t: Long): Unit =
    openJobs.remove(id).foreach(s => jobIntervals += ((s, t)))
}

final case class Span(
    id: Int, name: String, parent: Int, op: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder with a Spark listener and a query-execution
  * listener that key jobs, tasks, GC, shuffle bytes and planning time by
  * the innermost open span. The listener bus is drained at every span
  * boundary so asynchronous events land on the span that caused them;
  * that drain is part of the measured tracing overhead.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, Counters]
  private var stack: List[Span] = Nil
  @volatile private var current = -1
  private var attached = false

  private def cur: Counters = counters.getOrElseUpdate(current, new Counters)

  /** Register the listeners; while detached, `span` runs its body bare. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    attached = false
  }

  private def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def span[T](name: String, op: Int = -1)(body: => T): T =
    if (!attached) body
    else {
      drain()
      val s = Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
        if (op >= 0) op else stack.headOption.map(_.op).getOrElse(-1),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack ::= s
      current = s.id
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        current = stack.headOption.map(_.id).getOrElse(-1)
      }
    }

  /** Span duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var e = s.startNs
    kids.foreach { case (ks, ke) =>
      val a = math.max(ks, e)
      if (ke > a) { covered += ke - a; e = ke }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobStart(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    counters.values.foreach(_.jobEnd(e.jobId, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.execRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      cur.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson: String = Json.arr(spans.map { s =>
    val c = counters.getOrElse(s.id, new Counters)
    Json.Raw(Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_s" -> selfSeconds(s), "jobs" -> c.jobs, "tasks" -> c.tasks,
      "exec_run_ms" -> c.execRunMs, "gc_ms" -> c.gcMs,
      "shuffle_write_bytes" -> c.shuffleWriteBytes, "fetch_wait_ms" -> c.fetchWaitMs,
      "input_bytes" -> c.inputBytes, "planning_ms" -> c.planningMs,
      "jobs_iv" -> c.jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq))
  }.toSeq)
}
