package newsbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A timed call. Times are `System.nanoTime` for durations and epoch
  * milliseconds for matching Spark events; `parent` is -1 at the top;
  * spans of one workload operation share `op`. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span, summed from listener events. */
final class JobTotals {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, schedMs = 0L
  var shuffleBytes, spillBytes, inputBytes, outputBytes = 0L
}

object Trace {
  /** Local property carrying the enclosing span id into each job's
    * submission properties. */
  val SpanKey = "newsbench.span"

  /** Self time of `span`: its duration minus the part of it covered by
    * the union of its children's intervals (clipped to the span). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    span.durNs - covered
  }
}

/**
 * In-memory span recorder plus the SparkListener that charges each job,
 * stage and task to the span that submitted it. Jobs submitted from the
 * client thread carry the span id as a local property; jobs from other
 * threads (the streaming query's) are charged to the innermost span open
 * at their submission time — there is one client thread, so that is the
 * call waiting on them. Nothing is written until [[spans]] is read at the
 * end of the run. It listens only between [[attach]] and [[detach]].
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long, Long, Long)] // id, name, op, startNs, startMs
  private var nextId = 0
  private val totals = mutable.HashMap.empty[Int, JobTotals]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  /** Starts listening; spans are recorded only while attached. */
  def attach(): Unit = sc.addSparkListener(this)

  /** Stops listening once every event posted so far has been seen. */
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  def span[T](name: String, op: Long)(body: => T): T = {
    val id = synchronized { nextId += 1; stack = (nextId, name, op, System.nanoTime(), System.currentTimeMillis()) :: stack; nextId }
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    try body
    finally {
      val endNs = System.nanoTime(); val endMs = System.currentTimeMillis()
      sc.setLocalProperty(Trace.SpanKey, prev)
      synchronized {
        val (_, n, o, sNs, sMs) = stack.head
        stack = stack.tail
        done += Span(id, n, stack.headOption.map(_._1).getOrElse(-1), o, sNs, endNs, sMs, endMs)
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.NewsbenchBus.drain(sc)

  def spans: Seq[Span] = synchronized(done.toList)
  def totalsOf(id: Int): JobTotals = synchronized(totals.getOrElse(id, new JobTotals))

  /** The innermost span (latest start) whose interval holds `ms`; events
    * arrive after the fact, so closed spans count as well as open ones. */
  private def spanAt(ms: Long): Int = synchronized {
    val open = stack.filter(_._5 <= ms).map(s => (s._1, s._5))
    val closed = done.filter(s => s.startMs <= ms && ms <= s.endMs).map(s => (s.id, s.startMs))
    (open ++ closed).sortBy(s => (-s._2, -s._1)).headOption.map(_._1).getOrElse(-1)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // A streaming query's thread inherits whatever span was open when the
    // query started, so its jobs are matched by time instead.
    val fromProp = Option(e.properties)
      .filter(_.getProperty("sql.streaming.queryId") == null)
      .flatMap(p => Option(p.getProperty(Trace.SpanKey))).map(_.toInt)
    val id = fromProp.getOrElse(spanAt(e.time))
    synchronized {
      totals.getOrElseUpdate(id, new JobTotals).jobs += 1
      e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, id))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(id => totals.getOrElseUpdate(id, new JobTotals).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { id =>
      val t = totals.getOrElseUpdate(id, new JobTotals)
      t.tasks += 1
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      val info = e.taskInfo
      t.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}
