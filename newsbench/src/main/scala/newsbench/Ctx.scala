package newsbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run reports: end-to-end metrics (value, unit, sample count),
  * per-layer metrics (value, unit), and the operation tally. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Spans and their Spark totals, as JSON rows, for the trace file. */
  val spanRows = mutable.ArrayBuffer.empty[String]
  /** The workload's generator parameters, recorded with the results. */
  var params: Seq[(String, Any)] = Nil

  def timing(name: String, unit: String, xs: Seq[Double]): Unit =
    if (xs.nonEmpty) {
      e2e(s"$name.p50") = (Stats.median(xs), unit, xs.size)
      Stats.highestSupported(xs.size).filter(_ > 0.5).foreach { q =>
        e2e(s"$name.p${f"${q * 100}%.1f".stripSuffix(".0")}") = (Stats.percentile(xs, q), unit, xs.size)
      }
    }
}

/**
 * The state one workload run shares: the session, the seed, the measuring
 * window, the tracer when tracing, and the report being filled. `call`
 * times one call into a layer (a span when tracing); `attempt` runs one
 * workload operation and counts it attempted, and failed when it throws
 * or a check returns a complaint.
 *
 * A traced pass measures, after the warm-up op and on the same stores, an
 * untraced window of half the length into [[untracedReport]], a traced
 * window into [[report]], then the other untraced half. A JVM still
 * warming, or stores growing, then weigh on both reports alike, and their
 * difference is the tracing overhead. With `warm` false the warm-up op is
 * skipped, for a pass in a JVM that an earlier pass has warmed.
 */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val setups: Int, val dir: String, val tracer: Option[Tracer],
                val warm: Boolean) {
  val report = new Report
  val untracedReport: Option[Report] = tracer.map(_ => new Report)
  private var current = report
  private var traced = Option.empty[Tracer]
  private var window = seconds
  private var opId = 0L
  private var warming = false
  private def named(name: String) = if (warming) name + Ctx.WarmUp else name

  /** Runs `body` as warm-up, unless the pass is not `warm`: its
    * operations count and are checked, and when tracing their spans carry
    * the [[Ctx.WarmUp]] suffix, which keeps them out of the per-call
    * figures. */
  def warmUp(body: => Unit): Unit = if (warm) {
    warming = true
    try traceWith(tracer)(body) finally warming = false
  }

  private def traceWith(t: Option[Tracer])(body: => Unit): Unit = {
    t.foreach(_.attach())
    traced = t
    try body finally { t.foreach(_.detach()); traced = None }
  }

  /** Runs the measuring window `body` into [[report]], or when tracing
    * into the three windows described above; `body` then runs twice into
    * [[untracedReport]]. With `split` false the untraced window runs once,
    * whole, before the traced one: for a workload whose op outlasts the
    * window, where a second untraced op would not fit the run. */
  def windows(split: Boolean = true)(body: Report => Unit): Unit = (tracer, untracedReport) match {
    case (Some(t), Some(u)) =>
      val half = if (split) seconds / 2 else seconds
      measure(u, None, half)(body)
      measure(report, Some(t), seconds)(body)
      if (split) measure(u, None, half)(body)
      current = report; window = seconds
    case _ => body(report)
  }

  private def measure(r: Report, t: Option[Tracer], s: Double)(body: Report => Unit): Unit = {
    current = r; window = s
    traceWith(t)(body(r))
  }

  def call[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = traced.fold(body)(_.span(named(name), opId)(body))
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One workload operation: `body` returns its complaints (empty when the
    * outputs check out). */
  def attempt(name: String)(body: => Seq[String]): Unit = {
    opId += 1
    current.attempted += 1
    val bad = try traced.fold(body)(_.span(named(name), opId)(body))
    catch { case e: Exception => Seq(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    if (bad.nonEmpty) {
      current.failed += 1
      current.failures ++= bad.take(5).map(m => s"op $opId ($name): $m")
    }
  }

  /** True while spans are being recorded (a traced window, not warm-up). */
  def tracing: Boolean = traced.isDefined && !warming

  /** Runs `op` until the window is used up, and at least `minOps` times,
    * looking at the clock only every `every` ops: a workload that runs a
    * fixed op sequence then always times whole sequences. */
  def loop(minOps: Int = 1, every: Int = 1)(op: Int => Unit): Unit = {
    val end = System.nanoTime() + (window * 1e9).toLong
    var i = 0
    while (i < minOps || i % every != 0 || System.nanoTime() < end) { op(i); i += 1 }
    Main.phase("loop")
  }

  /**
   * Set-up: `once` builds what is built a single time (a store that is
   * too costly to repeat, or nothing), then `build` builds the rest
   * `setups` times, each in a fresh directory, keeping the last.
   * `setup_s` is the time of `once` plus the median time of `build`: the
   * time to the first timed call, with the repeatable part steadied by
   * its median.
   */
  def setUp[A, S](once: String => A)(build: (A, String) => S): (A, S) = {
    val t0 = System.nanoTime()
    val shared = once(s"$dir/shared")
    val onceS = (System.nanoTime() - t0) / 1e9
    var kept: Option[S] = None
    val times = (0 until setups).map { i =>
      val t1 = System.nanoTime()
      kept = Some(build(shared, s"$dir/setup$i"))
      (System.nanoTime() - t1) / 1e9
    }
    report.e2e("setup_s") = (onceS + Stats.median(times), "s", times.size)
    report.e2e("setup_once_s") = (onceS, "s", 1)
    report.e2e("setup_repeat_s") = (Stats.median(times), "s", times.size)
    Main.phase("setup")
    (shared, kept.get)
  }
}

object Ctx {
  val WarmUp = "#warmup"

  /** Files and bytes under a directory (0, 0 when it does not exist). */
  def dirStats(path: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val files = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
      } finally s.close()
    }
  }
}
