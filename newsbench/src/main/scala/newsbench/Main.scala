package newsbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/**
 * One benchmark run in one JVM:
 *
 *   newsbench.Main --workload ingest|serve|refresh --seed N --seconds S
 *                  --trace 0|1 --work DIR [--trace-out FILE]
 *
 * Spark runs at `local[C]` with C shuffle partitions, C the JVM's
 * available processors. `--trace 0` is one untraced pass. `--trace 1`
 * makes two passes, each building the repeatable stores once: at
 * `local[C]` a warm-up op, then the untraced and traced windows of [[Ctx]]
 * on the same stores; then an untraced pass at `local[1]`. It reports the
 * traced window's per-layer metrics, the tracing overhead (traced over
 * untraced `op_ms.p50`, minus one) and the speed-up over one core
 * (untraced `work_per_s` over the one-core pass's). The one-core pass runs
 * last, in the JVM the first pass has warmed, and skips the warm-up op.
 *
 * Prints a metric table, then one JSON line (last on stdout) with the
 * operation tally, every end-to-end metric as value/unit/samples, and the
 * per-layer metrics. With `--trace-out` the traced pass also writes its
 * spans and their Spark totals there. `run.py` is the command-line entry.
 */
object Main {
  /** Store builds per untraced run; `setup_s` is their median. */
  val Setups = 3

  /** The layer calls the benchmark times, as `<module>.<call>`. */
  val Calls: Seq[String] = Seq("pipelines.admission", "streaming.st4_batch",
    "serve.recs_lookup", "serve.story_lookup", "pipelines.hybrid_search", "sources.upsert",
    "pipelines.refresh_stories", "pipelines.summarize", "pipelines.recommend_all")

  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // No watermark-only micro-batches between ingest batches: every
      // streaming job then belongs to the batch being timed.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One pass: build the stores, run the window, return the context. */
  private def pass(workload: String, spark: SparkSession, seed: Long, seconds: Double,
                   setups: Int, dir: String, tracer: Option[Tracer],
                   warm: Boolean): (Ctx, Seq[String], Seq[(String, Any)]) = {
    val ctx = new Ctx(spark, seed, seconds, setups, dir, tracer, warm)
    val (texts, params) = workload match {
      case "ingest" => (Ingest.run(ctx), Ingest.params)
      case "serve" => (ServeLoad.run(ctx), ServeLoad.params)
      case "refresh" => (Refresh.run(ctx), Refresh.params)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    (ctx, texts, params)
  }

  def phase(what: String): Unit = System.err.println(f"newsbench phase $what at ${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def main(args: Array[String]): Unit = {
    phase("main")
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val passes: Seq[(String, Report)] =
      if (a.getOrElse("trace", "0") != "1") {
        val spark = session(cores, work)
        phase("session")
        val (ctx, _, params) = pass(workload, spark, seed, seconds, Setups, s"$work/run", None, warm = true)
        ctx.report.params = params
        phase("pass")
        spark.stop()
        phase("stop")
        Seq("run" -> ctx.report)
      } else {
        val many = session(cores, work)
        val tracer = new Tracer(many.sparkContext)
        val (ctx, texts, params) = pass(workload, many, seed, seconds, 1, s"$work/traced", Some(tracer), warm = true)
        val (r, plain) = (ctx.report, ctx.untracedReport.get)
        r.params = params
        layerMetrics(tracer, r)
        Kernels.measure(many, texts).foreach { case (k, v) =>
          r.layer(s"functions.$k.rows_per_s") = (v, "1/s")
        }
        many.stop()
        val one = session(1, work)
        // The JVM is warm by now: the one-core pass skips its warm-up op.
        val single = pass(workload, one, seed, seconds, 1, s"$work/1core", None, warm = false)._1.report
        one.stop()
        r.layer("speedup_vs_1core") = (plain.e2e("work_per_s")._1 / single.e2e("work_per_s")._1, "ratio")
        r.layer("trace_overhead") = (r.e2e("op_ms.p50")._1 / plain.e2e("op_ms.p50")._1 - 1, "ratio")
        a.get("trace-out").foreach(f => Files.write(Paths.get(f),
          traceJson(workload, seed, r).getBytes(StandardCharsets.UTF_8)))
        Seq("traced" -> r, "untraced" -> plain, "1core" -> single)
      }
    passes.foreach { case (tag, r) =>
      r.e2e("failed_frac") = (r.failed.toDouble / math.max(1L, r.attempted), "ratio", r.attempted.toInt)
      r.e2e.foreach { case (k, (v, u, n)) => println(f"$tag%-9s $workload%-8s $k%-28s $v%14.4f $u%-6s n=$n") }
      r.failures.foreach(f => println(s"$tag FAILED $f"))
    }
    passes.head._2.layer.foreach { case (k, (v, u)) => println(f"traced    $workload%-8s $k%-48s $v%14.4f $u") }
    println(resultJson(workload, passes))
    System.out.flush()
    // Every session is stopped and every streaming query too; exit now
    // rather than wait on lingering non-daemon threads.
    sys.exit(0)
  }

  /** Per-call Spark totals (mean per call), self time, and the per-batch
    * slopes of admission work, from the tracer's spans. A call with no
    * span gets no metrics. */
  def layerMetrics(t: Tracer, r: Report): Unit = {
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    def self(s: Span) = Trace.selfNs(s, children.getOrElse(s.id, Nil)) / 1e9
    Calls.map(c => c -> spans.filter(_.name == c).sortBy(_.startNs)).filter(_._2.nonEmpty).foreach { case (c, ss) =>
      val ts = ss.map(s => t.totalsOf(s.id))
      val n = ss.size.toDouble
      def mean(f: JobTotals => Double) = ts.map(f).sum / n
      Seq("jobs" -> (mean(_.jobs.toDouble), "count"), "stages" -> (mean(_.stages.toDouble), "count"),
        "tasks" -> (mean(_.tasks.toDouble), "count"), "task_s" -> (mean(_.taskMs / 1e3), "s"),
        "cpu_s" -> (mean(_.cpuNs / 1e9), "s"), "gc_s" -> (mean(_.gcMs / 1e3), "s"),
        "sched_delay_s" -> (mean(_.schedMs / 1e3), "s"),
        "shuffle_mb" -> (mean(_.shuffleBytes / 1e6), "MB"), "spill_mb" -> (mean(_.spillBytes / 1e6), "MB"),
        "input_mb" -> (mean(_.inputBytes / 1e6), "MB"), "output_mb" -> (mean(_.outputBytes / 1e6), "MB"),
        "wall_s" -> (ss.map(_.durNs / 1e9).sum / n, "s"), "self_s" -> (ss.map(self).sum / n, "s"),
        "calls" -> (ss.size.toDouble, "count"))
        .foreach { case (m, v) => r.layer(s"$c.$m") = v }
      if (c == "pipelines.admission") {
        // Per batch, the warm-up batch included: job and byte counts do
        // not depend on how warm the JVM is. A batch is one op, so the op
        // id numbers the batches, the untraced ones between included.
        val all = spans.filter(s => s.name == c || s.name == c + Ctx.WarmUp).map(s => s.op.toDouble -> t.totalsOf(s.id))
        r.layer(s"$c.jobs_slope") = (Stats.slope(all.map { case (x, y) => x -> y.jobs.toDouble }), "count")
        r.layer(s"$c.input_mb_slope") = (Stats.slope(all.map { case (x, y) => x -> y.inputBytes / 1e6 }), "MB")
      }
    }
    // Operation spans: their self time is the benchmark's own glue.
    spans.filter(s => s.parent == -1 && !s.name.endsWith(Ctx.WarmUp)).groupBy(_.name).foreach { case (name, ss) =>
      r.layer(s"$name.self_s") = (ss.map(self).sum / ss.size, "s")
    }
    r.spanRows ++= spans.sortBy(_.startNs).map { s =>
      val x = t.totalsOf(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durNs / 1e9},"self_s":${self(s)},""" +
        s""""jobs":${x.jobs},"stages":${x.stages},"tasks":${x.tasks},"task_s":${x.taskMs / 1e3},""" +
        s""""cpu_s":${x.cpuNs / 1e9},"gc_s":${x.gcMs / 1e3},"sched_delay_s":${x.schedMs / 1e3},""" +
        s""""shuffle_mb":${x.shuffleBytes / 1e6},"spill_mb":${x.spillBytes / 1e6},""" +
        s""""input_mb":${x.inputBytes / 1e6},"output_mb":${x.outputBytes / 1e6}}"""
    }
  }

  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def paramsJson(ps: Seq[(String, Any)]) = ps.map {
    case (k, v: String) => s"${str(k)}:${str(v)}"
    case (k, v) => s"${str(k)}:$v"
  }.mkString("{", ",", "}")

  private def e2eJson(r: Report) =
    r.e2e.map { case (k, (v, u, n)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)},"samples":$n}""" }
      .mkString("{", ",", "}")
  private def layerJson(r: Report) =
    r.layer.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }.mkString("{", ",", "}")

  /** The first pass's metrics, plus every pass's tally and end-to-end
    * metrics under `passes`. */
  private def resultJson(workload: String, passes: Seq[(String, Report)]): String = {
    val r = passes.head._2
    val ps = passes.map { case (tag, p) =>
      s"""${str(tag)}:{"correct":${p.failed == 0},"attempted":${p.attempted},"failed":${p.failed},""" +
        s""""e2e":${e2eJson(p)},"failures":${p.failures.map(str).mkString("[", ",", "]")}}"""
    }
    s"""{"workload":${str(workload)},"correct":${passes.forall(_._2.failed == 0)},""" +
      s""""attempted":${passes.map(_._2.attempted).sum},"failed":${passes.map(_._2.failed).sum},""" +
      s""""params":${paramsJson(r.params)},"e2e":${e2eJson(r)},"layer":${layerJson(r)},""" +
      s""""passes":${ps.mkString("{", ",", "}")}}"""
  }

  private def traceJson(workload: String, seed: Long, r: Report): String =
    s"""{"workload":${str(workload)},"seed":$seed,"params":${paramsJson(r.params)},""" +
      s""""e2e":${e2eJson(r)},"layer":${layerJson(r)},""" +
      s""""spans":[\n${r.spanRows.mkString(",\n")}\n]}\n"""
}
