package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Per-query median over `runs` passes: machine-load spikes hit one
    // pass, not the median — two load-contaminated recordings in a row
    // made earlier rounds' numbers unreadable.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Fixtures.conform's NTZ→TIMESTAMP normalization is a wall-clock
      // identity only under a UTC session (Verify sets it; every fixture
      // consumer must) — on a non-UTC host the benched timestamp queries
      // would otherwise compute shifted values.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: exercise scan, HOF-interpreter and codegen paths so
    // JIT cost lands here, not on whichever timed query runs first.
    Seq("p10_event_score", "x_token_stats", "p16_cosine_pairs").foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    }
    // Optional comma-separated name filter — local iteration aid (the
    // driver never sets it, so its recordings stay full-set).
    val selected = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.queries)(SparkEntry.selectQueries)
    // Resolved BEFORE the mover audit: the audit must never compare
    // against its own output file (an orphan same-name artifact from a
    // killed run once made the audit read "no movers" — round 17).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "bench_partial.json"
      else "bench_full.json")
    val (results, stored, failures) =
      run(spark, sfDir, selected, runs, SparkEntry.phasedQueries)
    // Mover auto-audit (the round-6 protocol, mechanized; widened to
    // 1.5× and to the stored family's init/serve LEGS in round 17 —
    // pipe_dedup_e2e's 1.94× drift evaded the old 2× total trigger,
    // and x_ann_pq_stored's init-side drift was invisible at total
    // granularity): any query whose in-suite median moved >1.5×
    // against the previous committed full-suite artifact — on its
    // total OR on either stored leg — re-runs ISOLATED (median-of-3,
    // swept block manager, nothing interleaved) in the same JVM.
    // In-suite numbers swing with suite-neighborhood GC pressure;
    // isolated medians are the comparable per-query basis, and
    // recording both lets the load-vs-plan verdict land without a
    // by-hand re-measure.
    val prevArts = prevArtifacts(Some(outPath))
    val prevArt = prevArts.headOption
    val prevQ = prevArt.map(prevQueries).getOrElse(Map.empty[String, Double])
    val prevS = prevArt.map(prevStored)
      .getOrElse(Map.empty[String, (Double, Double)])
    // CUMULATIVE guard (round-19): the per-round mover audit compares
    // against prev only, so creep arriving in sub-1.5× steps
    // (x_mm_mixed_admit 8.03 → 9.47 → 10.80 across r16→r18 — each step
    // under the bar, cumulatively 1.34×) is structurally invisible to
    // it. Diff each query against the MIN of the last 3 committed
    // artifacts as well: the min is the best recent idle-ish reading,
    // so load spikes in any one round can't ratchet the baseline up.
    // Regression-only (a query FASTER than the 3-round min is an
    // improvement, not creep).
    val cumMovers = cumMoversOf(results.toMap,
      prevArts.take(3).map(prevQueries))
    val cumSeverity = cumMovers.view.mapValues { case (c, m) => c / m }.toMap
    val legMovers = stored.toSeq.flatMap { case (n, (i, sv)) =>
      prevS.get(n).filter { case (pi, ps) => moved(i, pi) || moved(sv, ps) }
        .map(pv => n -> (i, sv, pv._1, pv._2))
    }.toMap
    // Rank leg movers by their REAL drift so the cap-8 cannot evict a
    // 10x init-leg regression in favor of milder total movers.
    val legSeverity = legMovers.view.mapValues { case (i, sv, pi, ps) =>
      Seq(ratioOf(i, pi), ratioOf(sv, ps)).max
    }.toMap
    val isolated = moverIsolated(spark, sfDir, selected, results.toMap,
      prevQ, legSeverity, cumSeverity)
    def jnum(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + jnum(v) }
      .mkString("{", ",", "}")
    val ss = stored.toSeq.sortBy(_._1).map { case (k, (i, sv)) =>
      s"\"$k\":{\"init_s\":${jnum(i)},\"serve_s\":${jnum(sv)}}"
    }.mkString("{", ",", "}")
    val lm = legMovers.toSeq.sortBy(_._1).map { case (k, (i, sv, pi, ps)) =>
      s"\"$k\":{\"init_s\":${jnum(i)},\"serve_s\":${jnum(sv)}," +
        s"\"prev_init_s\":${jnum(pi)},\"prev_serve_s\":${jnum(ps)}}"
    }.mkString("{", ",", "}")
    val is = isolated.toSeq.sortBy(_._1).map { case (k, (su, pr, iso, legs)) =>
      s"\"$k\":{\"suite_s\":${jnum(su)},\"prev_s\":${jnum(pr)}," +
        s"\"isolated_s\":${jnum(iso)}" +
        legs.fold("") { case (i, sv) =>
          s",\"isolated_init_s\":${jnum(i)},\"isolated_serve_s\":${jnum(sv)}" } +
        "}"
    }.mkString("{", ",", "}")
    val fs = failures.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + "\"" + v.replace("\"", "'") + "\"" }
      .mkString("{", ",", "}")
    val cm = cumMovers.toSeq.sortBy(_._1).map { case (k, (c, m)) =>
      s"\"$k\":{\"cur_s\":${jnum(c)},\"min3_s\":${jnum(m)}," +
        s"\"ratio\":${jnum(c / m)}}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"stored":$ss,"leg_movers":$lm,"cum_movers":$cm,"isolated":$is,"failed":$fs,"sf":"$sfDir"}"""
    println(json)
    // The driver's log-tail recording truncates the (long) stdout line;
    // the committed-artifact copy keeps every per-query number readable
    // for round-over-round audits. A name-filtered local run writes to a
    // DISTINCT default path — a subset must never silently overwrite a
    // previously recorded full-suite artifact (explicit BENCH_OUT wins).
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
    // A bench with failing queries must look failed to the driver too.
    if (failures.nonEmpty) sys.exit(1)
  }

  /** The previous committed full-suite artifact to diff movers against:
    * SPARK_GRAFT_BENCH_BASELINE wins, else the highest-numbered
    * `bench_full_r<N>.json` in the CWD (the per-round committed copy) —
    * EXCLUDING this run's own `selfOut` target: an artifact under the
    * current round's name (e.g. left by a killed earlier run whose
    * forked JVM outlived its pipeline) would otherwise become its own
    * baseline and silently mute every mover. */
  private[graft] def prevArtifact(selfOut: Option[String] = None)
      : Option[java.nio.file.Path] = prevArtifacts(selfOut).headOption

  /** All candidate baselines, best-first: the explicit
    * SPARK_GRAFT_BENCH_BASELINE (if set and present), then the
    * committed `bench_full_r<N>.json` copies newest-first — the head is
    * the per-round mover baseline (the old [[prevArtifact]] contract),
    * the first 3 feed the cumulative min-of-recent-rounds guard. */
  private[graft] def prevArtifacts(selfOut: Option[String] = None)
      : Seq[java.nio.file.Path] = {
    val self = selfOut.map(o =>
      java.nio.file.Paths.get(o).toAbsolutePath.normalize)
    val env = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      .map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
    val rx = """bench_full_r(\d+)\.json""".r
    val committed = Option(new java.io.File(".").listFiles())
      .getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case rx(n) => Some(n.toInt -> f.toPath)
        case _ => None
      })
      .filterNot { case (_, p) =>
        self.contains(p.toAbsolutePath.normalize) }
      .sortBy(-_._1).map(_._2).toSeq
    env.toSeq ++ committed.filterNot(p => env.exists(e =>
      e.toAbsolutePath.normalize == p.toAbsolutePath.normalize))
  }

  /** Mover trigger: either direction past 1.5× (was 2× through round
    * 16 — pipe_dedup_e2e's 1.94× drift slid under it unadjudicated). */
  private val MoverRatio = 1.5

  /** The cumulative movers: queries whose current reading exceeds
    * 1.5× the MIN across the given recent artifacts' per-query maps
    * (name → (current, min)). Regression-only by design. */
  private[graft] def cumMoversOf(cur: Map[String, Double],
      recent: Seq[Map[String, Double]]): Map[String, (Double, Double)] = {
    val minQ = recent.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(math.min)
    cur.flatMap { case (n, c) =>
      minQ.get(n).filter(m => m > 0.0 && !c.isNaN && c > m * MoverRatio)
        .map(m => n -> (c, m))
    }
  }

  private[graft] def moved(cur: Double, prev: Double): Boolean =
    ratioOf(cur, prev) > MoverRatio

  /** Symmetric drift severity: max(cur/prev, prev/cur), 1.0 when either
    * side is unusable (NaN / nonpositive — never a mover). */
  private[graft] def ratioOf(cur: Double, prev: Double): Double =
    if (cur.isNaN || prev.isNaN || prev <= 0.0 || cur <= 0.0) 1.0
    else math.max(cur / prev, prev / cur)

  /** The top-level JSON object under `key` with balanced braces — the
    * stored object nests one level, so the flat `[^}]*` pluck that
    * suffices for `queries` would truncate it. */
  private[graft] def pluckObject(txt: String, key: String): Option[String] = {
    val k = "\"" + key + "\":"
    val i = txt.indexOf(k)
    val start = if (i < 0) -1 else txt.indexOf('{', i + k.length)
    if (start < 0) None
    else {
      var depth = 0; var j = start; var end = -1
      while (j < txt.length && end < 0) {
        txt.charAt(j) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = j
          case _ =>
        }
        j += 1
      }
      if (end < 0) None else Some(txt.substring(start, end + 1))
    }
  }

  /** The flat `"queries":{…}` object of a bench artifact. */
  private[graft] def prevQueries(p: java.nio.file.Path): Map[String, Double] = {
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    pluckObject(txt, "queries").fold(Map.empty[String, Double]) { body =>
      """"([^"]+)":([-0-9.eE+]+)""".r.findAllMatchIn(body)
        .map(x => x.group(1) -> x.group(2).toDouble).toMap
    }
  }

  /** The previous artifact's `"stored":{…}` init/serve split — the leg
    * basis the round-17 audit diffs (an init-dominated total can hide a
    * doubled serve leg, and vice versa). Unparseable legs → NaN. */
  private[graft] def prevStored(p: java.nio.file.Path): Map[String, (Double, Double)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    pluckObject(txt, "stored").fold(Map.empty[String, (Double, Double)]) { body =>
      """"([^"{]+)":\{"init_s":([^,]+),"serve_s":([^}]+)\}""".r
        .findAllMatchIn(body)
        .map(m => m.group(1) ->
          (m.group(2).toDoubleOption.getOrElse(Double.NaN),
            m.group(3).toDoubleOption.getOrElse(Double.NaN)))
        .toMap
    }
  }

  /** Isolated median-of-3 re-measures for every mover vs the previous
    * artifact — total-ratio movers plus `legMoverNames` (stored-family
    * queries whose init or serve leg tripped [[moved]]) — capped at the
    * 8 worst (a pathological round must not double the bench); returns
    * name → (suite_s, prev_s, isolated_s, isolated init/serve legs for
    * stored-family names). */
  private def moverIsolated(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      suite: Map[String, Double], prev: Map[String, Double],
      legSeverity: Map[String, Double],
      cumSeverity: Map[String, Double] = Map.empty)
      : Map[String, (Double, Double, Double, Option[(Double, Double)])] = {
    if (prev.isEmpty && legSeverity.isEmpty && cumSeverity.isEmpty)
      return Map.empty
    val totalMovers = suite.toSeq
      .flatMap { case (n, s) => prev.get(n).map(p => (n, ratioOf(s, p))) }
      .filter { case (_, r) => r > MoverRatio }
    val totalNames = totalMovers.map(_._1).toSet
    // Cumulative movers join the re-measure queue too — the isolated
    // median is exactly the load-vs-plan adjudication basis the
    // cum_movers section needs, and a cum mover is by construction not
    // (necessarily) a per-round mover.
    val ranked = (totalMovers.map { case (n, r) =>
        n -> Seq(r, legSeverity.getOrElse(n, 1.0),
          cumSeverity.getOrElse(n, 1.0)).max } ++
        legSeverity.filterNot { case (n, _) => totalNames(n) }
          .map { case (n, r) =>
            n -> math.max(r, cumSeverity.getOrElse(n, 1.0)) }.toSeq ++
        cumSeverity.filterNot { case (n, _) =>
          totalNames(n) || legSeverity.contains(n) }.toSeq)
      .filter { case (n, _) => queries.contains(n) }
      .distinct.sortBy(-_._2)
    val kept = ranked.take(8)
    if (ranked.size > kept.size)
      System.err.println(s"[bench] mover audit capped at 8 of ${ranked.size}")
    kept.map { case (n, _) =>
      val s = suite.getOrElse(n, Double.NaN)
      val p = prev.getOrElse(n, Double.NaN)
      System.err.println(f"[bench] mover $n: suite $s%.2f vs prev $p%.2f — isolated re-measure")
      val (res, st, _) = run(spark, sfDir, Map(n -> queries(n)), runs = 3,
        SparkEntry.phasedQueries)
      n -> (s, p, res.headOption.map(_._2).getOrElse(Double.NaN), st.get(n))
    }.toMap
  }

  /** Inter-query state sweep. The suite shares one JVM across ~115
    * queries × `runs` passes, and the localCheckpoint-heavy queries
    * (`x_admit_incremental`, `pipe_dedup_e2e`, `x_dup_components`,
    * `x_index_refresh`) pin their checkpoint RDD blocks in the block
    * manager until driver GC happens to collect them — which inflated
    * whichever queries ran next alphabetically, drifting their in-suite
    * numbers round over round while isolated medians stayed flat.
    * Unpersisting every persistent RDD and clearing the SQL cache after
    * each timed run (untimed: outside the clock) starts every
    * measurement from an empty block manager. `keep` spares a harness's
    * own pinned RDDs ([[ScaleCurve]]): a local checkpoint is not
    * recomputable. */
  private[graft] def sweep(spark: SparkSession, keep: collection.Set[Int] = Set.empty): Unit = {
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !keep.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Timed passes over `queries`: per-query median of `runs` wall times,
    * plus an explicit failure map — a crashed query is excluded from the
    * timings (never recorded as ~0 s) and reported by name.
    *
    * Stored-family queries ([[SparkEntry.phasedQueries]]) time their
    * store-build (`init`) and probe (`serve`) phases SEPARATELY each
    * pass — their totals are init-dominated, which every round's mover
    * audit had to re-separate from host noise by hand (BASELINE.md
    * r13/r14); the per-query number recorded for them is init + serve,
    * so the headline total stays comparable with earlier rounds, and
    * the split medians come back in the second return slot. */
  def run(spark: SparkSession, sfDir: String,
          queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
          runs: Int,
          // The phased registry to consult for split timings — EXPLICIT
          // opt-in, default empty: a colliding name here replaces the
          // plain function with the phased definition, so a caller
          // timing a CUSTOM variant under a registry name would be
          // silently ignored if the registry were the default. Callers
          // timing the registry's own queries (main, the driver path)
          // pass SparkEntry.phasedQueries alongside SparkEntry.queries —
          // the two are built from the SAME definitions by construction
          // (queries' entry IS fused(phased) for every phased name).
          phasedAll: Map[String, QShared.Phased] = Map.empty)
      : (Seq[(String, Double)], Map[String, (Double, Double)], Map[String, String]) = {
    val phased = phasedAll.filter { case (n, _) => queries.contains(n) }
    val names = queries.keys.toSeq.sorted
    val timings = collection.mutable.Map.empty[String, List[Double]]
    val initT = collection.mutable.Map.empty[String, List[Double]]
    val serveT = collection.mutable.Map.empty[String, List[Double]]
    val failures = collection.mutable.Map.empty[String, String]
    sweep(spark) // warmup queries may have left state too
    for (_ <- 1 to runs; name <- names if !failures.contains(name)) {
      // noop sink forces full evaluation of every output column (a bare
      // count() would let Catalyst prune the computation under test).
      try {
        phased.get(name) match {
          case Some(p) =>
            val (init, serve) = p(spark, sfDir)
            val t0 = System.nanoTime()
            init()
            val t1 = System.nanoTime()
            serve().write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            initT(name) = ((t1 - t0) / 1e9) :: initT.getOrElse(name, Nil)
            serveT(name) = ((t2 - t1) / 1e9) :: serveT.getOrElse(name, Nil)
            timings(name) = ((t2 - t0) / 1e9) :: timings.getOrElse(name, Nil)
          case None =>
            val t0 = System.nanoTime()
            queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            timings(name) = ((System.nanoTime() - t0) / 1e9) :: timings.getOrElse(name, Nil)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e")
          failures(name) = e.toString.takeWhile(_ != '\n').take(200)
          timings.remove(name); initT.remove(name); serveT.remove(name)
      }
      sweep(spark)
    }
    def median(xs: List[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    val stored = initT.keys.map(n => n -> (median(initT(n)), median(serveT(n)))).toMap
    (names.filter(timings.contains).map(n => n -> median(timings(n))), stored, failures.toMap)
  }
}
