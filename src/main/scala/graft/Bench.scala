package graft

/** Driver-run benchmark: times every registered query at
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line on stdout
  * (stdout is forwarded verbatim — build.sbt sets run/outputStrategy).
  *
  * Transport contract (round-4 lesson, re-broken by registry growth in
  * round 6): the driver tail-captures the LAST ~2000 bytes of stdout
  * and parses the last line as JSON — a bulky line gets its HEAD
  * (including `"metric"`) clipped and the round loses its bench grade.
  * At 82 queries the embedded per-query map alone was ~2.8 KB, so
  * stdout now carries ONLY the registry-size-INDEPENDENT summary
  * (metric/value/totals/n_runs/failed-count/sf — [[stdoutLine]],
  * asserted under the clip budget by BenchLineSpec); the per-query
  * best times and the per-run times maps — both O(registry) — go to
  * stderr, printed BEFORE the stdout line. Errors are capped at
  * [[MaxErrorsInline]] entries (the rest are counted, and all of them
  * land on stderr) so even a mass failure cannot re-clip the line.
  *
  * A warmup pass at the smallest scale factor runs first (unless
  * SPARK_GRAFT_WARMUP=0): it pays JIT/codegen/classloader costs once so
  * the timed pass measures query execution, not JVM ramp — round 1's
  * first-timed query carried ~5s of warmup noise.
  *
  * Per-query policy lives on the query: [[Q.tier]] decides how it is
  * warmed and how many timed runs it gets (see [[Tier]]), and
  * [[Q.core]] decides whether it counts toward `core_total`.
  */
object Bench {

  /** Error entries inlined into the stdout summary; the full map is on
    * stderr. Messages are truncated to [[InlineErrorChars]] chars
    * before escaping, so even pathological all-escaping messages keep
    * the line hundreds of bytes under the driver's tail window.
    */
  val MaxErrorsInline = 3
  val InlineErrorChars = 60


  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  /** The driver-parsed stdout line. Every field is either scalar or
    * bounded ([[MaxErrorsInline]]) — its length must NOT grow with the
    * registry (BenchLineSpec pins this with a worst-case failure set).
    */
  private[graft] def stdoutLine(total: Double, coreTotal: Double,
      nRuns: Int, failures: Seq[(String, String)], sfDir: String): String = {
    val failedJson = failures.map(f => jsonStr(f._1))
      .take(MaxErrorsInline).mkString("[", ",", "]")
    val errorsJson = failures.take(MaxErrorsInline)
      .map { case (n, e) => jsonStr(n) + ":" + jsonStr(e.take(InlineErrorChars)) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","core_total":$coreTotal,"extension_total":${total - coreTotal},"n_runs":$nRuns,"n_failed":${failures.size},"failed":$failedJson,"errors":$errorsJson,"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val mainT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Timed action: write to the no-op sink, NOT count(). Under count()
    // Catalyst legally deletes the measured work for projection-only
    // pipelines (EliminateSorts drops a trailing orderBy, ColumnPruning
    // drops every projected expression), so text and multimodal
    // projections would bench as bare parquet row-counts. The noop sink
    // consumes every row and column, forcing full evaluation while
    // writing nothing.
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // dev-only subset knob (the ScalingBench convention): the driver
    // never sets it, so its runs time the full registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // keyed like SparkEntry.queries, so queries run in the same order
    val queries = Registry.all.map(q => q.name -> q).toMap
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val warmupDir = "/root/testdata/sf0.001"
    val warmT0 = System.nanoTime()
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0" &&
        new java.io.File(warmupDir).isDirectory) {
      // BOTH warmup passes cover every MULTI-RUN query (round-9
      // verdict: single-warmup runs left 3-9x per-run spread on the
      // fast core queries — the second pass catches codegen/
      // classloader tails the first one triggered but didn't finish
      // absorbing; a round-16 attempt to skip pass 2 by pass-1 time
      // mis-fired, because pass-1 times are COLD times — a class of
      // core queries benched uniformly 4-6x slow, stuck in a lower JIT
      // tier all session). The Once tier skips warmup ENTIRELY
      // (round-16 wall-budget trim): those arms are measured once and
      // work-dominated (3-8 s of training/truth legs at the timed
      // SF), so the one-time plan-codegen cost their single run now
      // carries is bounded noise (~0.1-0.3 s) — and a deployment's
      // only run of a training job pays it too.
      // warmup failures are LOGGED, never swallowed silently (round-14
      // ADVICE): a query that fails here still gets measured below
      // (where its error is fatal to the bench), but a failed
      // artifact-warm build would silently shift the one-time build
      // cost into the first measured run — the log makes that visible
      def warmExec(q: Q, dir: String): Unit =
        try exec(q.fn(spark, dir)) catch {
          case t: Throwable => System.err.println(
            s"warmup failed: ${q.name} @ $dir: ${t.getClass.getSimpleName}: " +
              Option(t.getMessage).getOrElse("").take(160))
        }
      // CONCURRENT warmup (round-18 ask #5): warmup exists to absorb
      // JIT/codegen/classloader ramp, not to measure — so its queries
      // need not run one at a time. At sf0.001 each query is
      // work-tiny but latency-bound (~1 s of driver/plan/stage
      // round-trips), so a small pool overlaps those latencies on the
      // idle local[32] executor threads and cuts the warmup wall ~Nx
      // without changing WHAT gets warmed (every query still
      // executes, twice). Spark sessions are thread-safe for
      // concurrent actions; the STORED-ARTIFACT queries are excluded
      // from the pool — two ensureFrame calls racing on one artifact
      // dir (two loaded queries share the refined-graph dir) could
      // interleave a parquet overwrite — and warm serially below.
      def warmMany(qs: Iterable[Q], dir: String): Unit = {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try {
          val tasks = qs.map { q =>
            pool.submit(new Runnable {
              def run(): Unit = warmExec(q, dir)
            })
          }
          tasks.foreach(_.get())
        } finally pool.shutdown()
      }
      (1 to 2).foreach { _ =>
        warmMany(queries.values.filter(_.tier == Tier.Steady), warmupDir)
        // the artifact probers build their sf0.001 artifacts here —
        // serial, for the shared-dir reason above
        queries.values.filter(_.tier.stored)
          .foreach(warmExec(_, warmupDir))
        spark.catalog.clearCache()
      }
      // stored-artifact queries build their ModelStore artifact on the
      // first run against a data dir; build it HERE, at the timed dir,
      // so every measured run is a steady-state probe — the artifact
      // outlives any single query in a deployment, and warmup is the
      // phase that exists to pay one-time costs outside the measurement
      queries.values.filter(_.tier.stored)
        .foreach(warmExec(_, sfDir))
      spark.catalog.clearCache()
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9

    // best-of-N steady-state timing (N = SPARK_GRAFT_RUNS, default 3,
    // clamped to >= 1 — a junk env value must not kill the bench line):
    // the warmup pass above paid JIT and classloading; the min of the
    // measured runs drops residual GC / scheduler / page-cache noise
    // from the reported figure. Queries whose min still exceeds 1 s get
    // up to N extra runs — the heavy pair miners swing ~2x under
    // ambient load on a shared box, and a wider sample keeps the
    // round-over-round comparison measuring the code, not the neighbor.
    //
    // Failures are NOT swallowed: a throwing query would otherwise
    // bench as ~0 s and read as a speedup. Each query records its
    // error; failed queries are EXCLUDED from value/queries/totals (a
    // near-zero wall time for a crash must not read as a speedup), the
    // JSON carries "failed"/"errors", and the process exits nonzero.
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val results = queries.map { case (name, q) =>
      var err: Option[String] = None
      def timed(): Double = {
        // per RUN (which also covers per-query): pair miners persist
        // candidate / signature frames internally and CacheManager
        // matches re-built plans by canonical form, so without this the
        // 2nd+ runs of a cached-artifact query time cache hits instead
        // of the operator — and stale blocks would distort later
        // queries via memory pressure
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { exec(q.fn(spark, sfDir)) } catch {
          case t: Throwable =>
            err = Some((t.getClass.getSimpleName + ": " +
              Option(t.getMessage).getOrElse("")).take(160))
        }
        (System.nanoTime() - t0) / 1e9
      }
      val once = q.tier == Tier.Once
      val wide = q.tier == Tier.StoredWide
      val base =
        if (once) Seq(timed())
        else (1 to runs).map(_ => timed())
      // extra-run policy (round-9 verdict, retuned rounds 14 and 17):
      // widen the sample for NOISY queries — ones whose base runs
      // disagree by more than 2x — not for merely SLOW ones. The
      // round-13 tail shows the old unconditional min>0.25s widening
      // spent 6.7 min of the 24.7-min wall re-running heavy queries
      // whose runs already agreed within ~20% (an in-plan retrieval
      // arm at spread 1.2 → 3 extra runs bought nothing); the spread trigger
      // (tightened 3x → 2x) keeps the extra samples exactly where
      // min-of-N needs them. Round-17 retune: FAST queries
      // (min ≤ 0.3 s) never widen — under ambient host load the
      // spread trigger fired on 33 queries (188.8 s of reruns,
      // BENCHQ_r17), most of them sub-second ones whose min was
      // already stable to ~10%; scheduler noise on a 0.2 s query is
      // spread without information. And the spread trigger widens
      // ONCE, not twice: in BENCHQ_r17's ambient sample 32 queries
      // took the second widening (90.1 s of wall) and not one min
      // moved more than ~8% — persistent ambient spread re-triggers
      // forever without converging, and the first widening already
      // doubled the sample. Only the StoredWide tier (whose FIRST
      // run builds an artifact by design) keeps its guaranteed 3N.
      def spread(ts: Seq[Double]): Double =
        ts.max / math.max(ts.min, 1e-9)
      var times = base
      if (err.isEmpty && !once &&
          (wide || (spread(times) > 2.0 && times.min > 0.3)))
        times = times ++ (1 to runs).map(_ => timed())
      if (err.isEmpty && wide)
        times = times ++ (1 to runs).map(_ => timed())
      (name, times, err)
    }
    val ok = results.filter(_._3.isEmpty)
    val best = ok.map { case (name, times, _) => name -> times.min }
    val qs = best.map { case (k, v) => jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")
    val runsJson = results.map { case (name, times, _) =>
      jsonStr(name) + ":" + times.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failures = results.collect { case (name, _, Some(e)) => name -> e }.toSeq
    val total = if (best.nonEmpty) best.map(_._2).sum else 0.0
    // reference-surface queries (t1..t10 + events analogs) vs the
    // extension families — lets the harness compare the reference
    // surface against BASELINE directly
    val core = best.filter { case (k, _) => queries(k).core }
    val coreTotal = if (core.nonEmpty) core.map(_._2).sum else 0.0
    // diagnostic O(registry) maps — per-query best times, per-run
    // times, the FULL error map: stderr, BEFORE the stdout line, so
    // the driver's stdout tail-capture sees only the bounded summary
    val allErrorsJson = failures
      .map { case (n, e) => jsonStr(n) + ":" + jsonStr(e) }
      .mkString("{", ",", "}")
    System.err.println(s"""{"bench_queries":$qs}""")
    System.err.println(s"""{"bench_runs":$runsJson}""")
    System.err.println(s"""{"bench_errors":$allErrorsJson}""")
    // DURABLE per-query artifact (stderr scrolls past the driver's tail
    // window; rounds 7-8 lost every per-query number to it). One file,
    // registry-complete: best times, all run samples, the FULL
    // failed-query list and error map — committed per round as
    // BENCHQ_r{N}.json so round-over-round perf diffs never depend on
    // the 2000-byte stdout tail again. Best-effort: an unwritable path
    // must not kill the bench line.
    val benchqPath = sys.env.getOrElse("SPARK_GRAFT_BENCHQ",
      "target/bench_queries.json")
    val failedAllJson = failures.map(f => jsonStr(f._1))
      .mkString("[", ",", "]")
    // wall accounting (round 16): warmup_sec is the pre-measurement
    // phase, wall_sec is the whole main() so far — the two let a
    // reader split the bench wall into warmup / measured / overhead
    // without re-deriving it from run arrays
    val wallSec = (System.nanoTime() - mainT0) / 1e9
    val benchq =
      s"""{"sf":${jsonStr(sfDir)},"n_runs":$runs,"total":$total,"core_total":$coreTotal,"warmup_sec":$warmupSec,"wall_sec":$wallSec,"best":$qs,"runs":$runsJson,"failed":$failedAllJson,"errors":$allErrorsJson}"""
    try {
      val p = java.nio.file.Paths.get(benchqPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p,
        benchq.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"benchq write failed: $t")
    }
    println(stdoutLine(total, coreTotal, runs, failures, sfDir))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
